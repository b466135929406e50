package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Z-order (Morton) clustered layout for two-dimensional pruning — the
  * lakehouse OPTIMIZE ZORDER technique re-expressed with nothing but
  * hive partitioning: quantize two columns to `bitsPerDim` bits each,
  * interleave them into a Morton bucket, and write the table
  * partitioned by that bucket. A 2-D range query then enumerates the
  * buckets whose cell intersects the query rectangle — a driver-side
  * loop over all 2^(2·bitsPerDim) buckets, configuration-sized by
  * construction — and reads with `isin(buckets)`, which Spark prunes
  * at PLANNING time as directory-level PartitionFilters: a rectangle
  * covering 1/16 of the key space opens ~1/16 of the directories (plus
  * boundary cells), the rest are never listed, at any table size.
  *
  * Correctness does not depend on the pruning: the bucket set is a
  * superset of the rectangle (whole cells), and the original predicate
  * is re-applied as a residual filter — so a bucket-enumeration bug
  * can only over-read, never drop rows, and the f05 oracle pins the
  * end-to-end result against the unclustered table.
  *
  * Both dims must be in [0, max]; quantization is integer arithmetic
  * (`v · 2^bits div (max+1)`), bit-identical in any engine.
  */
object ZOrder {

  /** Morton-interleave two already-quantized values of `bitsPerDim`
    * bits each: x occupies even bit positions, y odd. */
  def interleaveBits(x: Column, y: Column, bitsPerDim: Int): Column =
    (0 until bitsPerDim).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(x, i).bitwiseAND(1), 2 * i))
        .bitwiseOR(shiftleft(shiftright(y, i).bitwiseAND(1), 2 * i + 1))
    }

  /** The Morton bucket of (`xCol`, `yCol`) given each dim's max.
    * Integral `div`, not Column./ (which widens longs to double —
    * the Packing prefix-sum lesson). Negative inputs fail LOUDLY at
    * write time (the stripDuplicatedSpans pattern): a negative value
    * would sign-extend into a garbage bucket that readPruned's
    * enumerated cover never includes — silently dropping rows —
    * whereas values above max merely clamp into the top cell, which
    * the residual filter handles. */
  def zBucket(xCol: String, yCol: String, xMax: Long, yMax: Long,
      bitsPerDim: Int = 4): Column = {
    val lim = (1L << bitsPerDim) - 1
    def quantized(c: String, max: Long): Column = least(lit(lim), expr(
      s"(CASE WHEN `$c` < 0 THEN CAST(raise_error(concat(" +
        s"'zBucket: negative $c ', CAST(`$c` AS STRING), " +
        s"' falls outside every enumerable cell')) AS BIGINT) " +
        s"ELSE `$c` END * ${1L << bitsPerDim}L) div ${max + 1}L"))
    interleaveBits(quantized(xCol, xMax), quantized(yCol, yMax), bitsPerDim)
  }

  /** Write `df` hive-partitioned by the Morton bucket of (xCol, yCol).
    *
    * Task-aligned to the buckets (the BucketedStore.save lesson,
    * measured in SCALING.md "Vault loads"; guide §6): without the
    * repartition every write task holds rows of ~all 2^(2·bitsPerDim)
    * buckets and emits one file PER (task × bucket) — at 32 tasks and
    * the default 256 buckets that is up to 8,192 small files per
    * write, and at cluster scale a T×256 file explosion. Hashing each
    * bucket to one task caps the layout at one file per bucket; the
    * alignment exchange is the standard price of a clustered write
    * (the Iceberg hash distribution mode) and measured CHEAPER than
    * the small-file creation it avoids even single-node. */
  def writeZOrdered(df: DataFrame, path: String, xCol: String, yCol: String,
      xMax: Long, yMax: Long, bitsPerDim: Int = 4): Unit =
    df.withColumn("z_bucket", zBucket(xCol, yCol, xMax, yMax, bitsPerDim))
      .repartition(col("z_bucket"))
      .write.mode("overwrite").partitionBy("z_bucket").parquet(path)

  /** All buckets whose cell intersects the rectangle
    * [xRange._1, xRange._2] × [yRange._1, yRange._2] (inclusive).
    * A loop over 2^(2·bitsPerDim) cells — configuration-sized. */
  def intersectingBuckets(xRange: (Long, Long), yRange: (Long, Long),
      xMax: Long, yMax: Long, bitsPerDim: Int = 4): Seq[Long] = {
    val lim = (1L << bitsPerDim) - 1
    def q(v: Long, max: Long): Long = math.min(lim, v * (1L << bitsPerDim) / (max + 1))
    val (qx1, qx2) = (q(xRange._1, xMax), q(xRange._2, xMax))
    val (qy1, qy2) = (q(yRange._1, yMax), q(yRange._2, yMax))
    (0L until (1L << (2 * bitsPerDim))).filter { b =>
      var x = 0L; var y = 0L
      (0 until bitsPerDim).foreach { i =>
        x |= ((b >> (2 * i)) & 1) << i
        y |= ((b >> (2 * i + 1)) & 1) << i
      }
      x >= qx1 && x <= qx2 && y >= qy1 && y <= qy2
    }
  }

  /** Read a z-ordered layout for a 2-D range query: directory pruning
    * via the intersecting-bucket set, then the exact residual filter. */
  def readPruned(spark: SparkSession, path: String, xCol: String,
      yCol: String, xRange: (Long, Long), yRange: (Long, Long),
      xMax: Long, yMax: Long, bitsPerDim: Int = 4): DataFrame = {
    val buckets = intersectingBuckets(xRange, yRange, xMax, yMax, bitsPerDim)
    spark.read.parquet(path)
      .filter(col("z_bucket").isin(buckets: _*))
      .filter(col(xCol).between(xRange._1, xRange._2) &&
        col(yCol).between(yRange._1, yRange._2))
  }
}
