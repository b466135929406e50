package graft.queries

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.BucketedStore

/** The one replay feed behind every streamed gate (w02–w16). The
  * reference's "stream" is ordered CDC batches replayed through
  * anti-join + append loaders; the gates prove those loaders stay
  * exactly-once under at-least-once replay. This object owns how a
  * gate feeds its slices and how it proves the replay actually ran:
  *
  *  - [[writeFeed]] writes each slice as ONE parquet file with a
  *    pinned modification time (the file source schedules oldest
  *    first, so slice order — replays included — is the feed order);
  *  - [[replay]] streams that feed one file per micro-batch through
  *    `CdcStream.foreachBatchLoader` under `AvailableNow`;
  *  - [[requireBatches]] is the non-vacuity check: a gate whose
  *    replayed slice never arrived as its own non-empty micro-batch
  *    tests nothing, even when its hash still matches, so it fails
  *    loudly instead.
  *
  * Two scripts recur across the gates and are written once here:
  * [[residueSlices]] (three `id % 3` slices, then slice 0 redelivered)
  * and [[compactingAfterSecond]] (compact the persisted artifact once,
  * under live traffic, right after the second delivery).
  *
  * [[guardedQuarters]] slices the gates that cut on a timestamp
  * (w05/w06): quarter the [min, max] of a millisecond column with ONE
  * aggregate — O(1) driver memory at any corpus size — and assert in
  * the same job that every quarter is non-empty.
  * Arithmetic quarters can yield an empty middle slice under timestamp
  * skew (or max − min < 4); an empty slice never fires a micro-batch,
  * so the batch-count check would fail spuriously or the replay claim
  * would silently weaken. The guard makes a degenerate fixture fail
  * HERE, directed, before anything is written. */
object StreamSlices {

  /** Write `slices` under `$loc/feed` as `slice-<i>.parquet`, one file
    * each (`coalesce(1)`), modification times one minute apart in
    * slice order. Returns the feed directory. A slice with no rows may
    * leave no file at all; [[requireBatches]] then reports it. */
  def writeFeed(loc: String, slices: Seq[DataFrame]): String = {
    val feed = s"$loc/feed"
    Files.createDirectories(new File(feed).toPath)
    val mt0 = System.currentTimeMillis() - 3600000L
    slices.zipWithIndex.foreach { case (df, i) =>
      val tmp = s"$loc/tmp_slice-$i"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      new File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet"))
        .foreach { part =>
          val dst = new File(s"$feed/slice-$i.parquet")
          Files.move(part.toPath, dst.toPath,
            StandardCopyOption.REPLACE_EXISTING)
          dst.setLastModified(mt0 + i * 60000L)
        }
    }
    feed
  }

  /** Fail unless `q` ran exactly `n` non-empty micro-batches. Input
    * rows are counted as the sink reads them, so a foreachBatch load
    * that never evaluates its batch counts as empty too. */
  def requireBatches(q: StreamingQuery, n: Int, tag: String): Unit = {
    val batches = q.recentProgress.count(_.numInputRows > 0)
    require(batches == n,
      s"$tag expected $n non-empty micro-batches (one per slice, " +
        s"replays included), saw $batches — an empty slice or a " +
        "skipped file leaves the replay untested")
  }

  /** Write `slices` as a feed under `loc`, stream it one file per
    * micro-batch through `load`, wait for the stream to drain, and
    * require one non-empty micro-batch per slice. Every slice must
    * share `slices.head`'s schema. */
  def replay(s: SparkSession, loc: String, tag: String,
      slices: Seq[DataFrame])(load: DataFrame => Unit): Unit = {
    val feed = writeFeed(loc, slices)
    val stream = s.readStream.schema(slices.head.schema)
      .option("maxFilesPerTrigger", 1).parquet(feed)
    val q = graft.streaming.CdcStream.foreachBatchLoader(stream)(load)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    requireBatches(q, slices.size, tag)
  }

  /** `rows` as the feed of an id-sliced gate: the three `id % 3`
    * residue slices in order, then slice 0 again — the at-least-once
    * redelivery the gate must absorb. */
  def residueSlices(rows: DataFrame, id: String): Seq[DataFrame] =
    (Seq(0, 1, 2) :+ 0).map(i => rows.filter(col(id) % 3 === i))

  /** `load`, followed once — right after the second delivery — by
    * `compact` on that batch's session: compaction under live traffic,
    * so the next slice appends against, and the replay's idempotence
    * lookups read, the compacted files. Refuses unless the compaction
    * left `table` with `0 < files <= buckets` (its catalog bucket
    * count) and no more files than it found. */
  def compactingAfterSecond(tag: String, table: String)(
      compact: SparkSession => Unit)(
      load: DataFrame => Unit): DataFrame => Unit = {
    val delivered = new AtomicInteger(0)
    batch => {
      load(batch)
      if (delivered.incrementAndGet() == 2) {
        val bs = batch.sparkSession
        val buckets =
          BucketedStore.catalogLayout(bs, table).fold(0)(_.buckets)
        val before = BucketedStore.fileCount(bs, table)
        compact(bs)
        val after = BucketedStore.fileCount(bs, table)
        require(after > 0 && after <= buckets && after <= before,
          s"$tag: mid-stream compaction must bound $table to one file " +
            s"per bucket (buckets=$buckets, before=$before, after=$after)")
      }
    }
  }

  /** `df` in four ascending quarters of `ms`, each asserted non-empty
    * (two aggregate jobs: the min/max that places the cuts, then the
    * per-quarter counts; `df` should be persisted by the caller — it is
    * about to be sliced four ways). */
  def guardedQuarters(df: DataFrame, ms: Column, tag: String): Seq[DataFrame] = {
    val mnmx = df.agg(min(ms).as("mn"), max(ms).as("mx")).collect().head
    val (mn, mx) = (mnmx.getLong(0), mnmx.getLong(1))
    val bounds = Seq(mn + (mx - mn) / 4, mn + (mx - mn) / 2,
      mn + 3 * (mx - mn) / 4)
    val counts = df.agg(
      sum(when(ms < bounds(0), 1).otherwise(0)).as("q0"),
      sum(when(ms >= bounds(0) && ms < bounds(1), 1).otherwise(0)).as("q1"),
      sum(when(ms >= bounds(1) && ms < bounds(2), 1).otherwise(0)).as("q2"),
      sum(when(ms >= bounds(2), 1).otherwise(0)).as("q3"))
      .collect().head
    (0 until 4).foreach { i =>
      require(counts.getLong(i) > 0,
        s"$tag: arithmetic quarter $i of [min=$mn, max=$mx] is empty — " +
          "the fixture's timestamps are too skewed (or span < 4 ms) for " +
          "interpolated cuts, so the gate's multi-micro-batch replay " +
          "would be vacuous; use a fixture with spread timestamps or " +
          "switch this gate to quantile cuts")
    }
    Seq(df.filter(ms < bounds(0)),
      df.filter(ms >= bounds(0) && ms < bounds(1)),
      df.filter(ms >= bounds(1) && ms < bounds(2)),
      df.filter(ms >= bounds(2)))
  }
}
