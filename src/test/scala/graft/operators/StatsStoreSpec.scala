package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The log-structured additive-stats store (d56/w13): replay-neutral
  * by layout pre-compaction, by manifest post-compaction, self-healing
  * at every compaction crash window. */
class StatsStoreSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def dir(): String = graft.TestScratch.dir("stats-store")

  private def statsOf(rows: (String, Long)*) =
    rows.toDF("k", "cnt").groupBy("k").agg(sum("cnt").as("cnt"))

  private def read(path: String): Map[String, Long] =
    StatsStore.readStats(spark, path, Seq("k"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Where a compaction stages its rollup and its manifest. */
  private def baseStage(p: String) = StagedReplace.stageDir(
    new org.apache.hadoop.fs.Path(s"$p/delivery_id=${StatsStore.BasePartition}"))
  private def manifestStage(p: String) =
    StagedReplace.stageDir(new org.apache.hadoop.fs.Path(s"$p/_absorbed"))

  test("deliveries sum; replay is a no-op by layout; compaction preserves the rollup") {
    val p = dir()
    StatsStore.writeDelivery(p, "day1", statsOf("a" -> 2L, "b" -> 1L))
    StatsStore.writeDelivery(p, "day2", statsOf("a" -> 3L, "c" -> 5L))
    assert(read(p) == Map("a" -> 5L, "b" -> 1L, "c" -> 5L))
    // replay BEFORE compaction: the committed partition absorbs it —
    // even with different (wrong) content, nothing moves
    StatsStore.writeDelivery(p, "day1", statsOf("a" -> 999L))
    assert(read(p) == Map("a" -> 5L, "b" -> 1L, "c" -> 5L))
    StatsStore.compact(spark, p, Seq("k"))
    assert(read(p) == Map("a" -> 5L, "b" -> 1L, "c" -> 5L))
    // replay AFTER compaction: the partition is gone, the manifest
    // absorbs it — the exact double-count the verdict flagged
    StatsStore.writeDelivery(p, "day2", statsOf("a" -> 3L, "c" -> 5L))
    assert(read(p) == Map("a" -> 5L, "b" -> 1L, "c" -> 5L))
    // new deliveries keep folding in post-compaction
    StatsStore.writeDelivery(p, "day3", statsOf("b" -> 4L))
    assert(read(p) == Map("a" -> 5L, "b" -> 5L, "c" -> 5L))
    // second compaction folds base + day3
    StatsStore.compact(spark, p, Seq("k"))
    assert(read(p) == Map("a" -> 5L, "b" -> 5L, "c" -> 5L))
    StatsStore.writeDelivery(p, "day3", statsOf("b" -> 4L))
    assert(read(p) == Map("a" -> 5L, "b" -> 5L, "c" -> 5L))
    // THE NEGATIVE absorption cannot save you from: keying deliveries
    // by a streaming batchId. A redelivered file arrives under a
    // FRESH batchId, so the "replay" lands as a new partition and
    // double-counts — correct store behavior for a genuinely new id,
    // a silent corruption when the id was supposed to name the same
    // rows. Delivery ids must be content-derived (the w13
    // residue-class pattern; CdcStream.foreachBatchLoader doc).
    StatsStore.writeDelivery(p, "batch7-same-rows-as-day3",
      statsOf("b" -> 4L))
    assert(read(p) == Map("a" -> 5L, "b" -> 9L, "c" -> 5L),
      "a fresh id double-counts by design — batchId keying is the caller bug")
  }

  test("interrupted compaction: every crash window self-heals without loss or double count") {
    val p = dir()
    StatsStore.writeDelivery(p, "d1", statsOf("a" -> 1L))
    StatsStore.writeDelivery(p, "d2", statsOf("a" -> 2L))
    val want = Map("a" -> 3L)
    val root = new org.apache.hadoop.fs.Path(p)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    // window 1: crash after the manifest commit, before the base's
    // stage — simulate by appending the manifest by hand
    Seq("d1", "d2").toDF("delivery_id").write.mode("append")
      .parquet(s"$p/_absorbed")
    assert(read(p) == want, "manifest-only state must read unchanged")
    // a replay in this state is absorbed by the manifest AND its
    // partition still backs the counts — no loss
    StatsStore.writeDelivery(p, "d1", statsOf("a" -> 999L))
    assert(read(p) == want)
    // window 2: crash with an UNCOMMITTED stage — discarded on entry
    fs.mkdirs(baseStage(p))
    assert(read(p) == want)
    assert(!fs.exists(baseStage(p)),
      "an uncommitted stage must be discarded")
    // window 3: crash after the stage COMMITTED, before the swap —
    // stage the rollup by hand, plus a delivery that lands post-crash
    StatsStore.readStats(spark, p, Seq("k"))
      .write.mode("overwrite").parquet(baseStage(p).toString)
    StatsStore.writeDelivery(p, "late", statsOf("z" -> 7L))
    // the recovery (any entry point) promotes the stage, deletes only
    // the absorbed partitions, and keeps the late delivery
    assert(read(p) == Map("a" -> 3L, "z" -> 7L))
    assert(fs.exists(new org.apache.hadoop.fs.Path(
        s"$p/delivery_id=${StatsStore.BasePartition}")),
      "the staged base must have been promoted")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$p/delivery_id=d1")),
      "absorbed partitions must be superseded by the promoted base")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$p/delivery_id=late")),
      "a post-crash delivery must survive recovery")
  }

  test("crashed delivery write (no _SUCCESS) is redone; ids validated; metadata survives") {
    val p = dir()
    // a partition directory with data but no _SUCCESS marker: a
    // crashed write — the redelivery must redo it, not skip it
    val dead = new org.apache.hadoop.fs.Path(s"$p/delivery_id=d1")
    val fs = dead.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(dead)
    StatsStore.writeDelivery(p, "d1", statsOf("a" -> 4L))
    assert(read(p) == Map("a" -> 4L))
    intercept[IllegalArgumentException] {
      StatsStore.writeDelivery(p, "has space", statsOf("a" -> 1L))
    }
    intercept[IllegalArgumentException] {
      StatsStore.writeDelivery(p, "123", statsOf("a" -> 1L))  // no letter
    }
    intercept[IllegalArgumentException] {
      StatsStore.writeDelivery(p, StatsStore.BasePartition,
        statsOf("a" -> 1L))
    }
    // the scorers' config metadata survives store + rollup (the
    // lmStats/nbStats validation contract)
    val p2 = dir()
    val docs = Seq((1L, "x y z"), (2L, "x y")).toDF("doc_id", "text")
    StatsStore.writeDelivery(p2, "s0",
      TextAnalysis.lmStats(docs, "text", ctxBuckets = 64, pairBuckets = 256))
    val rolled = StatsStore.readStats(spark, p2, Seq("kind", "bucket"))
    val m = rolled.schema.fields.find(_.name == "cnt").get.metadata
    assert(m.getLong("ctxBuckets") == 64 && m.getLong("pairBuckets") == 256
      && m.getLong("order") == 2,
      s"cnt metadata must survive the store round-trip, got $m")
    // and the rollup equals the one-shot stats
    val oneShot = TextAnalysis.lmStats(docs, "text", 64, 256)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val got = rolled.collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == oneShot)
  }

  test("crashed delivery is never summed or absorbed: crash -> compact -> redeliver equals one-shot") {
    val p = dir()
    StatsStore.writeDelivery(p, "d1", statsOf("a" -> 1L))
    // crash d2 mid-write: partial part files visible, job never
    // committed (no _SUCCESS) — the r18 verdict's lead finding
    val d2 = new org.apache.hadoop.fs.Path(s"$p/delivery_id=d2")
    val fs = d2.getFileSystem(spark.sessionState.newHadoopConf())
    statsOf("a" -> 999L).write.parquet(d2.toString)
    fs.delete(new org.apache.hadoop.fs.Path(d2, "_SUCCESS"), false)
    // the crashed partial must be invisible to the rollup
    assert(read(p) == Map("a" -> 1L),
      "readStats must skip an uncommitted (crashed) delivery partition")
    // compact BEFORE the redelivery: the crash ordering that used to
    // absorb the partial and suppress the heal forever
    StatsStore.compact(spark, p, Seq("k"))
    assert(read(p) == Map("a" -> 1L))
    assert(fs.exists(d2),
      "compact must leave the crashed partition for its redelivery")
    val manifested = spark.read.parquet(s"$p/_absorbed")
      .collect().map(_.getString(0)).toSet
    assert(!manifested.contains("d2"),
      "compact must never manifest an uncommitted delivery id")
    // the healing redelivery redoes the crashed write whole
    StatsStore.writeDelivery(p, "d2", statsOf("a" -> 2L, "b" -> 3L))
    assert(read(p) == Map("a" -> 3L, "b" -> 3L),
      "the redelivery must heal the crashed write — rollup equals one-shot")
    StatsStore.compact(spark, p, Seq("k"))
    assert(read(p) == Map("a" -> 3L, "b" -> 3L))
  }

  test("manifest folds to one file per compact; interrupted folds self-heal") {
    val p = dir()
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def manifestFiles(): Int =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$p/_absorbed"))
        .count(st => st.isFile && !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith("."))
    def manifestIds(): Set[String] =
      spark.read.parquet(s"$p/_absorbed").collect()
        .map(_.getString(0)).toSet
    // three compact cycles: without the fold the manifest holds one
    // file per compact; with it, always exactly one
    for (i <- 1 to 3) {
      StatsStore.writeDelivery(p, s"d$i", statsOf("a" -> i.toLong))
      StatsStore.compact(spark, p, Seq("k"))
      assert(manifestFiles() == 1,
        s"after compact $i the manifest must be one file, got ${manifestFiles()}")
    }
    assert(manifestIds() == Set("d1", "d2", "d3"))
    assert(read(p) == Map("a" -> 6L))
    // window A: the manifest commit crashed with a COMMITTED stage
    // (full set), live still present — any entry promotes the stage
    manifestIds().toSeq.toDF("delivery_id").coalesce(1)
      .write.parquet(manifestStage(p).toString)
    StatsStore.writeDelivery(p, "d2", statsOf("a" -> 999L)) // replay: absorbed
    assert(!fs.exists(manifestStage(p)),
      "a committed fold stage must be promoted on the next entry")
    assert(manifestIds() == Set("d1", "d2", "d3") && read(p) == Map("a" -> 6L))
    // window B: an UNCOMMITTED fold stage is a crashed rewrite —
    // discarded, live manifest untouched
    fs.mkdirs(manifestStage(p))
    assert(read(p) == Map("a" -> 6L))
    assert(!fs.exists(manifestStage(p)),
      "an uncommitted fold stage must be discarded")
    assert(manifestIds() == Set("d1", "d2", "d3"))
  }
}
