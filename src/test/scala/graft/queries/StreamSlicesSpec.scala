package graft.queries

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.{TestScratch, TestSpark}
import graft.operators.Dedup

/** The replay feed every streamed gate shares: one micro-batch per
  * slice, delivered in slice order, and a replay that did not deliver
  * every slice as its own non-empty batch fails instead of passing. */
class StreamSlicesSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def slice(marker: Int, rows: Int) =
    (0 until rows).map(v => (marker, v)).toDF("marker", "v")

  test("replay delivers one micro-batch per slice, in slice order") {
    val seen = new ConcurrentLinkedQueue[Seq[Int]]()
    // markers out of numeric order: delivery must follow slice
    // position, not anything the rows sort by
    StreamSlices.replay(spark, TestScratch.dir("graft-slices"), "spec",
        Seq(slice(2, 3), slice(0, 5), slice(1, 4))) { b =>
      seen.add(b.select("marker").distinct().as[Int].collect().toSeq)
      ()
    }
    assert(seen.asScala.toSeq === Seq(Seq(2), Seq(0), Seq(1)))
  }

  test("replay with an empty slice fails the batch-count check") {
    val err = intercept[IllegalArgumentException] {
      StreamSlices.replay(spark, TestScratch.dir("graft-slices"), "spec",
          Seq(slice(0, 3), slice(1, 0), slice(2, 3))) { b => b.count(); () }
    }
    assert(err.getMessage.contains(
      "spec expected 3 non-empty micro-batches"), err.getMessage)
    assert(err.getMessage.contains("saw 2"), err.getMessage)
  }

  test("residueSlices: the three id % 3 slices, then slice 0 again") {
    val rows = (0L until 10L).toDF("id")
    val got = StreamSlices.residueSlices(rows, "id")
      .map(_.as[Long].collect().toSeq.sorted)
    assert(got === Seq(Seq(0L, 3L, 6L, 9L), Seq(1L, 4L, 7L),
      Seq(2L, 5L, 8L), Seq(0L, 3L, 6L, 9L)))
  }

  /** A 2-bucket keyed table holding keys 0..9 (one file per bucket). */
  private def keyedTable(name: String): String = {
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_keyed")
    val tbl = s"graft_keyed.$name"
    Dedup.buildKeyedTable((0L until 10L).toDF("k"), "k", tbl, buckets = 2)
    tbl
  }

  test("compactingAfterSecond: one compaction, right after the second of four deliveries") {
    val tbl = keyedTable("spec_mid_stream_compact")
    val events = new ConcurrentLinkedQueue[String]()
    val slices = StreamSlices.residueSlices(
      (10L until 22L).toDF("k"), "k")
    StreamSlices.replay(spark, TestScratch.dir("graft-slices"), "spec",
        slices)(
      StreamSlices.compactingAfterSecond("spec", tbl) { bs =>
        events.add("compact")
        Dedup.compactKeyedTable(bs, tbl, "k")
      } { b =>
        events.add(s"deliver ${b.select((col("k") % 3).cast("int"))
          .distinct().as[Int].collect().mkString}")
        Dedup.appendToKeyedTable(b, tbl, "k")
      })
    assert(events.asScala.toSeq === Seq("deliver 0", "deliver 1",
      "compact", "deliver 2", "deliver 0"))
    spark.catalog.refreshTable(tbl)
    assert(spark.table(tbl).count() === 22)
  }

  test("compactingAfterSecond refuses a compaction that leaves more files than buckets") {
    val tbl = keyedTable("spec_mid_stream_refuse")
    // a compaction that compacts nothing: two appends leave four files
    // in two buckets
    val load = StreamSlices.compactingAfterSecond("spec", tbl)(_ => ())(
      Dedup.appendToKeyedTable(_, tbl, "k"))
    load((10L until 20L).toDF("k"))
    val err = intercept[IllegalArgumentException] {
      load((20L until 30L).toDF("k"))
    }
    assert(err.getMessage.contains(
      s"spec: mid-stream compaction must bound $tbl to one file per " +
        "bucket (buckets=2"), err.getMessage)
  }
}
