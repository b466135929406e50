package graft.queries

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.{TestScratch, TestSpark}

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
}
