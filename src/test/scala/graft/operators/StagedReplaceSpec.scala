package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** StagedReplace's one rule, pinned once for both forms: a committed
  * stage supersedes the live artifact, an uncommitted stage is
  * discarded. Every case runs against a directory artifact and a
  * catalog-table artifact through the same [[Form]]; the artifact
  * holds a set of ints. */
class StagedReplaceSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ints(xs: Seq[Int]): DataFrame = xs.toDF("v")
  private def set(df: DataFrame): Set[Int] = df.as[Int].collect().toSet

  /** A frame whose evaluation throws inside the write job. */
  private def failing(xs: Seq[Int]): DataFrame = {
    val boom = udf { (v: Int) =>
      if (v >= 0) throw new IllegalStateException("injected write failure")
      v
    }
    ints(xs).select(boom(col("v")).as("v"))
  }

  private trait Form {
    def writeLive(xs: Int*): Unit
    /** The stage a crash leaves once its write committed. */
    def writeStage(xs: Int*): Unit
    /** What a crash mid-write leaves: files, no commit. */
    def writeUncommittedStage(xs: Int*): Unit
    def dropLive(): Unit
    def heal(): Unit
    def replace(df: DataFrame): Unit
    def live: Option[Set[Int]]
    def stagePresent: Boolean
  }

  private class DirForm extends Form {
    val path = new Path(graft.TestScratch.dir("staged-replace"), "art")
    val stage = StagedReplace.stageDir(path)
    private val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    def writeLive(xs: Int*): Unit =
      ints(xs).write.mode("overwrite").parquet(path.toString)
    def writeStage(xs: Int*): Unit =
      ints(xs).write.mode("overwrite").parquet(stage.toString)
    def writeUncommittedStage(xs: Int*): Unit = {
      writeStage(xs: _*)
      fs.delete(new Path(stage, "_SUCCESS"), false); ()
    }
    def dropLive(): Unit = { fs.delete(path, true); () }
    def heal(): Unit = StagedReplace.healDir(spark, path)
    def replace(df: DataFrame): Unit =
      StagedReplace.replaceDir(spark, path)(s => df.write.parquet(s.toString))
    def live: Option[Set[Int]] =
      if (fs.exists(path)) Some(set(spark.read.parquet(path.toString)))
      else None
    def stagePresent: Boolean = fs.exists(stage)
  }

  private val tableIds = new java.util.concurrent.atomic.AtomicInteger

  private class TableForm extends Form {
    spark.sql("CREATE DATABASE IF NOT EXISTS staged_replace_spec")
    // mixed case, like the v2 raw vault's names: the catalog lowercases
    val table = s"staged_replace_spec.Art_${tableIds.incrementAndGet()}"
    val stage = StagedReplace.stageTable(spark, table)
    def writeLive(xs: Int*): Unit = {
      ints(xs).write.mode("overwrite").saveAsTable(table)
      BucketedStore.stampTableProps(spark, table, Map("graft.spec" -> "kept"))
    }
    def writeStage(xs: Int*): Unit =
      ints(xs).write.mode("overwrite").saveAsTable(stage)
    /** A failed `saveAsTable` registers nothing: only files at the
      * stage's managed location. */
    def writeUncommittedStage(xs: Int*): Unit =
      ints(xs).write.mode("overwrite").parquet(stageLocation.toString)
    def stageLocation: Path = new Path(spark.sessionState.catalog
      .defaultTablePath(spark.sessionState.sqlParser.parseTableIdentifier(stage)))
    def dropLive(): Unit = BucketedStore.dropTableAndLocation(spark, table)
    def heal(): Unit = StagedReplace.healTable(spark, table)
    def replace(df: DataFrame): Unit =
      StagedReplace.replaceTable(spark, table)(df.write.saveAsTable(_))
    def live: Option[Set[Int]] =
      if (spark.catalog.tableExists(table)) Some(set(spark.table(table)))
      else None
    def stagePresent: Boolean = spark.catalog.tableExists(stage)
    def stamp: Option[String] = BucketedStore.tableProp(spark, table, "graft.spec")
  }

  /** Run `body` once per form, on a fresh artifact. */
  private def eachForm(body: Form => Unit): Unit =
    Seq[(String, () => Form)]("directory" -> (() => new DirForm),
        "table" -> (() => new TableForm))
      .foreach { case (name, make) => withClue(s"[$name form] ")(body(make())) }

  test("a committed stage next to the live artifact is promoted; table stamps survive") {
    eachForm { f =>
      f.writeLive(1, 2)
      f.writeStage(1, 2, 3)
      f.heal()
      assert(f.live === Some(Set(1, 2, 3)))
      assert(!f.stagePresent)
      f match {
        case t: TableForm => assert(t.stamp === Some("kept"),
          "the live table's graft.* stamps must carry over to the stage")
        case _ =>
      }
      f.heal() // a second heal has nothing left to do
      assert(f.live === Some(Set(1, 2, 3)))
    }
  }

  test("a committed stage with the live artifact gone is promoted") {
    eachForm { f =>
      f.writeLive(1)
      f.writeStage(1, 2)
      f.dropLive()
      assert(f.live === None)
      f.heal()
      assert(f.live === Some(Set(1, 2)))
      assert(!f.stagePresent)
    }
  }

  test("an uncommitted stage is discarded; the next replace clears what it left") {
    eachForm { f =>
      f.writeLive(1)
      f.writeUncommittedStage(9)
      f.heal()
      assert(f.live === Some(Set(1)))
      assert(!f.stagePresent)
      // the table form's leftover files would make the stage's CTAS
      // refuse its location if the replace did not clear them
      f.replace(ints(Seq(1, 2)))
      assert(f.live === Some(Set(1, 2)))
      assert(!f.stagePresent)
    }
  }

  test("a failed stage write leaves the live artifact and no stage; the next replace clears its location") {
    eachForm { f =>
      f.writeLive(1)
      val e = intercept[Exception](f.replace(failing(Seq(5))))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains("injected")), e)
      f match {
        case t: TableForm => assert(!t.stagePresent,
          "a failed saveAsTable must not register a stage")
        case _ =>
      }
      f.heal()
      assert(f.live === Some(Set(1)) && !f.stagePresent)
      f.replace(ints(Seq(1, 5)))
      assert(f.live === Some(Set(1, 5)))
    }
  }

  test("supersede runs before the rename, and only for a committed stage") {
    val f = new DirForm
    f.writeLive(1)
    // (stage present, live content) as supersede saw them
    var seen: Option[(Boolean, Option[Set[Int]])] = None
    val record = () => seen = Some((f.stagePresent, f.live))
    StagedReplace.replaceDir(spark, f.path, record)(
      s => ints(Seq(1, 2)).write.parquet(s.toString))
    assert(seen === Some((true, Some(Set(1)))))
    assert(f.live === Some(Set(1, 2)))
    seen = None
    f.writeStage(7)
    StagedReplace.healDir(spark, f.path, record)
    assert(seen === Some((true, Some(Set(1, 2)))))
    assert(f.live === Some(Set(7)))
    seen = None
    f.writeUncommittedStage(8)
    StagedReplace.healDir(spark, f.path, record)
    assert(seen === None, "an uncommitted stage supersedes nothing")
    assert(f.live === Some(Set(7)) && !f.stagePresent)
  }
}
