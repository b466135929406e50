package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator
import scala.jdk.CollectionConverters._

/** Reuse-keyed scratch directories for queries that need local working
  * storage as a side effect (the w02/w03/w04 stream-replay staging dirs,
  * the v10/v11 vault warehouse locations).
  *
  * `Files.createTempDirectory` per invocation is correct but unbounded:
  * every verify run in a long-lived session leaves another orphan under
  * /tmp. Instead each (tag, input-dir) pair maps to ONE deterministic
  * path that is wiped and recreated at query start — repeated runs
  * reuse the same footprint, so a session's scratch usage is bounded by
  * the number of distinct (query, scale-factor) combinations, not by
  * the number of runs. Keying by input dir keeps concurrent runs at
  * different scale factors from clobbering each other (the e07
  * sf-keyed-table idiom), and keying by PROCESS keeps two JVMs on the
  * SAME (tag, sf) from wiping each other's live scratch mid-stream —
  * a purely deterministic path would hand process B's query-start wipe
  * to process A's still-running foreachBatch sink. Cross-process
  * accumulation is bounded by the number of concurrent JVMs (each
  * process reuses its own footprint across runs), which is the r12
  * unbounded-orphans complaint solved without the concurrency
  * regression.
  */
object Scratch {

  /** Sanitized suffix for an input dir, shared with the sf-keyed
    * database names (v11's `v11_raw_<sfx>` pattern). */
  def sfKey(inputDir: String): String =
    inputDir.split('/').filter(_.nonEmpty).last.replaceAll("[^A-Za-z0-9]", "_")

  /** The sf-keyed catalog table `db.prefix_<sfKey>`, creating `db` if
    * absent — so runs at different scale factors never share a table. */
  def catalogTable(spark: org.apache.spark.sql.SparkSession, db: String,
      prefix: String, inputDir: String): String = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    s"$db.${prefix}_${sfKey(inputDir)}"
  }

  private val pid: Long = ProcessHandle.current().pid()
  private val PidDir = "graft-p([0-9]+)-.*".r

  /** The scratch dir for (tag, inputDir) in THIS process: wiped if it
    * exists, then recreated empty. Returns the absolute path as a
    * String. Also reaps pid-keyed scratch left by DEAD processes, so
    * repeated fresh-JVM runs (the driver spawns one Verify process per
    * round) stay bounded: at any moment /tmp holds scratch for live
    * processes only, plus at most the dead dirs created since the last
    * Scratch use by anyone. */
  def dir(tag: String, inputDir: String): String = {
    if (reaped.compareAndSet(false, true)) reapDead()
    val p = Paths.get(sys.props("java.io.tmpdir"),
      s"graft-p$pid-$tag-${sfKey(inputDir)}")
    wipe(p)
    Files.createDirectories(p)
    p.toString
  }

  /** One reap per JVM: the tmpdir listing is O(#tmp entries) and a
    * process's view of which peers are dead doesn't change in ways
    * that matter mid-session, so repeated `dir()` calls skip it. */
  private val reaped = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Delete scratch dirs whose owning process is no longer alive.
    * Best-effort: a dir that disappears mid-reap (another process
    * reaping concurrently) is skipped, never fatal — Files.walk
    * surfaces that race as UncheckedIOException (a RuntimeException),
    * so the per-candidate guard is NonFatal, not just IOException.
    * A >19-digit dir name would overflow owner.toLong; same guard. */
  private def reapDead(): Unit = {
    val tmp = Paths.get(sys.props("java.io.tmpdir"))
    val listing = Files.list(tmp)
    val candidates =
      try listing.iterator().asScala.toList finally listing.close()
    candidates.foreach { p =>
      try {
        p.getFileName.toString match {
          case PidDir(owner) if owner.toLong != pid &&
              !ProcessHandle.of(owner.toLong).map[Boolean](_.isAlive)
                .orElse(false) =>
            wipe(p)
          case _ => ()
        }
      } catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** Recursively delete `p` if present (children before parents).
    * Package-visible so the test tree's TestScratch shutdown hooks
    * reuse one deletion implementation. */
  private[graft] def wipe(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }
}
