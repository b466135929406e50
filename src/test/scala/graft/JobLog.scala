package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.{ListenerBusDrain, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Records the Spark jobs started while a block of driver code runs: a
  * listener is attached for the block, the listener bus is drained
  * before it is detached (late JobEnd events included), and the jobs
  * come back in start order, each with the tasks its stages launched. */
object JobLog {

  /** One job: its description (`spark.job.description`, `graft:<op>`
    * inside labeled operators), its call site ("collect at
    * Dedup.scala:1361"), and start/end times in ms (end -1 if it never
    * ended). A job of a SQL execution (`execId`, its
    * `spark.sql.execution.id`) is named after the execution's call site:
    * AQE runs each shuffle stage as its own job from a pool thread, so
    * its stage name would only say `CompletableFuture.java`; any other
    * job is named after its result stage. `stageTasks` maps each stage
    * that ran under the job to the tasks it launched, counted from
    * task-start events: a job's stage list also names stages it skipped
    * (an AQE final job lists the shuffle stages its stage jobs already
    * ran), so a stage is credited to the first job that lists it, and
    * one that launched nothing is absent. */
  final case class Job(id: Int, desc: String, site: String, start: Long,
      end: Long, stageTasks: Map[Int, Int] = Map.empty,
      execId: Option[Long] = None) {
    def wallMs: Long = math.max(0L, end - start)
    /** The most tasks any one of the job's stages launched (0: none). */
    def widestStage: Int = stageTasks.values.maxOption.getOrElse(0)
  }

  /** "collect at Dedup.scala:1361" from a call site's long form: the
    * last Spark frame, then the caller's frames. A
    * `DriverBounded.collectCapped`/`collectBounded` frame is passed
    * over, so a bounded collect is named after the operator line that
    * asked for it, not the helper's own. */
  private def shortSite(longForm: String): Option[String] = {
    val Frame = """.*\.([^.(]+)\(([^:()]+):(\d+)\)""".r
    longForm.linesIterator.toList match {
      case Frame(method, _, _) :: callers =>
        callers.collectFirst {
          case Frame(_, file, line) if file != "DriverBounded.scala" =>
            s"$method at $file:$line"
        }
      case _ => None
    }
  }

  def record[T](sc: SparkContext)(body: => T): (T, Vector[Job]) = {
    val started = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val ended = new ConcurrentHashMap[Int, java.lang.Long]()
    val tasks = new ConcurrentHashMap[Int, AtomicInteger]()
    val execSites = new ConcurrentHashMap[Long, String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          execSites.put(x.executionId,
            shortSite(x.details).getOrElse(x.description)); ()
        case _ => ()
      }
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        started.add(js); ()
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        ended.put(je.jobId, je.time); ()
      }
      override def onTaskStart(ts: SparkListenerTaskStart): Unit = {
        tasks.computeIfAbsent(ts.stageId, _ => new AtomicInteger())
          .incrementAndGet(); ()
      }
    }
    sc.addSparkListener(listener)
    val out = try body finally {
      ListenerBusDrain.drain(sc)
      sc.removeSparkListener(listener)
    }
    val credited = scala.collection.mutable.Set.empty[Int]
    val jobs = started.asScala.toVector.sortBy(js => (js.time, js.jobId))
      .map { js =>
        def prop(key: String) =
          Option(js.properties).flatMap(p => Option(p.getProperty(key)))
        val desc = prop("spark.job.description").getOrElse("")
          .replace('\n', '|')
        val execId = prop("spark.sql.execution.id").map(_.toLong)
        val stageTasks = js.stageIds.filter(credited.add)
          .flatMap(s => Option(tasks.get(s)).map(s -> _.get)).toMap
        Job(js.jobId, desc,
          execId.flatMap(id => Option(execSites.get(id)))
            .orElse(js.stageInfos.lastOption.map(_.name)).getOrElse("?"),
          js.time, Option(ended.get(js.jobId)).fold(-1L)(_.longValue),
          stageTasks, execId)
      }
    (out, jobs)
  }
}
