package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.{ListenerBusDrain, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskStart}

/** Records the Spark jobs started while a block of driver code runs: a
  * listener is attached for the block, the listener bus is drained
  * before it is detached (late JobEnd events included), and the jobs
  * come back in start order, each with the tasks its stages launched. */
object JobLog {

  /** One job: its description (`spark.job.description`, `graft:<op>`
    * inside labeled operators), the call site its result stage is named
    * after ("collect at Dedup.scala:1361"), and start/end times in ms
    * (end -1 if it never ended). `stageTasks` maps each stage that ran
    * under the job to the tasks it launched, counted from task-start
    * events: a job's stage list also names stages it skipped (an AQE
    * final job lists the shuffle stages its stage jobs already ran), so
    * a stage is credited to the first job that lists it, and one that
    * launched nothing is absent. */
  final case class Job(id: Int, desc: String, site: String, start: Long,
      end: Long, stageTasks: Map[Int, Int] = Map.empty) {
    def wallMs: Long = math.max(0L, end - start)
    /** The most tasks any one of the job's stages launched (0: none). */
    def widestStage: Int = stageTasks.values.maxOption.getOrElse(0)
  }

  def record[T](sc: SparkContext)(body: => T): (T, Vector[Job]) = {
    val started = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val ended = new ConcurrentHashMap[Int, java.lang.Long]()
    val tasks = new ConcurrentHashMap[Int, AtomicInteger]()
    val listener = new SparkListener {
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
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("").replace('\n', '|')
        val stageTasks = js.stageIds.filter(credited.add)
          .flatMap(s => Option(tasks.get(s)).map(s -> _.get)).toMap
        Job(js.jobId, desc,
          js.stageInfos.lastOption.map(_.name).getOrElse("?"), js.time,
          Option(ended.get(js.jobId)).fold(-1L)(_.longValue), stageTasks)
      }
    (out, jobs)
  }
}
