package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.{ListenerBusDrain, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}

/** Records the Spark jobs started while a block of driver code runs: a
  * listener is attached for the block, the listener bus is drained
  * before it is detached (late JobEnd events included), and the jobs
  * come back in start order. */
object JobLog {

  /** One job: its description (`spark.job.description`, `graft:<op>`
    * inside labeled operators), the call site its result stage is named
    * after ("collect at Dedup.scala:1361"), and start/end times in ms
    * (end -1 if it never ended). */
  final case class Job(id: Int, desc: String, site: String, start: Long,
      end: Long) {
    def wallMs: Long = math.max(0L, end - start)
  }

  def record[T](sc: SparkContext)(body: => T): (T, Vector[Job]) = {
    val started = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val ended = new ConcurrentHashMap[Int, java.lang.Long]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        started.add(js); ()
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        ended.put(je.jobId, je.time); ()
      }
    }
    sc.addSparkListener(listener)
    val out = try body finally {
      ListenerBusDrain.drain(sc)
      sc.removeSparkListener(listener)
    }
    val jobs = started.asScala.toVector.map { js =>
      val desc = Option(js.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("").replace('\n', '|')
      Job(js.jobId, desc, js.stageInfos.lastOption.map(_.name).getOrElse("?"),
        js.time, Option(ended.get(js.jobId)).fold(-1L)(_.longValue))
    }.sortBy(j => (j.start, j.id))
    (out, jobs)
  }
}
