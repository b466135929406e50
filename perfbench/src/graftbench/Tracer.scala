package graftbench

import scala.collection.mutable

import org.apache.spark.BenchListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** The per-layer metric catalogue: one span per public graft call the
  * workloads make, a parent span per workload operation, and the ratio and
  * state gauges. Every workload reports every name (0 where the layer does
  * not run), so the traced output has one shape. */
object Layers {
  val Vault: Seq[String] = Seq(
    "RawVault.stageTable",
    "RawVault.loadHubFromPreparedStagingTable",
    "RawVault.loadLinkFromPreparedStageTable",
    "RawVault.loadCodeReferencesFromPreparedStageTable",
    "BusinessVault.createPointInTimeTableForSingleSatellite",
    "BusinessVault.createActiveCodeReferenceTable",
    "Curated.mapToCurated")
  val Corpus: Seq[String] = Seq(
    "Pipeline.cleanCorpus",
    "Dedup.minHashSignatures",
    "Dedup.lshCandidatePairs",
    "Dedup.nearDupGroups",
    "Dedup.resolveNearDupsByQuality")
  val ProbeFirst = "Similarity.probeIvfIndexExternal.first"
  val ProbeRepeat = "Similarity.probeIvfIndexExternal.repeat"
  val ProbeSessionFirst = "Similarity.probeIvfIndexExternal.session_first"
  val Append = "Similarity.appendToIvfIndex"
  val Index: Seq[String] = Seq(
    "Similarity.buildIvfIndex", Append, ProbeFirst, ProbeRepeat,
    "Similarity.deleteFromIndex", "Similarity.compactIvfIndex")
  val DedupBatch = "index_lifecycle.dedup_batch"
  /** Parent spans: a delivery, a set-up dedup batch, an index round. */
  val Ops: Seq[String] = Seq("vault_cdc.delivery", DedupBatch, "index_lifecycle.round")

  // counter names stay short: a metric name has at most 64 characters
  private val base = Seq("wall_s" -> "s", "jobs" -> "count",
    "gap_s" -> "s", "cpu_s" -> "s", "shuffle_B" -> "B")

  /** (span, counter, unit) for every traced counter. */
  val counters: Seq[(String, String, String)] =
    (Vault ++ Corpus ++ Index).flatMap { s =>
      val extra =
        (if (Corpus.contains(s)) Seq("spill_B" -> "B") else Nil) ++
          (if (Seq(Append, ProbeFirst, ProbeRepeat).contains(s))
            Seq("input_B" -> "B") else Nil)
      (base ++ extra).map { case (c, u) => (s, c, u) }
    } ++
      Ops.flatMap(s => base.take(3).map { case (c, u) => (s, c, u) }) ++
      Seq((ProbeSessionFirst, "wall_s", "s"), (ProbeSessionFirst, "jobs", "count"))

  /** (name, unit, better) of the gauges; each reports the mean of its samples. */
  val gauges: Seq[(String, String, String)] = Seq(
    ("RawVault.append_ratio", "ratio", "lower"),
    ("vault.files_per_table", "count", "lower"),
    ("Dedup.candidate_precision", "ratio", "higher"),
    ("corpus.busy_share", "ratio", "higher"),
    ("index.files_per_bucket", "count", "lower"),
    ("Similarity.pendingDeletes", "count", "lower"),
    ("probe.pruned_share", "ratio", "lower"),
    ("trace.op_p50_ms", "ms", "lower"))
}

/** Aggregate of one span instance or span name: call count and summed counters. */
final case class Agg(calls: Int, wallS: Double, selfS: Double, jobs: Int,
    driverGapS: Double, taskCpuS: Double, shuffleWriteBytes: Long,
    spillBytes: Long, inputBytes: Long, recordsWritten: Long) {
  def perCall(counter: String): Double = if (calls == 0) 0.0 else (counter match {
    case "wall_s" => wallS
    case "jobs" => jobs.toDouble
    case "gap_s" => driverGapS
    case "cpu_s" => taskCpuS
    case "shuffle_B" => shuffleWriteBytes.toDouble
    case "spill_B" => spillBytes.toDouble
    case "input_B" => inputBytes.toDouble
  }) / calls
}

/** Spans around the benchmark's calls into graft. A listener reads the
  * benchmark-owned local property `graftbench.span` off every job, so each
  * job launched inside a call (including jobs graft labels itself) is
  * attributed to the innermost open span. Spans stay in memory and are
  * reduced when the run ends.
  *
  * A disabled tracer registers no listener and `span` just runs its body;
  * an enabled one records only while `active`, which the workloads set
  * around the calls they trace. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val SpanProp = "graftbench.span"
  private val sc = spark.sparkContext

  final class Span(val id: Int, val name: String, val parent: Option[Span]) {
    val startMs: Long = System.currentTimeMillis()
    val startNs: Long = System.nanoTime()
    var endMs: Long = startMs
    var endNs: Long = startNs
    def wallS: Double = (endNs - startNs) / 1e9
  }
  private final class Job(val span: Int, val startMs: Long) { var endMs: Long = -1 }
  private final class Totals {
    var cpuNs, shuffleWrite, spill, input, recordsWritten = 0L
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var current: Option[Span] = None
  private val gaugeSamples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  // written by the listener thread, read after a drain — guarded by `lock`
  private val lock = new Object
  private val jobs = mutable.Map.empty[Int, Job]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val totals = mutable.Map.empty[Int, Totals]

  var active: Boolean = enabled

  if (enabled) sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .foreach { sid =>
          lock.synchronized {
            jobs(e.jobId) = new Job(sid.toInt, e.time)
            e.stageIds.foreach(st => stageSpan.getOrElseUpdate(st, sid.toInt))
          }
        }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      lock.synchronized(jobs.get(e.jobId).foreach(_.endMs = e.time))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized {
        for (sid <- stageSpan.get(e.stageInfo.stageId);
             m <- Option(e.stageInfo.taskMetrics)) {
          val t = totals.getOrElseUpdate(sid, new Totals)
          t.cpuNs += m.executorCpuTime
          t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          t.spill += m.diskBytesSpilled
          t.input += m.inputMetrics.bytesRead
          t.recordsWritten += m.outputMetrics.recordsWritten
        }
      }
  })

  def recording: Boolean = enabled && active

  def span[T](name: String)(body: => T): T =
    if (!recording) body
    else {
      val s = new Span(spans.size, name, current)
      spans += s
      val saved = current
      current = Some(s)
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        current = saved
        sc.setLocalProperty(SpanProp, saved.map(_.id.toString).orNull)
      }
    }

  def gauge(name: String, value: Double): Unit =
    if (recording) gaugeSamples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += value

  /** Per-instance and per-name aggregates; waits for the listener first. */
  def reduce(): (Seq[(Span, Agg)], Map[String, Agg]) = {
    if (enabled) BenchListenerBus.drain(sc)
    val children = spans.groupBy(_.parent.map(_.id).getOrElse(-1))
    def subtree(s: Span): Seq[Span] =
      s +: children.getOrElse(s.id, Nil).flatMap(subtree).toSeq
    val byInstance = lock.synchronized {
      val jobsBySpan = jobs.values.groupBy(_.span)
      spans.toSeq.map { s =>
        val ids = subtree(s).map(_.id)
        val js = ids.flatMap(i => jobsBySpan.getOrElse(i, Nil))
        val ts = ids.flatMap(totals.get)
        val intervals = js.map(j => (math.max(j.startMs, s.startMs),
          math.min(if (j.endMs < 0) s.endMs else j.endMs, s.endMs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L
        var reach = Long.MinValue
        intervals.foreach { case (a, b) =>
          val from = math.max(a, reach)
          if (b > from) covered += b - from
          reach = math.max(reach, b)
        }
        val childWall = children.getOrElse(s.id, Nil).map(_.wallS).sum
        s -> Agg(1, s.wallS, s.wallS - childWall, js.size,
          math.max(0.0, s.wallS - covered / 1000.0),
          ts.map(_.cpuNs).sum / 1e9, ts.map(_.shuffleWrite).sum,
          ts.map(_.spill).sum, ts.map(_.input).sum, ts.map(_.recordsWritten).sum)
      }
    }
    val byName = byInstance.groupBy(_._1.name).map { case (n, xs) =>
      val as = xs.map(_._2)
      n -> Agg(as.size, as.map(_.wallS).sum, as.map(_.selfS).sum,
        as.map(_.jobs).sum, as.map(_.driverGapS).sum, as.map(_.taskCpuS).sum,
        as.map(_.shuffleWriteBytes).sum, as.map(_.spillBytes).sum,
        as.map(_.inputBytes).sum, as.map(_.recordsWritten).sum)
    }
    (byInstance, byName)
  }

  def named(name: String): Option[Agg] = reduce()._2.get(name)

  /** Input bytes of each recorded instance of `name`, in order. */
  def instanceInputBytes(name: String): Seq[Long] =
    reduce()._1.collect { case (s, a) if s.name == name => a.inputBytes }

  def gaugeMean(name: String): Double =
    gaugeSamples.get(name).filter(_.nonEmpty).map(b => b.sum / b.size).getOrElse(0.0)

  /** Every per-layer metric, in catalogue order. */
  def perLayerMetrics: Seq[Metric] = {
    val byName = reduce()._2
    Layers.counters.map { case (s, c, u) =>
      Metric(s"$s.$c", byName.get(s).map(_.perCall(c)).getOrElse(0.0), u)
    } ++ Layers.gauges.map { case (n, u, _) => Metric(n, gaugeMean(n), u) }
  }

  /** The span record written next to the result of a traced run. */
  def toJson(header: Map[String, Any]): String = {
    val (inst, byName) = reduce()
    def agg(a: Agg): Map[String, Any] = Map("calls" -> a.calls, "wall_s" -> a.wallS,
      "self_s" -> a.selfS, "jobs" -> a.jobs, "driver_gap_s" -> a.driverGapS,
      "task_cpu_s" -> a.taskCpuS, "shuffle_write_bytes" -> a.shuffleWriteBytes,
      "spill_bytes" -> a.spillBytes, "input_bytes" -> a.inputBytes,
      "records_written" -> a.recordsWritten)
    Json.render(header ++ Map(
      "layers" -> byName.toSeq.sortBy(_._1).map { case (n, a) => Map("span" -> n) ++ agg(a) },
      "gauges" -> Layers.gauges.map { case (n, u, _) =>
        Map("name" -> n, "unit" -> u, "value" -> gaugeMean(n),
          "samples" -> gaugeSamples.get(n).map(_.size).getOrElse(0)) },
      "spans" -> inst.map { case (s, a) =>
        Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent.map(_.id).getOrElse(-1),
          "start_ms" -> s.startMs, "end_ms" -> s.endMs) ++ agg(a) - "calls" }))
  }
}
