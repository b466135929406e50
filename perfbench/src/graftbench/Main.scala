package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

final case class Metric(name: String, value: Double, unit: String)

/** An output check; a failed one fails the run. */
final case class Check(name: String, ok: Boolean, detail: String)

/** What a workload hands back to [[Main]]. `ops` are the latencies in ms
  * of the timed unit operations in order (deliveries, probe batches);
  * `completed` counts every completed operation of the timed phase, of
  * any kind; `detail` holds the workload's own named metrics. */
final case class Outcome(setupS: Seq[Double], ops: Seq[Double], completed: Int,
    timedS: Double, attempted: Long, failed: Long, checks: Seq[Check],
    detail: Seq[Metric])

final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
    tracer: Tracer, work: File, cores: Int) {
  def path(rel: String): String = new File(work, rel).getAbsolutePath
}

object Stats {
  def median(xs: collection.Seq[Double]): Double = percentile(xs, 50)

  /** Linear-interpolated percentile, p in [0, 100]. */
  def percentile(xs: collection.Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  /** The highest whole percentile with at least ten samples beyond it,
    * as (percentile, value); None with fewer than 11 samples. */
  def tail(xs: collection.Seq[Double]): Option[(Int, Double)] =
    (99 to 50 by -1).find(p => xs.size * (100 - p) / 100.0 >= 10)
      .map(p => p -> percentile(xs, p))

  /** The last quarter of a sequence, at least one element. */
  def lastQuarter[T](xs: collection.Seq[T]): collection.Seq[T] = xs.takeRight(math.max(1, xs.size / 4))

  def timeMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }
}

object Disk {
  private def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)

  /** Bytes of every file under `f`. */
  def bytes(f: File): Long = walk(f).map(_.length).sum

  /** Parquet data files under `f`. */
  def dataFiles(f: File): Int = walk(f).count(x => x.getName.startsWith("part-"))
}

object Json {
  def render(v: Any): String = v match {
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.toSeq.map { case (k, x) => quote(k.toString) + ": " + render(x) }
      .mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
  }
  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}

/** `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --cores <n> --work <dir>`: one local[cores] session, one client
  * thread. Prints one `detail` JSON line with the workload's own metrics,
  * then the result line; exits 1 when any output check failed. */
object Main {
  val Workloads: Map[String, Ctx => Outcome] = Map(
    "vault_cdc" -> VaultCdc.run,
    "index_lifecycle" -> IndexLifecycle.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val trace = opts("trace") == "1"
    val cores = opts.getOrElse("cores", "4").toInt
    val work = new File(opts("work"))
    val run = Workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val tracer = new Tracer(spark, trace)
    val ctx = Ctx(spark, opts("seed").toLong, opts("seconds").toDouble, tracer, work, cores)
    val outcome =
      try run(ctx)
      catch {
        case e: Throwable =>
          e.printStackTrace()
          Outcome(Seq(0.0), Nil, 0, 1.0, 1, 1,
            Seq(Check("run", ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}")), Nil)
      }
    val correct = outcome.checks.forall(_.ok) && outcome.ops.nonEmpty && outcome.failed == 0
    outcome.checks.filterNot(_.ok).foreach(c =>
      System.err.println(s"CHECK FAILED ${c.name}: ${c.detail}"))

    val metrics =
      if (trace) {
        val ms = outcome.ops
        if (ms.nonEmpty) tracer.gauge("trace.op_p50_ms", Stats.median(ms))
        Files.write(new File(work, "trace.json").toPath, tracer.toJson(Map(
          "workload" -> workload, "seed" -> ctx.seed, "cores" -> cores,
          "seconds" -> ctx.seconds, "ops" -> ms.size))
          .getBytes(StandardCharsets.UTF_8))
        tracer.perLayerMetrics
      } else {
        val ms = outcome.ops
        Seq(Metric("setup_s", sessionS + Stats.median(outcome.setupS), "s")) ++
          (if (ms.isEmpty) Nil else Seq(Metric("op_p50_ms", Stats.median(ms), "ms"))) ++
          Seq(Metric("ops_per_s", outcome.completed / outcome.timedS, "1/s"),
            Metric("heap_live_mb", liveHeapMb(), "MB"))
      }
    spark.stop()

    val detail = Map("workload" -> workload, "seed" -> ctx.seed, "cores" -> cores,
      "setup_runs_s" -> outcome.setupS, "session_start_s" -> sessionS,
      "peak_rss_mb" -> peakRssMb(),
      "ops" -> outcome.ops.size, "op_ms" -> outcome.ops, "timed_s" -> outcome.timedS,
      "checks" -> outcome.checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "metrics" -> outcome.detail.map(m => m.name -> Map("value" -> m.value, "unit" -> m.unit)).toMap)
    println("detail " + Json.render(detail))
    println(Json.render(Map(
      "correct" -> correct,
      "attempted" -> outcome.attempted,
      "failed" -> outcome.failed,
      "metrics" -> metrics.map(m => m.name -> Map("value" -> m.value, "unit" -> m.unit)).toMap)))
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  /** Heap still reachable after a full collection, in MB. */
  def liveHeapMb(): Double = {
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      heap.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  /** VmHWM of this process, in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
}
