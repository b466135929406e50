package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Shuffle audit shared by the one-off sweep main and the standing
  * [[graft.queries.ShuffleBaselineSpec]] gate.
  *
  * Exchange COUNT is treated as the plan-shape fingerprint: bytes drift
  * with fixture evolution, but a query growing or losing a shuffle
  * exchange is a structural plan change that should fail a test, not
  * wait for judge archaeology over BENCH shuffle_bytes.
  *
  * Counting is STATIC (no job runs): with AQE disabled the physical
  * preparation rules — including ReuseExchangeAndSubquery — produce the
  * final plan at planning time, so a broken self-join exchange reuse
  * (e.g. the asymmetric alias projection that silently doubled d09's
  * pipeline in r8) shows up as one more ShuffleExchangeExec without
  * executing anything. Under AQE the initial plan carries no reuse
  * information (stage dedup happens at runtime), which is why the sweep
  * pins the non-adaptive plan instead.
  */
object ShuffleSweep {

  /** Distinct shuffle exchanges in the final non-AQE physical plan.
    * Reused exchanges are left unentered: flatten then visits each
    * original exchange exactly once, so a plain count is the distinct
    * count. Call inside [[withStaticPlans]]. */
  def staticExchanges(df: DataFrame): Int =
    graft.plans.PlanWalk.flatten(df.queryExecution.executedPlan,
        intoReusedExchange = false)
      .count(_.isInstanceOf[ShuffleExchangeExec])

  /** Run `f` with AQE off so executedPlan is final (reuse applied) at
    * planning time. Must wrap query CONSTRUCTION too, not just the plan
    * access — eager driver-side work inside construction plans under
    * the session conf of the moment. */
  def withStaticPlans[T](spark: SparkSession)(f: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try f finally spark.conf.set(key, old)
  }

  /** One query's sweep at one scale point: exchanges and bytes (-1 when
    * not executed or failed), the failure if any, and `buildMs`, the
    * wall time of constructing the query's frame (up to the failure,
    * for a failed query) — the eager fixture and index builds and
    * stream replays its construction runs, which is where a static
    * sweep spends its time. */
  final case class Swept(name: String, exchanges: Int, bytes: Long,
      error: Option[String], buildMs: Long)

  /** Sweep every SparkEntry query at `sf`: static exchange count, then
    * (when `execute`) one full run to read shuffleBytesWritten the way
    * Bench does.
    *
    * Cache state is reset first: a cached branch left behind by an
    * earlier caller (another suite sharing the session) collapses its
    * subtree into an InMemoryTableScan leaf and shifts static exchange
    * counts, which would make the count depend on who ran before the
    * sweep. Both the standing spec and the baseline writer go through
    * here, so both always plan from the same cold-cache state.
    * (Instance-scoped memos like Curated's user lookup need no
    * explicit release: each query call builds fresh instances.) */
  def sweep(spark: SparkSession, sf: String, execute: Boolean): Seq[Swept] =
    withStaticPlans(spark) {
      spark.catalog.clearCache()
      SparkEntry.queries.keys.toSeq.sorted.map { name =>
        val t0 = System.nanoTime()
        def sinceMs = (System.nanoTime() - t0) / 1000000
        try {
          val df = SparkEntry.queries(name)(spark, sf)
          val buildMs = sinceMs
          val ex = staticExchanges(df)
          val bytes = if (!execute) -1L else {
            df.queryExecution.executedPlan.execute()
              .foreachPartition(
                (_: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => ())
            graft.plans.PlanWalk.flatten(df.queryExecution.executedPlan,
                intoReusedExchange = false)
              .collect { case s: ShuffleExchangeExec =>
                s.metrics.get("shuffleBytesWritten") }
              .flatten.distinctBy(_.id).map(_.value).sum
          }
          Swept(name, ex, bytes, None, buildMs)
        } catch { case e: Throwable =>
          Swept(name, -1, -1L, Some(e.toString.take(200)), sinceMs)
        }
      }
    }

  /** Default scale points for the baseline: three, so a plan that only
    * flips shape at one of them (a broadcast-threshold crossing with a
    * bigger input, say) cannot hide between scale points. */
  val DefaultSfs: Seq[String] =
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
      "/root/testdata/sf0.1")

  /** Scale points whose baseline also records executed shuffle bytes.
    * sf0.1 is pinned STATICALLY only (bytes -1): the exchange-count
    * fingerprint needs planning, not execution, and executing the full
    * surface at sf0.1 belongs to the per-round value sweep, not every
    * baseline regeneration. */
  val ExecuteBytesSfs: Set[String] = DefaultSfs.take(2).toSet

  /** One-off main: prints per-query lines for each sf dir given (the
    * three default scale points when none — executed bytes at the first
    * two, static-only at sf0.1). Explicitly passed dirs always
    * execute-measure bytes: asking for a specific dir means asking for
    * its numbers. With `--write PATH` also dumps the machine-readable
    * multi-sf baseline consumed by ShuffleBaselineSpec. Regenerate
    * after a DELIBERATE plan change:
    *   sbt 'Test/runMain graft.ShuffleSweep --write SHUFFLE_BASELINE.json'
    */
  def main(args: Array[String]): Unit = {
    // flags first, THEN positionals: "--write PATH" with no sf arg must
    // not leave PATH behind as a bogus sf dir
    val writeIdx = args.indexOf("--write")
    val out: Option[String] =
      if (writeIdx >= 0 && writeIdx + 1 < args.length) Some(args(writeIdx + 1))
      else { require(writeIdx < 0, "--write needs a PATH argument"); None }
    val positional = args.zipWithIndex.collect {
      // drop the --write VALUE only when the flag is present: with
      // writeIdx == -1 the naive `i != writeIdx + 1` would silently
      // swallow the FIRST positional sf instead
      case (a, i) if !a.startsWith("--") &&
        (writeIdx < 0 || i != writeIdx + 1) => a
    }.toSeq
    val explicit = positional.nonEmpty
    val sfs = if (explicit) positional else DefaultSfs
    val bySf = sfs.map(sf =>
      sf -> sweep(TestSpark.spark, sf, execute = explicit || ExecuteBytesSfs(sf)))
    bySf.foreach { case (sf, rows) =>
      rows.foreach {
        case Swept(name, ex, bytes, None, ms) =>
          println(f"SWEEP $sf $name%-28s exchanges=$ex%2d bytes=$bytes%10d build_ms=$ms%6d")
        case Swept(name, _, _, Some(err), _) =>
          println(s"SWEEP $sf $name ERROR $err")
      }
    }
    out.foreach { path =>
      val errs = bySf.flatMap { case (sf, rows) =>
        rows.collect { case Swept(n, _, _, Some(e), _) => s"$sf $n: $e" } }
      require(errs.isEmpty, s"refusing to write baseline with errors:\n${errs.mkString("\n")}")
      val sections = bySf.map { case (sf, rows) =>
        val body = rows.map { case Swept(n, ex, bytes, _, _) =>
          s"""      "$n": {"exchanges": $ex, "bytes": $bytes}""" }
          .mkString(",\n")
        s"""    {\n      "sf": "$sf",\n      "queries": {\n$body\n      }\n    }"""
      }.mkString(",\n")
      val json = s"""{\n  "baselines": [\n$sections\n  ]\n}\n"""
      java.nio.file.Files.write(java.nio.file.Paths.get(path),
        json.getBytes("UTF-8"))
      println(s"SWEEP baseline written to $path")
    }
  }
}
