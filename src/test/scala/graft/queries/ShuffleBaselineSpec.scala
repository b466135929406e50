package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.{ShuffleSweep, TestSpark}
import graft.ShuffleSweep.Swept

/** Standing plan-drift gate: every query's static (non-AQE) shuffle
  * exchange count must match the committed SHUFFLE_BASELINE.json at
  * EVERY baselined scale point (sf0.001, sf0.01 and sf0.1 by default;
  * the sf0.1 section is static-only — its recorded bytes are -1 by
  * design, the exchange counts are gated all the same).
  *
  * The count is the plan-shape fingerprint — an extra exchange means a
  * lost ReusedExchange, a new shuffle an operator stopped being narrow,
  * a missing one a join silently became broadcast. Several scale points
  * because counts can legitimately differ with input size (broadcast
  * thresholds, AQE-off join picks): a plan that only degrades at one
  * scale must not hide behind a gate pinned at the other. Bytes are
  * recorded in the baseline for the record but not gated here (they
  * drift with fixtures; BENCH_r{N} tracks them per round at sf0.1).
  *
  * After a DELIBERATE plan change, regenerate and commit:
  *   sbt 'Test/runMain graft.ShuffleSweep --write SHUFFLE_BASELINE.json'
  */
class ShuffleBaselineSpec extends AnyFunSuite {

  private val baselinePath = "SHUFFLE_BASELINE.json"

  /** Parses the exact shape ShuffleSweep emits (machine-generated
    * file, not arbitrary JSON): each query entry is associated with
    * the nearest preceding "sf" section marker. */
  private def loadBaseline(): Map[String, Map[String, Int]] = {
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(baselinePath)), "UTF-8")
    val sfRe = """"sf":\s*"([^"]+)"""".r
    val entryRe = """"([A-Za-z0-9_]+)":\s*\{"exchanges":\s*(-?\d+),\s*"bytes":\s*(-?\d+)\}""".r
    val sections = sfRe.findAllMatchIn(text)
      .map(m => m.start -> m.group(1)).toSeq
    assert(sections.nonEmpty, s"$baselinePath: no sf sections")
    val entries = entryRe.findAllMatchIn(text).toSeq
    assert(entries.nonEmpty, s"$baselinePath: no query entries parsed")
    val grouped = entries
      .groupBy(e => sections.takeWhile(_._1 < e.start).lastOption
        .getOrElse(fail(s"$baselinePath: entry before any sf section"))._2)
      .map { case (sf, es) =>
        sf -> es.map(g => g.group(1) -> g.group(2).toInt).toMap }
    // every sf section must have contributed entries: a section whose
    // entries all failed the regex would otherwise vanish and go ungated
    val empty = sections.map(_._2).toSet -- grouped.keySet
    assert(empty.isEmpty, s"$baselinePath: sf sections with no parsed entries: $empty")
    grouped
  }

  test("static exchange count per query matches SHUFFLE_BASELINE.json at every sf") {
    val baselines = loadBaseline()
    // the gate is only as wide as the committed file: a single-sf
    // regeneration must fail here, not quietly narrow two scale points
    // back down to one
    val missing = ShuffleSweep.DefaultSfs.toSet -- baselines.keySet
    assert(missing.isEmpty,
      s"$baselinePath does not cover the default scale points: missing $missing — " +
      "regenerate with sbt 'Test/runMain graft.ShuffleSweep --write SHUFFLE_BASELINE.json'")
    val bySf = baselines.toSeq.sortBy(_._1).map { case (sf, baseline) =>
      (sf, baseline, ShuffleSweep.sweep(TestSpark.spark, sf, execute = false))
    }
    // where the gate's time goes: constructing the queries (eager
    // fixture and index builds, stream replays), not planning them
    bySf.foreach { case (sf, _, swept) =>
      info(s"${swept.map(_.buildMs).sum} ms to build ${swept.size} queries at $sf") }
    bySf.flatMap { case (sf, _, swept) => swept.map(sf -> _) }
      .sortBy(-_._2.buildMs).take(10).foreach { case (sf, q) =>
        info(s"${q.buildMs} ms to build ${q.name} at $sf") }
    val problems = bySf.flatMap { case (sf, baseline, swept) =>
      val errors = swept.collect { case Swept(n, _, _, Some(e), _) => s"[$sf] $n failed to plan: $e" }
      // errored queries surface once, above — keep them out of the
      // count comparison so one failure doesn't double-report
      val current = swept.collect { case Swept(n, ex, _, None, _) => n -> ex }.toMap
      val errored = swept.collect { case Swept(n, _, _, Some(_), _) => n }.toSet
      val missing = baseline.keySet -- current.keySet -- errored
      val unbaselined = current.keySet -- baseline.keySet
      val drifted = baseline.toSeq.sorted.collect {
        case (n, want) if current.get(n).exists(_ != want) =>
          s"[$sf] $n: exchanges ${current(n)} != baseline $want"
      }
      errors ++
        missing.toSeq.sorted.map(n => s"[$sf] $n: in baseline but not in SparkEntry.queries") ++
        unbaselined.toSeq.sorted.map(n => s"[$sf] $n: new query with no baseline entry") ++
        drifted
    }
    assert(problems.isEmpty,
      "plan drift vs SHUFFLE_BASELINE.json — if deliberate, regenerate with\n" +
      "  sbt 'Test/runMain graft.ShuffleSweep --write SHUFFLE_BASELINE.json'\n" +
      problems.mkString("\n"))
  }
}
