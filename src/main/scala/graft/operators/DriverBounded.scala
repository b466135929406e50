package graft.operators

import org.apache.spark.sql.{DataFrame, Row}

/** The engine's only sanctioned driver-side materializations.
  *
  * Every `.collect()` in a distributed engine is a scale liability
  * unless its size is bounded by CONFIGURATION (a centroid set, a
  * codebook, a serving batch) rather than by data. This helper is the
  * single place such hops are allowed: each call either asserts its
  * cap loudly ([[collectCapped]]) or is an explicit deliberate
  * truncation ([[takeFirst]]), so `grep collect src/main` audits to
  * exactly these four entry points plus their call sites.
  */
object DriverBounded {

  /** Collect a frame the caller asserts is configuration-sized: reads
    * at most cap+1 rows and fails with `context` when the cap is
    * exceeded. Never silently truncates, and never scans past the
    * first over-cap row — rejecting a corpus-sized frame costs O(cap),
    * not a full scan. */
  def collectCapped(df: DataFrame, cap: Int, context: => String): Array[Row] = {
    // upper bound excludes Int.MaxValue: the cap+1 over-read probe must
    // not overflow into a negative limit
    require(cap > 0 && cap < Int.MaxValue,
      s"collectCapped: cap must be in [1, ${Int.MaxValue - 1}], got $cap")
    val rows = df.limit(cap + 1).collect()
    require(rows.length <= cap,
      s"$context (driver-bounded collect exceeded cap $cap)")
    rows
  }

  /** Collect a frame whose own plan bounds its size (a per-query top-k
    * over a capped serving batch), running `df`'s compiled plan as is —
    * a limit would re-plan it, undoing a plan pinned at compile time,
    * and a never-reached limit scans partitions in widening jobs — then
    * assert the bound. */
  def collectBounded(df: DataFrame, cap: Long, context: => String): Array[Row] = {
    val rows = df.collect()
    require(rows.length <= cap,
      s"$context (driver-bounded collect exceeded cap $cap)")
    rows
  }

  /** Collect exactly the first `cap` rows of an ordered frame — a
    * DELIBERATE deterministic truncation (sampling a codebook from a
    * sorted frame), not a cap assertion: extra input rows are expected
    * and dropped. */
  def takeFirst(df: DataFrame, cap: Int): Array[Row] = {
    require(cap > 0, s"takeFirst: cap must be positive, got $cap")
    df.limit(cap).collect()
  }

  /** O(cap) probe: does `df` hold more than `cap` rows? Scans at most
    * cap+1 rows, so guarding a driver hop against a billion-row frame
    * never requires counting it. */
  def exceeds(df: DataFrame, cap: Int): Boolean = {
    require(cap > 0 && cap < Int.MaxValue,
      s"exceeds: cap must be in [1, ${Int.MaxValue - 1}], got $cap")
    df.limit(cap + 1).count() > cap
  }

  /** Run `body` with the thread's Spark job description set to
    * `graft:<op>` (restored afterwards) — the optimization guide §1.5
    * discipline applied INSIDE the per-delivery operators, whose many
    * small jobs otherwise all inherit the caller's (or the streaming
    * micro-batch's) one banner and cannot be told apart in the UI or
    * a listener. Descriptions are thread-local, so concurrent
    * deliveries label independently. */
  def labeled[T](spark: org.apache.spark.sql.SparkSession, op: String)
      (body: => T): T = {
    val sc = spark.sparkContext
    val key = "spark.job.description"
    val old = sc.getLocalProperty(key)
    sc.setJobDescription(s"graft:$op")
    try body finally sc.setLocalProperty(key, old)
  }
}
