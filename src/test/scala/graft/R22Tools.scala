package graft

/** Round-22 measurement tooling (guide §1: measure first).
  *
  * [[R22JobProfile]] answers the question the wall-clock sweep cannot:
  * HOW MANY Spark jobs does a query path run, and where does its time
  * go — the per-micro-batch job count is the cost driver of the
  * streaming gates (VERDICT r21 "Next round" #1/#3), so the before/
  * after evidence for this round is job counts, not just seconds.
  */
/** Print a query's FINAL (post-execution, AQE-resolved) physical plan
  * — explain() before execution shows the initial plan, which hides
  * runtime exchange reuse. Usage:
  *   Test/runMain graft.R22FinalPlan <q1,q2> [sfDir]
  */
object R22FinalPlan {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sf = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = R21Tools.benchSession("finalplan")
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      // drive the SAME QueryExecution so the adaptive plan resolves:
      // a noop write would plan its own copy and leave this one initial
      df.collect()
      val fin = df.queryExecution.executedPlan.toString
      println(s"=== $name FINAL PLAN ===")
      println(fin)
      val flat = graft.plans.PlanWalk.flatten(df.queryExecution.executedPlan)
      def cnt(p: String) = fin.sliding(p.length).count(_ == p)
      println(s"[finalplan] $name ShuffleExchange=${cnt("Exchange hashpartitioning")} " +
        s"ReusedExchange=${cnt("ReusedExchange")} " +
        s"ShuffleQueryStage=${cnt("ShuffleQueryStage")} nodes=${flat.size}")
    }
    spark.stop()
  }
}

object R22JobProfile {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sf = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val rounds = if (args.length > 2) args(2).toInt else 1
    val spark = R21Tools.benchSession("jobprofile")
    // warm like Bench does
    SparkEntry.queries("q01_agg")(spark, sf)
      .write.format("noop").mode("overwrite").save()
    for (r <- 1 to rounds; name <- names) {
      spark.sparkContext.setJobDescription(s"r22:$name")
      val t0 = System.nanoTime()
      val (_, all) = JobLog.record(spark.sparkContext) {
        SparkEntry.queries(name)(spark, sf)
          .write.format("noop").mode("overwrite").save()
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val tot = all.map(_.wallMs).sum / 1e3
      println(f"=== $name round $r: ${all.size} jobs, " +
        f"sum(job wall) $tot%.1f s, query wall $wall%.1f s ===")
      // per-label histogram (count, total seconds): graft operator
      // labels where present, else the call site
      def key(r: JobLog.Job) =
        if (r.desc.startsWith("graft:")) r.desc else r.site
      all.groupBy(key).toSeq
        .map { case (d, rs) =>
          (d, rs.size, rs.map(_.wallMs).sum / 1e3) }
        .sortBy(-_._3)
        .foreach { case (d, n, s) =>
          println(f"  $s%8.2fs  n=$n%-4d ${d.take(110)}") }
      // driver-side gaps: wall time between a job's end and the next
      // job's start — planning, catalog/metastore calls, file listing.
      // The gap is attributed to the NEXT job's call site (the action
      // whose preparation consumed it).
      val gaps = all.sliding(2).collect {
        case Seq(a, b) if a.end > 0 && b.start - a.end > 0 =>
          (b.start - a.end, b) }.toVector
      println(f"  -- driver gaps: total ${gaps.map(_._1).sum / 1e3}%.1f s " +
        f"across ${gaps.size} gaps; by next-job site --")
      gaps.groupBy(g => key(g._2)).toSeq
        .map { case (s2, gs) => (s2, gs.size, gs.map(_._1).sum / 1e3) }
        .sortBy(-_._3).take(20)
        .foreach { case (s2, n, t) =>
          println(f"  $t%8.2fs  n=$n%-4d before ${s2.take(100)}") }
      println("  -- largest gaps --")
      gaps.sortBy(-_._1).take(20).foreach { case (g, b2) =>
        println(f"  ${g / 1e3}%6.2fs before j${b2.id}%-5d " +
          s"${b2.site.take(80)}  [${b2.desc.take(40)}]") }
    }
    spark.stop()
  }
}
