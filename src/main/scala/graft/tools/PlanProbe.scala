package graft.tools

/** Dev timing probe: warms each named registry query once, then prints
  * its min-of-N wall seconds through a `noop` sink (full
  * materialization, no file write) and, with PROBE_EXPLAIN set, the
  * executed plan — the fast inner loop for plan-shape work without
  * running the whole Bench registry.
  *
  *   runMain graft.tools.PlanProbe <query>[,<query>...] [sfDir] [reps]
  *
  * `sfDir` defaults to SPARK_GRAFT_SF_DIR, else sf0.1; `reps` to 3;
  * worker threads to SPARK_GRAFT_CPUS, else 32. Per-job call sites are
  * [[JobProfile]]'s view.
  */
object PlanProbe {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.map(_.split(',').toSeq).getOrElse(
      sys.error("usage: PlanProbe <query>[,<query>...] [sfDir] [reps]"))
    val sfDir = args.lift(1).getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val reps  = args.lift(2).fold(3)(_.toInt)
    val spark = graft.core.Sessions.local(graft.core.Sessions.cpus(32))
    def exec(q: graft.Query): Double = {
      val t0 = System.nanoTime()
      q.run(spark, sfDir).write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    names.foreach { n =>
      val q = graft.QueryRegistry.byName(n)
      exec(q) // warm
      val best = (1 to reps).map(_ => exec(q)).min
      println(f"[probe] $n%-22s $best%.3f s (min of $reps)")
      if (sys.env.contains("PROBE_EXPLAIN")) {
        // collect() drives THIS QueryExecution so the printed adaptive
        // plan is the final one (a write would execute a separate QE)
        val df = q.run(spark, sfDir)
        df.collect()
        println(df.queryExecution.executedPlan.toString)
      }
    }
    spark.stop()
  }
}
