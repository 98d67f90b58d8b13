package graft


/** Plan auditor: prints the formatted physical plan of each (or one
  * named) registry query so scan pushdown, broadcast choices, and
  * codegen spans can be reviewed per round.
  *
  *   runMain graft.Explain [queryName ...] [sfDir]
  *
  * Any number of query names may be given (one JVM, one session);
  * an argument starting with '/' is the sf directory.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    // the documented rule, applied literally: the sf directory is the
    // argument starting with '/' (query names never do); anything else
    // is a query name. At most ONE directory may be supplied — extra
    // dir-like args are a usage error, never silently dropped.
    val (dirs, names) = args.partition(_.startsWith("/"))
    require(dirs.length <= 1,
      s"at most one sf directory argument allowed, got: ${dirs.mkString(", ")}")
    val sfDir = dirs.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.core.Sessions.local(graft.core.Sessions.cpus(4))
    spark.sparkContext.setLogLevel("ERROR")
    val targets =
      if (names.nonEmpty) names.toSeq.map(QueryRegistry.byName)
      else QueryRegistry.all.filter(_.headline)
    targets.foreach { q =>
      // Eager queries (two-level prefix sum, rank method) execute their
      // real work inside `run` and return a driver-assembled tail whose
      // plan is a trivial LocalTableScan — explain the declared lazily-
      // planned intermediate instead, WITHOUT running the workload.
      val (df, note) = q.eagerPlan match {
        case Some(plan) =>
          (plan(spark, sfDir),
            " (eager pipeline: plan of the range-exchange/sort " +
              "intermediate; the final result is driver-assembled)")
        case None => (q.run(spark, sfDir), "")
      }
      println(s"\n===== ${q.name}$note =====")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
