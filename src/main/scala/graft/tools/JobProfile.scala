package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.{col, lit, max, transform}

/** Dev profiler: runs a named registry query once (after a warm pass)
  * with a job listener attached and prints every Spark job's wall time
  * plus the driver-side GAP before it — planning, footer reads,
  * checkpoint setup, anything that is not a running job. The gap/job
  * split is the first question of any per-query optimization: a query
  * dominated by gaps needs fewer actions or cheaper planning, one
  * dominated by a single job needs a better plan (guide §1.1).
  *
  * Each job is labelled with its first `graft.` call-site frame — from
  * the SQL execution's `details` when the job runs under one, else from
  * its stages' details (plain RDD actions) — so two collects in one
  * kernel read as two different lines of source, not as two
  * `collect at <console>` stage names.
  *
  * Besides registry names, the target `ivf_write` profiles the IVF
  * write path: one warm upsert (100 new + 100 replaced vectors) and one
  * delete (50 ids) against a private index built from the scale
  * factor's embeddings, after one unprofiled warm-up upsert and delete.
  *
  * Usage: `sbt "runMain graft.tools.JobProfile ev_stream_left_join ivf_write ..."`
  * (SPARK_GRAFT_SF_DIR selects the scale factor, default sf0.1).
  */
object JobProfile {
  private final case class JobRec(id: Int, site: String, start: Long, var end: Long)

  /** `Class.method:line` of the first `graft.` frame of a Spark
    * call-site long form (innermost user frame first), if any.
    */
  private[graft] def graftFrame(details: String): Option[String] = {
    val frame = """graft\.(?:\w+\.)*?([\w$]+)\.([\w$]+)\([^:)]*:(\d+)\)""".r
    Option(details).iterator.flatMap(_.split("\n")).map(_.trim)
      .find(_.startsWith("graft."))
      .map {
        case frame(cls, meth, line) =>
          val m = meth.split("\\$").filter(_.nonEmpty)
            .filterNot(p => p == "anonfun" || p.forall(_.isDigit))
            .headOption.getOrElse(meth)
          s"${cls.stripSuffix("$")}.$m:$line"
        case other => other
      }
  }

  /** Records every job with its call-site label while attached. */
  private final class Recorder extends SparkListener {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[JobRec]()
    private val open = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    private val execSites = new java.util.concurrent.ConcurrentHashMap[Long, String]()

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        graftFrame(x.details).foreach(execSites.put(x.executionId, _))
      case _ =>
    }
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val fromExec = Option(js.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(execSites.get(id.toLong)))
      val site = fromExec
        .orElse(js.stageInfos.iterator.flatMap(si => graftFrame(si.details))
          .toSeq.headOption)
        .getOrElse(js.stageInfos.lastOption.map(_.name).getOrElse("?"))
      val r = JobRec(js.jobId, site.take(90), js.time, -1L)
      open.put(js.jobId, r); jobs.add(r)
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit = {
      val r = open.remove(je.jobId)
      if (r != null) r.end = je.time
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.core.Sessions.local(graft.core.Sessions.cpus(32))
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    def exec(df: DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    args.foreach {
      case "ivf_write" =>
        val w = new IvfWrite(spark, dir)
        w.upsert(0)(); w.delete(0)() // warm
        val (up, del) = (w.upsert(1), w.delete(1))
        profile(spark, "ivf_write upsert")(up())
        profile(spark, "ivf_write delete")(del())
      case name =>
        val q = graft.QueryRegistry.byName(name)
        try exec(q.run(spark, dir)) // warm
        catch { case e: Throwable => println(s"[warm] $name failed: ${e.getMessage}") }
        profile(spark, name)(exec(q.run(spark, dir)))
    }
    spark.stop()
  }

  /** Run `body` once with a [[Recorder]] attached and print its job
    * table: per job the gap before it, its wall time and call site.
    */
  private def profile(spark: SparkSession, name: String)(body: => Unit): Unit = {
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    val t0 = System.currentTimeMillis()
    body
    val t1 = System.currentTimeMillis()
    org.apache.spark.sql.graft.Bridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(rec)
    val recs = rec.jobs.toArray(Array.empty[JobRec]).sortBy(_.start)
    println(f"\n===== $name total ${(t1 - t0) / 1e3}%.3f s, ${recs.length} jobs =====")
    var cursor = t0
    var jobMs = 0L
    var gapMs = 0L
    recs.foreach { r =>
      val gap = math.max(0L, r.start - cursor)
      val durEnd = if (r.end > 0) r.end else t1
      val dur = math.max(0L, durEnd - math.max(r.start, cursor))
      gapMs += gap
      jobMs += dur
      cursor = math.max(cursor, durEnd)
      println(f"  gap ${gap / 1e3}%6.3f s | job ${r.id}%4d ${dur / 1e3}%6.3f s  ${r.site}")
    }
    val tailGap = math.max(0L, t1 - cursor)
    gapMs += tailGap
    println(f"  gap ${tailGap / 1e3}%6.3f s | (tail)")
    println(f"  TOTAL job ${jobMs / 1e3}%.3f s, driver-gap ${gapMs / 1e3}%.3f s")
    println("  by call site: " + recs.groupBy(_.site).toSeq
      .sortBy { case (site, rs) => (-rs.length, site) }
      .map { case (site, rs) => s"${rs.length}x $site" }.mkString(", "))
  }

  /** A private IVF index over `dir`'s embeddings and the churn ops
    * the `ivf_write` target applies to it (the perfbench `index_churn`
    * round shape: 100 new ids + 100 perturbed live ids, 50 deletes).
    */
  private final class IvfWrite(spark: SparkSession, dir: String) {
    import graft.similarity.SimilarityQueries
    private val e = graft.Tables(spark, dir).embeddings
      .select(col("vec_id"), col("embedding"))
    private val idx = java.nio.file.Files
      .createTempDirectory("graft_jobprofile_ivf").toString + "/idx"
    SimilarityQueries.writeIvfIndex(spark, e,
      SimilarityQueries.trainIvfCentroids(e, SimilarityQueries.GateK), idx)
    private val maxId = e.agg(max(col("vec_id"))).head().getLong(0)

    private def local(df: DataFrame): DataFrame =
      spark.createDataFrame(df.collectAsList(), df.schema)

    /** Round `r`'s upsert, its batch already loaded. */
    def upsert(r: Int): () => Unit = {
      val fresh = e.filter(col("vec_id") % 10 === r).limit(100)
        .withColumn("vec_id", col("vec_id") + lit((r + 1) * (maxId + 1)))
      val moved = e.filter(col("vec_id") % 10 === r + 5).limit(100)
        .withColumn("embedding",
          transform(col("embedding"), x => (x * lit(1.01f)).cast("float")))
      val batch = local(fresh.unionByName(moved))
      () => SimilarityQueries.upsertIvfIndex(spark, idx, batch)
    }

    /** Round `r`'s delete, its purge list already loaded. */
    def delete(r: Int): () => Unit = {
      val purge = local(e.filter(col("vec_id") % 10 === r + 2).limit(50)
        .select(col("vec_id")))
      () => SimilarityQueries.deleteFromIvfIndex(spark, idx, purge)
    }
  }
}
