package graft.similarity

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the IVF write path's job budget: one `upsertIvfIndex` (route
  * read, route add, data merge, route settle) and one
  * `deleteFromIvfIndex` (route read, data delete, route drop) launch a
  * fixed handful of Spark jobs whatever the batch — the kernel's one
  * locating scan, one commit and one sidecar write per call. Before the
  * fused locating pass the same calls ran 77 and 44 jobs, almost all of
  * them driver orchestration; the bounds below leave headroom over the
  * measured 13 and 9 but fail long before that chatter could return.
  */
class IvfWriteBudgetSpec extends SparkSuite {

  private val dir = sf("sf0.001")
  private val UpsertBudget = 30
  private val DeleteBudget = 20

  private def jobsOf[T](body: => T): (T, Int) =
    graft.JobCount.jobsOf(spark, "ivf-write-budget")(body)

  private def local(df: DataFrame): DataFrame =
    spark.createDataFrame(df.collectAsList(), df.schema)

  private def cellIds(idx: String): Set[Long] =
    spark.read.parquet(s"$idx/cells").select(col("vec_id"))
      .collect().map(_.getLong(0)).toSet

  test("an IVF upsert and delete stay inside the job budget, cold and warm") {
    val e = graft.Tables(spark, dir).embeddings
      .select(col("vec_id"), col("embedding"))
    val idx = java.nio.file.Files
      .createTempDirectory("graft_ivf_budget_spec").toString + "/idx"
    SimilarityQueries.writeIvfIndex(spark, e,
      SimilarityQueries.trainIvfCentroids(e, SimilarityQueries.GateK), idx)

    // the benchmark's round shape: new ids plus perturbed live ids,
    // then a purge of other live ids
    def upsertBatch(r: Int): DataFrame =
      e.filter(col("vec_id") % 10 === r)
        .withColumn("vec_id", col("vec_id") + lit(1000000L * (r + 1)))
        .unionByName(e.filter(col("vec_id") % 10 === r + 5)
          .withColumn("embedding",
            transform(col("embedding"), x => (x * lit(1.01f)).cast("float"))))
    def purge(r: Int): DataFrame =
      e.filter(col("vec_id") % 10 === r + 2).select(col("vec_id"))

    for (r <- 0 to 1) {
      val up = local(upsertBatch(r))
      val (_, upJobs) = jobsOf(SimilarityQueries.upsertIvfIndex(spark, idx, up))
      assert(upJobs <= UpsertBudget,
        s"round $r: upsertIvfIndex ran $upJobs jobs (budget $UpsertBudget)")
      val del = local(purge(r))
      val (touched, delJobs) =
        jobsOf(SimilarityQueries.deleteFromIvfIndex(spark, idx, del))
      assert(touched.nonEmpty)
      assert(delJobs <= DeleteBudget,
        s"round $r: deleteFromIvfIndex ran $delJobs jobs (budget $DeleteBudget)")
      val ids = cellIds(idx)
      assert(up.select(col("vec_id")).collect().map(_.getLong(0))
        .forall(ids.contains), s"round $r: an upserted id is missing")
      assert(del.collect().map(_.getLong(0)).forall(id => !ids.contains(id)),
        s"round $r: a purged id survived")
    }
    // a batch that is a lazy plan (not a driver-local relation) pays its
    // own materialization, still inside the budget
    val (_, lazyJobs) =
      jobsOf(SimilarityQueries.upsertIvfIndex(spark, idx, upsertBatch(3)))
    assert(lazyJobs <= UpsertBudget,
      s"lazy-batch upsertIvfIndex ran $lazyJobs jobs (budget $UpsertBudget)")
  }
}
