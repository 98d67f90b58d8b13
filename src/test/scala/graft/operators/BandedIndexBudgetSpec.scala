package graft.operators

import graft.SparkSuite
import graft.dedup.DedupQueries
import graft.multimodal.Multimodal
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the banded near-dup indexes' write-path job budget: one
  * upsert (uniqueness check, one id collect, one presence read over
  * only the batch ids' sig buckets, the bands merge through the
  * bandmap route, the sigs merge) and one delete (id collect, presence
  * read, route read, bands delete, route drop, sigs delete) launch a
  * fixed handful of Spark jobs whatever the batch, for the MinHash band
  * index and the media index alike — they share one implementation
  * ([[BandedIndex]]). The bounds leave headroom over the measured
  * counts (CHANGES.md records them next to the parent's).
  */
class BandedIndexBudgetSpec extends SparkSuite {

  private val dir = sf("sf0.001")
  private val UpsertBudget = 30
  private val DeleteBudget = 20

  private def jobsOf[T](body: => T): (T, Int) =
    graft.JobCount.jobsOf(spark, "banded-write-budget")(body)

  private def local(df: DataFrame): DataFrame =
    spark.createDataFrame(df.collectAsList(), df.schema)

  private def tmpIdx(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_banded_budget_$tag")
      .toString + "/idx"

  private def within(what: String, jobs: Int, budget: Int): Unit = {
    info(s"$what: $jobs jobs")
    assert(jobs <= budget, s"$what ran $jobs jobs (budget $budget)")
  }

  test("a band-index upsert and delete stay inside the job budget") {
    val docs = graft.Tables(spark, dir).documents
      .select(col("doc_id"), col("text"))
    val idx = tmpIdx("band")
    DedupQueries.writeBandIndex(spark, docs, idx)
    for (r <- 0 to 1) {
      val batch = local(docs.filter(col("doc_id") % 5 === r)
        .select((col("doc_id") + lit(900000L * (r + 1))).as("doc_id"),
          col("text")))
      val (touched, up) =
        jobsOf(DedupQueries.upsertBandIndex(spark, idx, batch))
      assert(touched.nonEmpty)
      within(s"round $r: upsertBandIndex", up, UpsertBudget)
      val purge = local(docs.filter(col("doc_id") % 7 === r)
        .select(col("doc_id")))
      val (gone, del) =
        jobsOf(DedupQueries.deleteFromBandIndex(spark, idx, purge))
      assert(gone.nonEmpty)
      within(s"round $r: deleteFromBandIndex", del, DeleteBudget)
    }
  }

  test("a media-index upsert and delete stay inside the job budget") {
    val all = local(Multimodal.Image.corpusHashes(spark, dir))
    val idx = tmpIdx("media")
    Multimodal.writeMediaIndex(spark, all.filter(col("media_id") % 5 =!= 0),
      idx)
    for (r <- 0 to 1) {
      val batch = local(all.filter(col("media_id") % 5 === 0)
        .select((col("media_id") + lit(900000L * r)).as("media_id"),
          col("dhash")))
      val (touched, up) =
        jobsOf(Multimodal.upsertMediaIndex(spark, idx, batch))
      assert(touched.nonEmpty)
      within(s"round $r: upsertMediaIndex", up, UpsertBudget)
      val purge = local(all.filter(col("media_id") % 9 === r)
        .select(col("media_id")))
      val (gone, del) =
        jobsOf(Multimodal.deleteFromMediaIndex(spark, idx, purge))
      assert(gone.nonEmpty)
      within(s"round $r: deleteFromMediaIndex", del, DeleteBudget)
    }
  }
}
