package graft.streaming

import graft.{SparkSuite, Tables}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Pins the r14 verdict's ask #5: the ingest loop's verdict log is
  * written DURABLY per micro-batch inside foreachBatch, so a stream
  * killed between batches (the worst-ordered crash: after the log
  * write, before the micro-batch commits) loses no committed verdicts,
  * and a restart on the same checkpoint converges BOTH the log and the
  * index to the straight-through run — including the retried batch's
  * verdicts, which must equal the first attempt's even though its
  * ingest already committed (the screens evaluate index-minus-batch).
  */
class IngestLogRestartSpec extends SparkSuite {

  private val dir = sf("sf0.001")

  private def docs = Tables(spark, dir).documents
    .select(col("doc_id"), col("text"))

  /** One self-contained ingest world: fresh band index over the
    * corpus, the two staged nightly batches, and the demo handler
    * (screen → ingest the admitted).
    */
  private def world(tag: String): (String, String, String, String,
      (DataFrame, Long) => Seq[Row]) = {
    import graft.dedup.{DedupQueries => DQ}
    val base = java.nio.file.Files
      .createTempDirectory(s"graft-ingest-restart-$tag").toString
    val idx = s"$base/idx"
    DQ.writeBandIndex(spark, docs, idx)
    val stage = s"$base/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(stage))
    def stageOne(df: DataFrame, name: String, mtime: Long): Unit = {
      val scratch = s"$base/scratch_$name"
      df.coalesce(1).write.mode("overwrite").parquet(scratch)
      val part = new java.io.File(scratch).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(s"$stage/$name.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(mtime)
      ()
    }
    val t0 = 1700000000000L // fixed epoch: only the ORDER matters
    stageOne(DQ.cdcIncoming(Tables(spark, dir).documents), "batch1", t0)
    stageOne(DQ.ingestBatch2(Tables(spark, dir).documents), "batch2",
      t0 + 120000L)
    // the loop's own admission step (screen → ingest the admitted)
    val handle: (DataFrame, Long) => Seq[Row] = (batch, _) =>
      DQ.BandLayout.admit(spark, idx, batch)(
        DQ.probeBandIndex(spark, idx, _, excludeBatchIds = true),
        DQ.upsertBandIndex(spark, idx, _))
    (idx, stage, s"$base/logparts", s"$base/ckpt", handle)
  }

  private def logRows(logParts: String): Seq[(Long, String, Double)] =
    spark.read.parquet(logParts)
      .select(col("doc_id"), col("status"), col("best_jac"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSeq.sorted

  private def sigIds(idx: String): Set[Long] =
    spark.read.schema("doc_id LONG, sh ARRAY<LONG>, sbkt INT")
      .parquet(s"$idx/sigs").select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet

  test("kill between batches; restart converges log and index") {
    val schema = "doc_id LONG, text STRING"
    val logDdl = "doc_id LONG, status STRING, best_jac DOUBLE"

    // straight-through twin: the convergence target
    val (idxD, stageD, logD, ckptD, handleD) = world("direct")
    IngestStream.run(spark, stageD, schema, logDdl,
      logD, ckptD, handleD)

    // crashed run: batch 0's verdicts land and its ingest commits, then
    // the stream dies BEFORE the micro-batch commit — the worst order
    val (idxC, stageC, logC, ckptC, handleC) = world("crashed")
    val thrown = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      IngestStream.run(spark, stageC, schema, logDdl,
        logC, ckptC, handleC, failAfterBatch = Some(0L))
    }
    assert(thrown.getMessage.contains("injected crash"),
      s"unexpected failure: ${thrown.getMessage}")
    // the committed batch's verdicts survived the crash, durably
    assert(new java.io.File(s"$logC/mbatch=0").exists(),
      "batch 0's verdict partition did not land inside foreachBatch")
    val batch0 = logRows(logC)
    assert(batch0.nonEmpty)

    // restart on the same checkpoint: batch 0 retries (its offset never
    // committed), batch 1 runs — log and index must equal the
    // straight-through run, including batch 0's verdicts (the screen
    // evaluates index-minus-batch, so the committed ingest is invisible
    // to its own retry)
    IngestStream.run(spark, stageC, schema, logDdl,
      logC, ckptC, handleC)
    assert(logRows(logC) == logRows(logD),
      "restarted log diverged from the straight-through run")
    assert(sigIds(idxC) == sigIds(idxD),
      "restarted index diverged from the straight-through run")
    // batch 0's surviving rows are the first attempt's, not self-dups
    assert(logRows(logC).filter(r => batch0.exists(_._1 == r._1)) == batch0,
      "the retried batch rewrote its first attempt's verdicts")
  }
}
