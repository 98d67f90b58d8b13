package graft.similarity

import graft.{QueryRegistry, SparkSuite}
import org.apache.spark.sql.functions._

/** Pins ss_maxsim_probe's persisted multi-vector serving contract: the
  * index stores CODES (4 bytes/token, no raw vectors) in two
  * partitioned copies — cell-keyed routing, doc-bucket-keyed fetch —
  * the probe plan reads the fetch copy behind a partition filter with
  * no train pass, and every served document really is a candidate from
  * the probed cells (the routing prune is load-bearing, not
  * decorative).
  */
class MaxsimIndexSpec extends SparkSuite {

  private val dir = sf("sf0.001")

  test("both persisted copies are code-only; models bounded; builds are stable") {
    val idx   = SimilarityQueries.buildMaxsimIndex(spark, dir)
    val cells = spark.read.parquet(s"$idx/cells")
    val docs  = spark.read.parquet(s"$idx/docs")
    Seq(cells, docs).foreach { t =>
      assert(!t.columns.contains("embedding"),
        "a maxsim copy persists raw embeddings — the tier must not")
      (0 until 4).foreach { sub =>
        assert(t.schema(s"c$sub").dataType ==
          org.apache.spark.sql.types.ByteType)
      }
    }
    assert(spark.read.parquet(s"$idx/centroids").count() <= 16)
    assert(spark.read.parquet(s"$idx/codebooks").count() <= 64)
    val n = graft.Tables(spark, dir).embeddings.count()
    assert(cells.count() == n && docs.count() == n,
      "a copy dropped token rows")
    // re-entry serves the published index without rebuilding
    assert(SimilarityQueries.buildMaxsimIndex(spark, dir) == idx)
  }

  test("the probe plan fetches candidates through the pruned docs copy, no train pass") {
    val df   = QueryRegistry.byName("ss_maxsim_probe").run(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_maxsim_index"), s"no index scan in:\n$plan")
    assert(plan.contains("PartitionFilters: [dbkt"),
      s"the docs fetch is not id-bucket pruned:\n$plan")
    assert(!plan.contains("m_1") && !plan.contains("avg("),
      s"a train pass leaked into the probe plan:\n$plan")
    // the fetch copy's scan reads codes, never a vector column
    val idxScans = plan.linesIterator
      .filter(_.contains("graft_maxsim_index")).toSeq
    assert(idxScans.nonEmpty && idxScans.forall(!_.contains("embedding")),
      s"the maxsim index scan reads an embedding column:\n" +
        idxScans.mkString("\n"))
  }

  test("document-level delete == rebuild over survivors; idempotent") {
    import spark.implicits._
    val e = graft.Tables(spark, dir).embeddings
      .select(col("vec_id"), col("embedding"))
    val cents    = SimilarityQueries.trainIvfCentroids(e, 16)
    val codebook = SimilarityQueries.trainPqCodebooks(e)
    val root = java.nio.file.Files
      .createTempDirectory("graft-maxsim-delete").toString
    val dirA = s"$root/deleted"
    val dirB = s"$root/rebuilt"
    SimilarityQueries.writeMaxsimIndex(spark, e, cents, codebook, dirA)
    val purge = Seq(2L, 9L, 16L).toDF("did")
    val touched = SimilarityQueries.deleteFromMaxsimIndex(spark, dirA, purge)
    assert(touched.nonEmpty)
    Seq("cells", "docs").foreach { copy =>
      assert(spark.read.parquet(s"$dirA/$copy")
        .join(purge, Seq("did"), "left_semi").count() == 0,
        s"a purged document survived in $copy")
    }
    // idempotent: a re-applied list touches nothing
    assert(SimilarityQueries.deleteFromMaxsimIndex(spark, dirA, purge).isEmpty)
    // fixed-model rebuild over the surviving documents, both copies
    val survivors = e.filter(!expr("vec_id div 10").isin(2L, 9L, 16L))
    SimilarityQueries.writeMaxsimIndex(spark, survivors, cents, codebook, dirB)
    Seq("cells", "docs").foreach { copy =>
      val a = spark.read.parquet(s"$dirA/$copy")
      val b = spark.read.parquet(s"$dirB/$copy")
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
        s"post-delete $copy diverges from the survivor rebuild")
    }
  }

  test("every served document is a candidate from the probed cells") {
    val served = QueryRegistry.byName("ss_maxsim_probe").run(spark, dir)
      .select(col("qdoc"), col("ddoc")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(served.nonEmpty)
    // recompute the candidate set from the persisted artifact alone
    val idx   = SimilarityQueries.buildMaxsimIndex(spark, dir)
    val cents = SimilarityQueries.loadCentroids(spark, idx)
    val qv = graft.Tables(spark, dir).embeddings
      .filter(col("vec_id") < 50)
      .select(expr("vec_id div 10").as("qdoc"),
        col("vec_id").as("vec_id"), col("embedding"))
    val probes = SimilarityQueries
      .probesOfAll(qv.select(col("vec_id"), col("embedding")), cents)
      .join(qv.select(col("vec_id").as("qid"), col("qdoc")), Seq("qid"))
      .select(col("qdoc"), col("cell")).distinct()
    val cands = spark.read.parquet(s"$idx/cells")
      .select(col("did"), col("cell"))
      .join(probes, Seq("cell"))
      .filter(col("did") =!= col("qdoc"))
      .select(col("qdoc"), col("did")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(served.subsetOf(cands),
      s"served documents outside the probed-cell candidate set: " +
        s"${(served -- cands).take(5)}")
  }

  test("maintenance guards resolve against BOTH copies (half-committed crash states)") {
    // the r15 advice: upsert commits cells FIRST / docs SECOND, delete
    // purges cells FIRST / docs LAST — a guard reading only the copy
    // that commits FIRST skips the re-apply after a crash between the
    // two commits and the fetch copy diverges forever
    import spark.implicits._
    val e = graft.Tables(spark, dir).embeddings
      .select(col("vec_id"), col("embedding"))
    val cents    = SimilarityQueries.trainIvfCentroids(e, 16)
    val codebook = SimilarityQueries.trainPqCodebooks(e)
    val idx = java.nio.file.Files
      .createTempDirectory("graft-maxsim-guard").toString + "/idx"
    SimilarityQueries.writeMaxsimIndex(spark, e, cents, codebook, idx)
    val batch = e.filter(col("vec_id") < 20)
      .select((col("vec_id") + 500000).as("vec_id"), col("embedding"))
    SimilarityQueries.upsertMaxsimIndex(spark, idx, batch)
    assert(SimilarityQueries.maxsimBatchApplied(spark, idx, batch))
    // upsert crash state: cells committed, docs not — strip the
    // batch's token rows from the fetch copy only
    graft.operators.IndexMerge.delete(spark, s"$idx/docs", "dbkt",
      "vec_id", batch.select(col("vec_id")))
    assert(!SimilarityQueries.maxsimBatchApplied(spark, idx, batch),
      "a cells-only guard reports a half-committed upsert as applied")
    SimilarityQueries.upsertMaxsimIndex(spark, idx, batch) // re-apply
    assert(SimilarityQueries.maxsimBatchApplied(spark, idx, batch))
    assert(spark.read.parquet(s"$idx/docs")
      .filter(col("vec_id") >= 500000).count() == 20,
      "the re-applied upsert did not restore the fetch copy")
    // delete crash state: cells purged, docs not (batch dids 50000-1)
    val purge = Seq(50001L).toDF("did")
    graft.operators.IndexMerge.delete(spark, s"$idx/cells", "cell",
      "did", purge)
    assert(SimilarityQueries.maxsimPurgePending(spark, idx, purge),
      "a cells-only presence probe reports a half-applied purge as done")
    SimilarityQueries.deleteFromMaxsimIndex(spark, idx, purge) // re-apply
    assert(!SimilarityQueries.maxsimPurgePending(spark, idx, purge))
    assert(spark.read.parquet(s"$idx/docs")
      .filter(col("did") === 50001L).count() == 0,
      "the re-applied purge did not clean the fetch copy")
  }

  test("a batch with a duplicated vec_id fails naming the entry point and the key") {
    val e = graft.Tables(spark, dir).embeddings
      .select(col("vec_id"), col("embedding"))
    val idx = java.nio.file.Files
      .createTempDirectory("graft-maxsim-dupkey").toString + "/idx"
    SimilarityQueries.writeMaxsimIndex(spark, e,
      SimilarityQueries.trainIvfCentroids(e, 16),
      SimilarityQueries.trainPqCodebooks(e), idx)
    val batch = e.filter(col("vec_id") === 3)
      .select((col("vec_id") + 300000).as("vec_id"), col("embedding"))
    val ex = intercept[IllegalArgumentException] {
      SimilarityQueries.upsertMaxsimIndex(spark, idx, batch.unionAll(batch))
    }
    assert(ex.getMessage.contains("upsertMaxsimIndex") &&
      ex.getMessage.contains("duplicate vec_id") &&
      ex.getMessage.contains("(300003)"), ex.getMessage)
    Seq("cells", "docs").foreach { copy =>
      assert(spark.read.parquet(s"$idx/$copy")
        .filter(col("vec_id") === 300003L).count() == 0,
        s"the rejected batch landed in $copy")
    }
  }
}
