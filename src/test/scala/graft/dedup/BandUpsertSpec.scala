package graft.dedup

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins upsertBandIndex's maintenance contract against the one oracle
  * that matters: a from-scratch writeBandIndex over the same final
  * corpus — bands row-set, signature-set and probe output all
  * identical, INCLUDING the over-cap transition (a band pushed past 50
  * members by the batch stops yielding candidates at probe time). The
  * append-only admission preconditions fail loudly, and a foreachBatch
  * retry's screen reproduces the first attempt's verdicts.
  */
class BandUpsertSpec extends SparkSuite {

  private val dir = sf("sf0.001")

  private def docs: DataFrame =
    graft.Tables(spark, dir).documents.select(col("doc_id"), col("text"))

  private def tmpIdx(tag: String): String = {
    val d = java.nio.file.Files
      .createTempDirectory(s"graft_bandup_spec_$tag").toFile
    d.deleteOnExit()
    d.getAbsolutePath + "/idx"
  }

  private def bandsOf(idx: String): Set[(Long, String)] =
    spark.read.schema("doc_id LONG, bh STRING, bkt INT").parquet(s"$idx/bands").select(col("doc_id"), col("bh"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet

  private def probeOf(idx: String, batch: DataFrame,
      excludeBatchIds: Boolean = false): Seq[(Long, String, Double)] =
    DedupQueries.probeBandIndex(spark, idx, batch, excludeBatchIds)
      .collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))

  private def clones(ids: Range): DataFrame = {
    import spark.implicits._
    ids.map(i => (i.toLong, "the same boilerplate sentence repeated verbatim"))
      .toDF("doc_id", "text")
  }

  /** One more clone under a never-indexed id: it shares every band of
    * the clone fixture, so it is 'dup' exactly when those bands are
    * under the cap. */
  private def cloneProbe: DataFrame = clones(1000 until 1001)

  private def sigIdsOf(idx: String): Set[Long] =
    spark.read.schema("doc_id LONG, sh ARRAY<LONG>, sbkt INT")
      .parquet(s"$idx/sigs").select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet

  test("index after upsert equals a from-scratch rebuild") {
    val fresh = docs.filter(col("source").isNull || lit(true))
      .filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 900000).as("doc_id"), col("text"))
    val upserted = tmpIdx("u")
    DedupQueries.writeBandIndex(spark, docs, upserted)
    val touched = DedupQueries.upsertBandIndex(spark, upserted, fresh)
    assert(touched.nonEmpty && touched.forall(b => b >= 0 && b < 16))

    val rebuilt = tmpIdx("r")
    DedupQueries.writeBandIndex(spark, docs.unionByName(fresh), rebuilt)

    assert(bandsOf(upserted) == bandsOf(rebuilt),
      "upserted bands diverge from the rebuild")
    val incoming = DedupQueries.cdcIncoming(graft.Tables(spark, dir).documents)
    assert(probeOf(upserted, incoming) == probeOf(rebuilt, incoming),
      "probe of the upserted index diverges from the rebuild's")
    assert(sigIdsOf(upserted) == sigIdsOf(rebuilt),
      "signatures diverge from the rebuild")
  }

  private def sidecarOf(tbl: String): Option[Map[Int, (Long, Long, Long)]] = {
    val p = new org.apache.hadoop.fs.Path(s"$tbl/_meta/part_stats/_SUCCESS")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else Some(spark.read.parquet(s"$tbl/_meta/part_stats")
      .collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap)
  }

  private def recount(tbl: String, schema: String,
      partCol: String): Map[Int, (Long, Long, Long)] =
    spark.read.schema(schema).parquet(tbl)
      .groupBy(col(partCol))
      .agg(min(col("doc_id")), max(col("doc_id")), count(lit(1)))
      .collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap

  /** Every sidecar row present must be EXACT (absent rows only cost a
    * scan; a stale PRESENT row would mis-prune a later locate).
    */
  private def assertSidecarFresh(tbl: String, schema: String,
      partCol: String, what: String): Unit = {
    val side = sidecarOf(tbl)
    assert(side.exists(_.nonEmpty), s"$what: no part-stats sidecar")
    val full = recount(tbl, schema, partCol)
    val stale = side.get.filterNot { case (k, v) => full.get(k).contains(v) }
    assert(stale.isEmpty, s"$what: stale sidecar rows $stale vs $full")
  }

  test("upsert and delete keep the bands and sigs part-stats sidecars exact") {
    // a stale PRESENT sidecar row would mis-prune every later locating
    // pass: both tables must stay exact through upserts over
    // overlapping buckets, a delete, and an upsert after the delete
    val idx = tmpIdx("m")
    DedupQueries.writeBandIndex(spark, docs, idx)
    val b1 = docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 900000).as("doc_id"), col("text"))
    DedupQueries.upsertBandIndex(spark, idx, b1)
    assertSidecarFresh(s"$idx/bands", "doc_id LONG, bh STRING, bkt INT",
      "bkt", "bands after upsert")
    // a second pass over overlapping buckets must stay exact
    val b2 = docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 950000).as("doc_id"), col("text"))
    DedupQueries.upsertBandIndex(spark, idx, b2)
    assertSidecarFresh(s"$idx/bands", "doc_id LONG, bh STRING, bkt INT",
      "bkt", "bands after second upsert")
    // the delete path: bands through the route, sigs through the
    // kernel delete — both sidecars must stay exact
    import spark.implicits._
    val purge = (0L to 200L by 5).toDF("doc_id")
    DedupQueries.deleteFromBandIndex(spark, idx, purge)
    assertSidecarFresh(s"$idx/bands", "doc_id LONG, bh STRING, bkt INT",
      "bkt", "bands after delete")
    assertSidecarFresh(s"$idx/sigs", "doc_id LONG, sh ARRAY<LONG>, sbkt INT",
      "sbkt", "sigs after delete")
    // the next admission's sigs merge must keep the live sigs sidecar
    // exact — a stale range here would make the next purge's pruned
    // locate miss the admitted signatures
    val b3 = docs.filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + 970000).as("doc_id"), col("text"))
    DedupQueries.upsertBandIndex(spark, idx, b3)
    assertSidecarFresh(s"$idx/sigs", "doc_id LONG, sh ARRAY<LONG>, sbkt INT",
      "sbkt", "sigs after the post-delete admission")
  }

  test("a band pushed past the cap stops yielding candidates, as in the rebuild") {
    // 30 near-identical docs share every band; 25 more arrive in the
    // batch, pushing the shared bands to 55 > 50 — the rebuild's probe
    // caps them out, and the upserted index's probe must agree
    val idx = tmpIdx("h")
    DedupQueries.writeBandIndex(spark, clones(0 until 30), idx)
    assert(probeOf(idx, cloneProbe).head._2 == "dup",
      "fixture: the under-cap shared bands yield no candidate")
    DedupQueries.upsertBandIndex(spark, idx, clones(30 until 55))
    val rebuilt = tmpIdx("h2")
    DedupQueries.writeBandIndex(spark, clones(0 until 55), rebuilt)
    assert(bandsOf(idx) == bandsOf(rebuilt))
    assert(probeOf(idx, cloneProbe) == probeOf(rebuilt, cloneProbe),
      "probe of the upserted index diverges from the rebuild's")
    assert(probeOf(idx, cloneProbe) == Seq((1000L, "new", 0.0)),
      "an over-cap band still yields candidates")
    // and hot stays hot: another batch of clones keeps it capped
    DedupQueries.upsertBandIndex(spark, idx, clones(55 until 60))
    val rebuilt60 = tmpIdx("h3")
    DedupQueries.writeBandIndex(spark, clones(0 until 60), rebuilt60)
    assert(probeOf(idx, cloneProbe) == probeOf(rebuilt60, cloneProbe) &&
      probeOf(idx, cloneProbe) == Seq((1000L, "new", 0.0)),
      "a second clone batch un-capped the band")
  }

  test("the hot-band cap keeps a band of exactly HotBandCap members and drops one more") {
    import spark.implicits._
    val cap = graft.operators.BandedIndex.HotBandCap
    assert(cap == 50)
    // synthetic stored rows: band "at" has exactly cap members, band
    // "over" one more; a third, unprobed band must not appear at all
    val stored = ((0 until cap).map(i => (i.toLong, "at", 0)) ++
      (0 to cap).map(i => (1000L + i, "over", 1)) ++
      Seq((5000L, "unprobed", 2)))
      .toDF("doc_id", "bh", "bkt")
    val probed = Seq("at", "over").toDF("bh")
    val kept = DedupQueries.BandLayout.belowCap(stored, probed)
      .groupBy(col("bh")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept == Map("at" -> cap.toLong),
      s"belowCap kept $kept; a band of exactly $cap members must " +
        s"survive and one of ${cap + 1} must drop")
  }

  test("a retried screen reproduces the first attempt's verdicts across the cap") {
    // the foreachBatch retry contract of probeBandIndex(excludeBatchIds):
    // 45 clones in the index, 10 more arrive — the first attempt
    // screens them against 45 members (under the cap), and a retry
    // after the committed upsert (55 stored) must screen them against
    // the same 45, not against a band the upsert pushed over the cap
    val idx = tmpIdx("retry")
    DedupQueries.writeBandIndex(spark, clones(0 until 45), idx)
    val batch = clones(100 until 110)
    val first = probeOf(idx, batch, excludeBatchIds = true)
    assert(first.nonEmpty && first.forall(_._2 == "dup"),
      s"fixture: the first attempt did not screen dup: $first")
    DedupQueries.upsertBandIndex(spark, idx, batch)
    assert(probeOf(idx, batch, excludeBatchIds = true) == first,
      "the retried screen's verdicts differ from the first attempt's")
  }

  test("a batch whose docs all tokenize to zero shingles is a no-op") {
    import spark.implicits._
    val idx = tmpIdx("z")
    DedupQueries.writeBandIndex(spark, docs, idx)
    val (b0, s0) = (bandsOf(idx), sigIdsOf(idx))
    // shingling needs ≥ 3 tokens; these produce no signature at all
    val shingleless = Seq((910000L, "too short"), (910001L, "x"))
      .toDF("doc_id", "text")
    val touched = DedupQueries.upsertBandIndex(spark, idx, shingleless)
    assert(touched.isEmpty, "zero-shingle batch touched buckets")
    assert(bandsOf(idx) == b0 && sigIdsOf(idx) == s0,
      "zero-shingle batch mutated the index")
  }

  test("crash after the bands and route commit, before the sigs commit, converges to the rebuild") {
    // the upsert's one crash window: bands and the bandmap route are
    // committed, the sigs commit point is not. Plant it by restoring
    // the pre-upsert sigs over a completed upsert; the re-run (sigs say
    // the batch never applied) must converge to the rebuild — the route
    // lists the batch's band buckets, so the bands merge replaces the
    // already-committed rows instead of duplicating them
    val fresh = docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 900000).as("doc_id"), col("text"))
      .unionByName(clones(800000 until 800055))
    val idx = tmpIdx("c")
    DedupQueries.writeBandIndex(spark, docs, idx)
    val sigsSnapshot = tmpIdx("c_sigs")
    spark.read.schema("doc_id LONG, sh ARRAY<LONG>, sbkt INT")
      .parquet(s"$idx/sigs")
      .write.mode("overwrite").partitionBy("sbkt").parquet(sigsSnapshot)
    DedupQueries.upsertBandIndex(spark, idx, fresh)
    val planted = s"$idx/sigs__crashplant"
    spark.read.parquet(sigsSnapshot)
      .write.mode("overwrite").partitionBy("sbkt").parquet(planted)
    graft.operators.Maintenance.swapDirs(spark, planted, s"$idx/sigs")
    spark.catalog.refreshByPath(idx)
    assert((sigIdsOf(idx) & fresh.select(col("doc_id")).collect()
      .map(_.getLong(0)).toSet).isEmpty, "fixture: sigs still carry the batch")
    DedupQueries.upsertBandIndex(spark, idx, fresh)
    val rebuilt = tmpIdx("c2")
    DedupQueries.writeBandIndex(spark, docs.unionByName(fresh), rebuilt)
    def bandRows(i: String): Long =
      spark.read.schema("doc_id LONG, bh STRING, bkt INT")
        .parquet(s"$i/bands").count()
    assert(bandsOf(idx) == bandsOf(rebuilt) &&
      bandRows(idx) == bandRows(rebuilt),
      "post-crash re-run left duplicate or stale band rows")
    assert(sigIdsOf(idx) == sigIdsOf(rebuilt))
    val incoming = DedupQueries.cdcIncoming(graft.Tables(spark, dir).documents)
      .unionByName(cloneProbe)
    assert(probeOf(idx, incoming) == probeOf(rebuilt, incoming),
      "probe after the re-run diverges from the rebuild's")
  }

  test("append-only admission: existing or duplicate ids fail loudly") {
    val idx = tmpIdx("a")
    DedupQueries.writeBandIndex(spark, docs, idx)
    val resubmit = docs.filter(col("doc_id") === 0)
    val e1 = intercept[IllegalArgumentException] {
      DedupQueries.upsertBandIndex(spark, idx, resubmit)
    }
    assert(e1.getMessage.contains("already indexed"))
    val fresh = docs.filter(col("doc_id") === 0)
      .select((col("doc_id") + 900000).as("doc_id"), col("text"))
    val e2 = intercept[IllegalArgumentException] {
      DedupQueries.upsertBandIndex(spark, idx, fresh.unionAll(fresh))
    }
    assert(e2.getMessage.contains("duplicate doc_id"))
  }

  test("a batch with a duplicated doc_id fails naming the entry point and the key") {
    val idx = tmpIdx("dupkey")
    DedupQueries.writeBandIndex(spark, docs, idx)
    val fresh = docs.filter(col("doc_id") === 0)
      .select((col("doc_id") + 900000).as("doc_id"), col("text"))
    val e = intercept[IllegalArgumentException] {
      DedupQueries.upsertBandIndex(spark, idx, fresh.unionAll(fresh))
    }
    assert(e.getMessage.contains("upsertBandIndex") &&
      e.getMessage.contains("duplicate doc_id") &&
      e.getMessage.contains("(900000)"), e.getMessage)
    assert(!sigIdsOf(idx).contains(900000L), "the rejected batch landed")
  }
}
