package graft.dedup

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins upsertBandIndex's maintenance contract against the one oracle
  * that matters: a from-scratch writeBandIndex over the same final
  * corpus — bands row-set, hot-tombstone key-set, and signature-set
  * all identical, INCLUDING the over-cap transition (a stored band
  * pushed past 50 members by the batch must drop its rows and gain a
  * tombstone). The append-only admission preconditions fail loudly.
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

  private def hotOf(idx: String): Set[String] =
    spark.read.schema("bh STRING, bkt INT").parquet(s"$idx/hot").select(col("bh"))
      .collect().map(_.getString(0)).toSet

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
    assert(hotOf(upserted) == hotOf(rebuilt),
      "hot tombstones diverge from the rebuild")
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

  test("the staged commit keeps the bands part-stats sidecar exact (r15 verdict task 5)") {
    // the named staleness: the band family maintains its bands table
    // through the STAGED path (hot-band suppression), which before r16
    // did not touch the sidecar — one suppression pass would leave
    // stale ranges that mis-prune every later locating pass
    val idx = tmpIdx("m")
    DedupQueries.writeBandIndex(spark, docs, idx)
    val b1 = docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 900000).as("doc_id"), col("text"))
    DedupQueries.upsertBandIndex(spark, idx, b1)
    assertSidecarFresh(s"$idx/bands", "doc_id LONG, bh STRING, bkt INT",
      "bkt", "bands after staged upsert")
    // a second staged pass over overlapping buckets must stay exact
    val b2 = docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 950000).as("doc_id"), col("text"))
    DedupQueries.upsertBandIndex(spark, idx, b2)
    assertSidecarFresh(s"$idx/bands", "doc_id LONG, bh STRING, bkt INT",
      "bkt", "bands after second staged upsert")
    // the delete path: bands recommit through the staged path, sigs
    // through the kernel delete — both sidecars must stay exact
    import spark.implicits._
    val purge = (0L to 200L by 5).toDF("doc_id")
    DedupQueries.deleteFromBandIndex(spark, idx, purge)
    assertSidecarFresh(s"$idx/bands", "doc_id LONG, bh STRING, bkt INT",
      "bkt", "bands after delete")
    assertSidecarFresh(s"$idx/sigs", "doc_id LONG, sh ARRAY<LONG>, sbkt INT",
      "sbkt", "sigs after delete")
    // the one OUT-OF-KERNEL write (the sigs admission append) must
    // keep the live sigs sidecar exact via the bucket refresh — a
    // stale range here would make the next purge's pruned locate miss
    // the appended signatures
    val b3 = docs.filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + 970000).as("doc_id"), col("text"))
    DedupQueries.upsertBandIndex(spark, idx, b3)
    assertSidecarFresh(s"$idx/sigs", "doc_id LONG, sh ARRAY<LONG>, sbkt INT",
      "sbkt", "sigs after the post-delete admission append")
  }

  test("a band pushed past the cap drops its rows and gains a tombstone") {
    // synthetic corpus engineered for the transition: 30 near-identical
    // docs share every band; 25 more arrive in the batch, pushing the
    // shared bands to 55 > 50 — the rebuild caps them out, and the
    // upsert must reproduce that exactly
    import spark.implicits._
    def clones(ids: Range): DataFrame = ids
      .map(i => (i.toLong, "the same boilerplate sentence repeated verbatim"))
      .toDF("doc_id", "text")
    val idx = tmpIdx("h")
    DedupQueries.writeBandIndex(spark, clones(0 until 30), idx)
    assert(hotOf(idx).isEmpty && bandsOf(idx).nonEmpty)
    DedupQueries.upsertBandIndex(spark, idx, clones(30 until 55))
    assert(bandsOf(idx).isEmpty,
      "rows of an over-cap band survived the upsert")
    assert(hotOf(idx).nonEmpty, "no tombstone for the over-cap band")
    val rebuilt = tmpIdx("h2")
    DedupQueries.writeBandIndex(spark, clones(0 until 55), rebuilt)
    assert(hotOf(idx) == hotOf(rebuilt) && bandsOf(idx) == bandsOf(rebuilt))
    // and hot stays hot: another batch of clones must not resurrect it
    DedupQueries.upsertBandIndex(spark, idx, clones(55 until 60))
    assert(bandsOf(idx).isEmpty && hotOf(idx) == hotOf(rebuilt))
  }

  test("a batch whose docs all tokenize to zero shingles is a no-op") {
    import spark.implicits._
    val idx = tmpIdx("z")
    DedupQueries.writeBandIndex(spark, docs, idx)
    val (b0, h0, s0) = (bandsOf(idx), hotOf(idx), sigIdsOf(idx))
    // shingling needs ≥ 3 tokens; these produce no signature at all
    val shingleless = Seq((910000L, "too short"), (910001L, "x"))
      .toDF("doc_id", "text")
    val touched = DedupQueries.upsertBandIndex(spark, idx, shingleless)
    assert(touched.isEmpty, "zero-shingle batch touched buckets")
    assert(bandsOf(idx) == b0 && hotOf(idx) == h0 && sigIdsOf(idx) == s0,
      "zero-shingle batch mutated the index")
  }

  test("crash between hot swap and bands swap repairs on re-run") {
    // reproduce the exact r11-advice crash window: the upsert published
    // the new tombstones to hot/ but crashed before swapping the bands
    // buckets and before the sigs commit point. The re-run (sigs says
    // the batch never applied) must converge to the rebuild — the
    // repair anti-join drops the now-hot band's surviving stored rows.
    import spark.implicits._
    def clones(ids: Range): DataFrame = ids
      .map(i => (i.toLong, "the same boilerplate sentence repeated verbatim"))
      .toDF("doc_id", "text")
    val idx = tmpIdx("c")
    DedupQueries.writeBandIndex(spark, clones(0 until 30), idx)
    val rebuilt = tmpIdx("c2")
    DedupQueries.writeBandIndex(spark, clones(0 until 55), rebuilt)
    // plant the post-crash state: hot/ = the new tombstones (the batch
    // pushes every shared band past the cap), bands + sigs untouched
    val plantedHot = spark.read
      .schema("bh STRING, bkt INT").parquet(s"$rebuilt/hot")
    val hotTmp = s"$idx/hot__crashplant"
    plantedHot.coalesce(1).write.mode("overwrite").parquet(hotTmp)
    graft.operators.Maintenance.swapDirs(spark, hotTmp, s"$idx/hot")
    spark.catalog.refreshByPath(idx)
    assert(bandsOf(idx).nonEmpty && hotOf(idx) == hotOf(rebuilt))
    DedupQueries.upsertBandIndex(spark, idx, clones(30 until 55))
    assert(bandsOf(idx) == bandsOf(rebuilt),
      "post-crash re-run left stored rows of a tombstoned band")
    assert(hotOf(idx) == hotOf(rebuilt) && sigIdsOf(idx) == sigIdsOf(rebuilt))
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
