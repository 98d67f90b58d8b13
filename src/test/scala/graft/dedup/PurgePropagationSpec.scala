package graft.dedup

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the purge-propagation contract for the text (inverted) and
  * band (MinHash) persisted indexes: deleting the purge list from a
  * live index must equal a from-scratch rebuild over the surviving
  * corpus — including the band index's probe-time cap (a capped band
  * whose surviving member count drops back under the cap yields
  * candidates again) — and a purged doc_id must be unreachable through
  * every index structure afterwards. Crash states converge: each
  * delete re-applied from its documented mid-crash point reaches the
  * same final index. (The IVF twin lives in
  * graft.similarity.IvfDeleteSpec, next to its private helpers.)
  */
class PurgePropagationSpec extends SparkSuite {

  private val dir = sf("sf0.001")

  private def docs: DataFrame =
    graft.Tables(spark, dir).documents.select(col("doc_id"), col("text"))

  private def tmpIdx(tag: String): String = {
    val d = java.nio.file.Files
      .createTempDirectory(s"graft_purgeprop_spec_$tag").toFile
    d.deleteOnExit()
    d.getAbsolutePath + "/idx"
  }

  // --- band index helpers (explicit schemas: empty dirs are schema-less)

  private def bandsOf(idx: String): Set[(Long, String)] =
    spark.read.schema("doc_id LONG, bh STRING, bkt INT")
      .parquet(s"$idx/bands").select(col("doc_id"), col("bh"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet

  private def probeOf(idx: String, batch: DataFrame): Seq[(Long, String, Double)] =
    DedupQueries.probeBandIndex(spark, idx, batch).collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))

  private def clones(ids: Range): DataFrame = {
    import spark.implicits._
    ids.map(i => (i.toLong, "the same boilerplate sentence repeated verbatim"))
      .toDF("doc_id", "text")
  }

  /** A never-indexed clone: 'dup' exactly when the clone fixture's
    * shared bands are under the cap. */
  private def cloneProbe: DataFrame = clones(1000 until 1001)

  private def nightly: DataFrame =
    DedupQueries.cdcIncoming(graft.Tables(spark, dir).documents)

  private def sigIdsOf(idx: String): Set[Long] =
    spark.read.schema("doc_id LONG, sh ARRAY<LONG>, sbkt INT")
      .parquet(s"$idx/sigs")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet

  private def assertBandEquals(idx: String, rebuilt: String,
      probe: => DataFrame = nightly): Unit = {
    assert(bandsOf(idx) == bandsOf(rebuilt),
      "post-delete bands diverge from the rebuild")
    assert(probeOf(idx, probe) == probeOf(rebuilt, probe),
      "post-delete probe diverges from the rebuild's")
    assert(sigIdsOf(idx) == sigIdsOf(rebuilt),
      "post-delete signatures diverge from the rebuild")
  }

  // --- text index helpers

  private def postingsOf(idx: String): Set[(String, Long, Long, Long, Int)] =
    spark.read.parquet(s"$idx/postings")
      .select(col("term"), col("doc_id"), col("dl").cast("long"),
        col("tf").cast("long"), col("bkt"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4))).toSet

  private def statsOf(idx: String): (Long, Double, Long) = {
    val r = spark.read.parquet(s"$idx/stats")
      .select(col("n_docs"), col("avgdl"), col("sum_dl")).head()
    (r.getLong(0), r.getDouble(1), r.getLong(2))
  }

  private val purgeSlice = col("doc_id") % 4 === 1

  test("text-index delete equals a from-scratch rebuild, bit-for-bit") {
    val idx = tmpIdx("tx")
    graft.text.TextQueries.writeTextIndex(spark, docs, idx)
    val purge = docs.filter(purgeSlice).select(col("doc_id"))
    val touched =
      graft.text.TextQueries.deleteFromTextIndex(spark, idx, purge)
    assert(touched.nonEmpty)
    val rebuilt = tmpIdx("tx_r")
    graft.text.TextQueries.writeTextIndex(spark, docs.filter(!purgeSlice),
      rebuilt)
    assert(postingsOf(idx) == postingsOf(rebuilt),
      "post-delete postings diverge from the rebuild")
    assert(statsOf(idx) == statsOf(rebuilt),
      "post-delete stats diverge from the rebuild (avgdl must be " +
        "bit-identical)")
    // unreachability: no purged doc_id anywhere in the postings
    val purgedIds = purge.collect().map(_.getLong(0)).toSet
    assert(postingsOf(idx).forall(p => !purgedIds.contains(p._2)),
      "a purged doc_id is still reachable through the postings")
    // re-applying a completed delete is the documented no-op
    assert(graft.text.TextQueries.deleteFromTextIndex(spark, idx, purge)
      .isEmpty)
  }

  test("text-index delete converges from the stats-swapped crash state") {
    // documented crash window: stats swapped FIRST, crash before any
    // bucket swap — plant exactly that state and re-run
    val idx = tmpIdx("txc")
    graft.text.TextQueries.writeTextIndex(spark, docs, idx)
    val purge = docs.filter(purgeSlice).select(col("doc_id"))
    val done = tmpIdx("txc_done")
    graft.text.TextQueries.writeTextIndex(spark, docs, done)
    graft.text.TextQueries.deleteFromTextIndex(spark, done, purge)
    val finalStats = spark.read.parquet(s"$done/stats")
    val statsTmp = s"$idx/stats__crashplant"
    finalStats.coalesce(1).write.mode("overwrite").parquet(statsTmp)
    graft.operators.Maintenance.swapDirs(spark, statsTmp, s"$idx/stats")
    spark.catalog.refreshByPath(idx)
    // postings still dirty → the caller's idempotence probe re-applies
    graft.text.TextQueries.deleteFromTextIndex(spark, idx, purge)
    assert(postingsOf(idx) == postingsOf(done) &&
      statsOf(idx) == statsOf(done), "crash re-run did not converge")
  }

  test("band-index delete equals a from-scratch rebuild") {
    val idx = tmpIdx("bd")
    DedupQueries.writeBandIndex(spark, docs, idx)
    val purge = docs.filter(purgeSlice).select(col("doc_id"))
    val touched = DedupQueries.deleteFromBandIndex(spark, idx, purge)
    assert(touched.nonEmpty)
    val rebuilt = tmpIdx("bd_r")
    DedupQueries.writeBandIndex(spark, docs.filter(!purgeSlice), rebuilt)
    assertBandEquals(idx, rebuilt)
    val purgedIds = purge.collect().map(_.getLong(0)).toSet
    assert(bandsOf(idx).forall(b => !purgedIds.contains(b._1)) &&
      (sigIdsOf(idx) & purgedIds).isEmpty,
      "a purged doc_id is still reachable through bands or sigs")
    assert(DedupQueries.deleteFromBandIndex(spark, idx, purge).isEmpty,
      "re-applying a completed delete is not a no-op")
  }

  test("a capped band yields candidates again once the purge un-caps it") {
    // 55 near-identical docs share every band — capped at probe time;
    // purging 10 leaves 45 ≤ 50 survivors, so the rebuild's probe
    // finds candidates through the band again, and so must the
    // maintained index's
    val idx = tmpIdx("hot")
    DedupQueries.writeBandIndex(spark, clones(0 until 55), idx)
    assert(probeOf(idx, cloneProbe) == Seq((1000L, "new", 0.0)),
      "fixture did not cap the shared bands out")
    DedupQueries.deleteFromBandIndex(spark, idx, clones(45 until 55)
      .select(col("doc_id")))
    val rebuilt = tmpIdx("hot_r")
    DedupQueries.writeBandIndex(spark, clones(0 until 45), rebuilt)
    assertBandEquals(idx, rebuilt, cloneProbe)
    assert(probeOf(idx, cloneProbe) == Seq((1000L, "dup", 1.0)),
      "the un-capped band yields no candidate")
  }

  test("purging every member of a capped band leaves no trace of the cap") {
    // all 55 members purged: the rebuild over the empty corpus has
    // nothing to cap, so clones ingested afterwards must find each
    // other through the band — as they do in the rebuild
    val idx = tmpIdx("zero")
    DedupQueries.writeBandIndex(spark, clones(0 until 55), idx)
    assert(probeOf(idx, cloneProbe) == Seq((1000L, "new", 0.0)),
      "fixture did not cap the shared bands out")
    DedupQueries.deleteFromBandIndex(spark, idx, clones(0 until 55)
      .select(col("doc_id")))
    assert(bandsOf(idx).isEmpty, "rows for an emptied band survived")
    assert(sigIdsOf(idx).isEmpty)
    DedupQueries.upsertBandIndex(spark, idx, clones(2000 until 2005))
    val rebuilt = tmpIdx("zero_r")
    DedupQueries.writeBandIndex(spark, clones(2000 until 2005), rebuilt)
    assertBandEquals(idx, rebuilt, cloneProbe)
    assert(probeOf(idx, cloneProbe) == Seq((1000L, "dup", 1.0)),
      "the emptied band stayed capped")
  }

  test("band-index delete converges from the pre-sigs-swap crash state") {
    // documented crash window: bands and route committed, crash before
    // the sigs commit (the commit point) — plant it by restoring the
    // pre-delete sigs over a completed delete, then re-run
    val idx = tmpIdx("bdc")
    DedupQueries.writeBandIndex(spark, docs, idx)
    val sigsSnapshot = tmpIdx("bdc_sigs")
    spark.read.schema("doc_id LONG, sh ARRAY<LONG>, sbkt INT")
      .parquet(s"$idx/sigs")
      .write.mode("overwrite").partitionBy("sbkt").parquet(sigsSnapshot)
    val purge = docs.filter(purgeSlice).select(col("doc_id"))
    DedupQueries.deleteFromBandIndex(spark, idx, purge)
    val planted = s"$idx/sigs__crashplant"
    spark.read.parquet(sigsSnapshot)
      .write.mode("overwrite").partitionBy("sbkt").parquet(planted)
    graft.operators.Maintenance.swapDirs(spark, planted, s"$idx/sigs")
    spark.catalog.refreshByPath(idx)
    // sigs say the purge never applied → the re-run finishes the job
    DedupQueries.deleteFromBandIndex(spark, idx, purge)
    val rebuilt = tmpIdx("bdc_r")
    DedupQueries.writeBandIndex(spark, docs.filter(!purgeSlice), rebuilt)
    assertBandEquals(idx, rebuilt)
  }

  test("band-index delete converges from a PARTIAL sigs-bucket swap") {
    // the id-bucketed layout's new crash window: some sigs buckets
    // swapped (their purged ids durably gone), crash before the rest —
    // plant it by restoring ONE touched bucket's pre-delete contents
    // over a completed delete, then re-run
    val idx = tmpIdx("bdp")
    DedupQueries.writeBandIndex(spark, docs, idx)
    val sigsSnapshot = tmpIdx("bdp_sigs")
    spark.read.schema("doc_id LONG, sh ARRAY<LONG>, sbkt INT")
      .parquet(s"$idx/sigs")
      .write.mode("overwrite").partitionBy("sbkt").parquet(sigsSnapshot)
    val purge = docs.filter(purgeSlice).select(col("doc_id"))
    // a touched bucket = one holding a purged id
    val victim = spark.read.parquet(sigsSnapshot)
      .join(purge, Seq("doc_id"), "left_semi")
      .select(col("sbkt")).distinct().orderBy(col("sbkt"))
      .head().getInt(0)
    DedupQueries.deleteFromBandIndex(spark, idx, purge)
    val planted = s"$idx/sigs_bucket__crashplant"
    spark.read.schema("doc_id LONG, sh ARRAY<LONG>")
      .parquet(s"$sigsSnapshot/sbkt=$victim")
      .write.mode("overwrite").parquet(planted)
    graft.operators.Maintenance.swapDirs(spark, planted,
      s"$idx/sigs/sbkt=$victim")
    spark.catalog.refreshByPath(idx)
    // the un-swapped bucket still shows purged ids → re-apply converges
    DedupQueries.deleteFromBandIndex(spark, idx, purge)
    val rebuilt = tmpIdx("bdp_r")
    DedupQueries.writeBandIndex(spark, docs.filter(!purgeSlice), rebuilt)
    assertBandEquals(idx, rebuilt)
  }

  test("the delete's sigs rewrite prunes to the purged ids' buckets") {
    // the layout's point: untouched sigs buckets keep their files
    // byte-identical through a delete (the r12 SCALE caveat, executed)
    val idx = tmpIdx("bdprune")
    DedupQueries.writeBandIndex(spark, docs, idx)
    // a NARROW purge batch (the realistic nightly shape) — the %4
    // corpus slice is wide enough to hash into all 16 buckets, which
    // would make the untouched-bucket pin vacuous
    val purge = docs.filter(col("doc_id") % 97 === 1).select(col("doc_id"))
    assert(purge.count() > 0)
    val touchedBkts = spark.read
      .schema("doc_id LONG, sh ARRAY<LONG>, sbkt INT")
      .parquet(s"$idx/sigs")
      .join(purge, Seq("doc_id"), "left_semi")
      .select(col("sbkt")).distinct().collect().map(_.getInt(0)).toSet
    assert(touchedBkts.nonEmpty)
    def fileState(): Map[String, (Long, Long)] =
      new java.io.File(s"$idx/sigs").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("sbkt="))
        .flatMap(d => d.listFiles().map(f =>
          f.getPath -> ((f.length(), f.lastModified())))).toMap
    val before = fileState()
    DedupQueries.deleteFromBandIndex(spark, idx, purge)
    val changedUntouched = fileState().filter { case (p, st) =>
      val b = p.split("sbkt=")(1).split("/")(0).toInt
      !touchedBkts.contains(b) && before.get(p).exists(_ != st)
    }
    assert(changedUntouched.isEmpty,
      s"untouched sigs buckets rewritten: ${changedUntouched.keys.take(3)}")
    // non-vacuous: at least one bucket was NOT touched at this SF
    assert(touchedBkts.size < 16,
      "fixture touches every sigs bucket — the pruning pin is vacuous")
  }

  test("text chain: upsert → delete → re-ingest equals the final rebuild") {
    // the full maintenance lifecycle the Scaladocs promise —
    // "replacements go through purge + re-ingest": after a delete, a
    // purged id is re-ingestable with NEW content, and the chained
    // index equals a from-scratch build over the final corpus
    val base  = docs.filter(col("doc_id") % 5 =!= 0)
    val night = docs.filter(col("doc_id") % 5 === 0)
    val idx = tmpIdx("txchain")
    graft.text.TextQueries.writeTextIndex(spark, base, idx)
    graft.text.TextQueries.upsertTextIndex(spark, idx, night)
    val purge = docs.filter(purgeSlice).select(col("doc_id"))
    graft.text.TextQueries.deleteFromTextIndex(spark, idx, purge)
    val reborn = docs.filter(purgeSlice && col("doc_id") % 8 === 1)
      .select(col("doc_id"), concat(col("text"), lit(" reborn")).as("text"))
    graft.text.TextQueries.upsertTextIndex(spark, idx, reborn)
    val rebuilt = tmpIdx("txchain_r")
    graft.text.TextQueries.writeTextIndex(spark,
      docs.filter(!purgeSlice).unionByName(reborn), rebuilt)
    assert(postingsOf(idx) == postingsOf(rebuilt),
      "chained postings diverge from the final rebuild")
    assert(statsOf(idx) == statsOf(rebuilt),
      "chained stats diverge from the final rebuild")
  }

  test("band chain: a delete unblocks re-ingestion of a purged id") {
    val idx = tmpIdx("bdchain")
    DedupQueries.writeBandIndex(spark, docs, idx)
    val purge = docs.filter(purgeSlice).select(col("doc_id"))
    // append-only admission refuses the id while it is indexed...
    val reborn = docs.filter(purgeSlice)
      .select(col("doc_id"), concat(col("text"), lit(" reborn")).as("text"))
    val e = intercept[IllegalArgumentException] {
      DedupQueries.upsertBandIndex(spark, idx, reborn)
    }
    assert(e.getMessage.contains("already indexed"))
    // ...and accepts it after the purge propagates — the documented
    // replacement path (purge + re-ingest)
    DedupQueries.deleteFromBandIndex(spark, idx, purge)
    DedupQueries.upsertBandIndex(spark, idx, reborn)
    val rebuilt = tmpIdx("bdchain_r")
    DedupQueries.writeBandIndex(spark,
      docs.filter(!purgeSlice).unionByName(reborn), rebuilt)
    assertBandEquals(idx, rebuilt)
  }

  test("the registry delete rows serve no purged doc as a candidate") {
    // dd_band_delete's probe: every candidate the verdict tail ever
    // considered comes from the post-delete index; assert the purge
    // list's docs cannot be the matched corpus doc by re-probing and
    // checking best matches of re-submitted purged docs dropped below
    // 1.0 (their identical twin is gone) OR stayed dup via another
    // cluster member — both covered by the oracle; here pin the
    // structural fact directly on the demo index
    val purge = DedupQueries.textPurgeIds(spark, dir)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(purge.nonEmpty, "fixture lost its purge list")
    val row = graft.QueryRegistry.byName("dd_band_delete")
    row.run(spark, dir).collect() // ensures the demo index is built+deleted
    val slug = dir.replaceAll("[^A-Za-z0-9]+", "_").takeRight(40)
    val fam = new java.io.File(System.getProperty("java.io.tmpdir"))
      .listFiles().filter(f => f.getName.startsWith("graft_band_delete_v3")
        && f.getName.contains(slug) && !f.getName.contains(".build_"))
    assert(fam.nonEmpty, "demo index not published")
    fam.foreach { f =>
      val idx = f.getAbsolutePath
      assert((sigIdsOf(idx) & purge).isEmpty &&
        bandsOf(idx).forall(b => !purge.contains(b._1)),
        s"purged doc reachable through demo index $idx")
    }
  }
}
