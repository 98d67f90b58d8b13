package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, count, hash, lit, pmod}

import scala.jdk.CollectionConverters._

/** The layout and maintenance rule shared by every persisted banded
  * near-dup index — the MinHash band index (`graft_band_*`, the text
  * admission tier) and the media indexes (image, audio, video). Only
  * the model stays with the family: how a signature is computed and
  * which band keys it yields (MinHash bands over shingles, 10-bit
  * slices of a 64-bit perceptual hash), and how a candidate is
  * confirmed (Jaccard, Hamming).
  *
  * Layout under an index root:
  *  - `sigs/`: one row per indexed id, Hive-partitioned by
  *    `sigBktCol = pmod(hash(id), 16)` ([[sigBkt]]) — the
  *    commit-point table, and the one every presence check reads;
  *  - `bands/`: one row per (id, band key), UNCAPPED, partitioned by
  *    `bkt = pmod(hash(band key), 16)` ([[bandBkt]]) so a probe's
  *    band keys resolve to a static partition filter;
  *  - `bandmap/`: the id→band-bucket [[KeyRouting]] table. A band
  *    row's bucket derives from signature CONTENT, not the id, so
  *    without it every bands locate would scan the whole table.
  *
  * The hot-band cap (a band key with more than [[HotBandCap]] members
  * is boilerplate and generates no candidates) is applied AT PROBE
  * TIME by [[belowCap]], over the stored membership of only the probed
  * keys. The store therefore holds exactly what a from-scratch build
  * over the indexed ids holds, under any upsert/delete history: an
  * upsert that pushes a band past the cap, or a delete that brings it
  * back under, changes nothing but the band's rows.
  *
  * Maintenance is ONE path for every family ([[upsert]], [[delete]]):
  * the bands table through the route's add → merge → settle protocol,
  * then the sigs table through [[IndexMerge]] under `PartOf(sigBkt)` —
  * the commit point. A crash anywhere before the sigs commit leaves
  * the batch (or the purge) visibly unapplied in `sigs/`, and the
  * re-run converges: the merges anti-join on the batch ids, and the
  * route only ever over-reports.
  *
  * `kind` names the index in the missing-index error; `bandKey` is the
  * band key column(s) of `bands/`; the schemas are the full table
  * schemas including the partition column (an empty partitioned
  * directory has no file to infer a schema from).
  */
final case class BandedIndex(kind: String, keyCol: String,
    bandKey: Seq[String], sigsSchema: String, bandsSchema: String,
    sigBktCol: String) {
  import BandedIndex.Buckets

  /** The sigs table's id bucket — the writer's partition column, the
    * presence read's pruning, and the sigs merge's `PartOf` hint. */
  def sigBkt(id: Column): Column = pmod(hash(id), lit(Buckets))

  /** The bands table's bucket: a pure function of the band key. */
  def bandBkt: Column = pmod(hash(bandKey.map(col): _*), lit(Buckets))

  /** The id → band-bucket routing table of the index at `idx`. */
  def route(idx: String): KeyRouting =
    KeyRouting(idx, Seq(keyCol), Buckets, Map(keyCol -> (sigBkt _)),
      locCol = "bkt", dirName = "bandmap",
      schemaDdl = Some(s"$keyCol LONG, bkt INT"))

  /** Write a fresh index at `idx`: `sigs` (key + signature payload)
    * and `bands` (key + band key + payload; [[bandBkt]] is added here)
    * — shared by every family's from-scratch build and the rebuild
    * oracles in the specs.
    */
  def write(s: SparkSession, idx: String, sigs: DataFrame,
      bands: DataFrame): Unit = {
    sigs.withColumn(sigBktCol, sigBkt(col(keyCol)))
      .write.mode("overwrite").partitionBy(sigBktCol).parquet(s"$idx/sigs")
    bands.withColumn("bkt", bandBkt)
      .write.mode("overwrite").partitionBy("bkt").parquet(s"$idx/bands")
    route(idx).ensure(s, s"$idx/bands", readSchema = Some(bandsSchema))
  }

  /** The stored band rows of buckets `bkts` (a static partition
    * filter). */
  def storedBands(s: SparkSession, idx: String, bkts: Seq[Int]): DataFrame =
    s.read.schema(bandsSchema).parquet(s"$idx/bands")
      .filter(col("bkt").isin(bkts.map(Integer.valueOf): _*))

  /** The probe-time hot-band cap: the rows of `stored` whose band key
    * is one of `probed` (≤ bands per item × |batch| keys) and has at
    * most [[HotBandCap]] members in `stored`. One map-side-combining
    * count over only the probed keys — never the whole table.
    */
  def belowCap(stored: DataFrame, probed: DataFrame): DataFrame = {
    val okKeys = stored
      .join(broadcast(probed), bandKey, "left_semi")
      .groupBy(bandKey.map(col): _*).agg(count(lit(1)).as("bc"))
      .filter(col("bc") <= BandedIndex.HotBandCap)
      .select(bandKey.map(col): _*)
    stored.join(broadcast(okKeys), bandKey, "left_semi")
  }

  private def requireIndex(s: SparkSession, idx: String): Unit = {
    val sigs = new org.apache.hadoop.fs.Path(s"$idx/sigs")
    require(sigs.getFileSystem(s.sparkContext.hadoopConfiguration)
      .exists(sigs), s"no $kind index at $idx — build it first")
  }

  /** The non-null batch ids of `keys` (one key column) with their sig
    * buckets — one bounded collect (no job for a driver-local frame). A
    * null id matches nothing stored, as in the merge kernel. */
  private def idsOf(keys: DataFrame): Seq[(Long, Int)] =
    keys.filter(col(keyCol).isNotNull)
      .select(col(keyCol).cast("long"), sigBkt(col(keyCol)).cast("int"))
      .collect().toSeq.map(r => (r.getLong(0), r.getInt(1))) // bounded: the batch

  /** The ids of `ids` already in `sigs/` — ONE job reading only their
    * sig buckets (none when no such bucket exists). */
  private def presentIds(s: SparkSession, idx: String,
      ids: Seq[(Long, Int)]): Set[Long] = {
    val conf = s.sparkContext.hadoopConfiguration
    val bkts = ids.map(_._2).distinct.sorted.filter { b =>
      val p = new org.apache.hadoop.fs.Path(s"$idx/sigs/$sigBktCol=$b")
      p.getFileSystem(conf).exists(p)
    }
    if (bkts.isEmpty) Set.empty
    else s.read.schema(sigsSchema).option("basePath", s"$idx/sigs")
      .parquet(bkts.map(b => s"$idx/sigs/$sigBktCol=$b"): _*)
      .filter(col(keyCol).isin(ids.map(_._1).distinct: _*))
      .select(col(keyCol)).distinct()
      .collect().map(_.getLong(0)).toSet // bounded: ≤ |batch|
  }

  /** Append-only ingest of `sigs0` (key + signature payload) into the
    * index at `idx`; `bandsOf` derives the band rows (key + band key +
    * payload) from the signatures. `who` names the caller in errors.
    *
    * Presence rule: every batch id already in `sigs/` is a TRUE
    * re-ingest and fails loudly (admission is append-only;
    * replacements go through purge + re-ingest). Some-but-not-all
    * present is a crashed run's partial sigs commit — or,
    * indistinguishably, a user-error mixed batch re-ingesting changed
    * content under existing ids — so it is logged loudly and the merge
    * re-applies (finishing the job is the repair; refusing would brick
    * the batch forever). Duplicate ids within the batch fail loudly. A
    * batch with no signature rows is a no-op.
    *
    * Bands commit first through the route protocol (an attempt's band
    * buckets enter the route before any of its band rows land, so a
    * re-applied merge — same content or changed — finds every orphan),
    * sigs LAST. Returns the touched band buckets.
    */
  def upsert(s: SparkSession, idx: String, sigs0: DataFrame, who: String)(
      bandsOf: DataFrame => DataFrame): Seq[Int] = {
    requireIndex(s, idx)
    val sigs = sigs0.persist()
    try {
      Maintenance.requireUniqueKeys(sigs, keyCol, who)
      val ids = idsOf(sigs)
      if (ids.isEmpty) return Nil
      val present = presentIds(s, idx, ids)
      if (present.size == ids.size)
        throw new IllegalArgumentException(
          s"$who: all ${present.size} batch ids already indexed — " +
            "admission is append-only; replacements go through purge + " +
            "re-ingest")
      if (present.nonEmpty)
        System.err.println(
          s"[graft.BandedIndex] $who: ${present.size} of ${ids.size} " +
            "batch ids already indexed — treating as a crashed-commit " +
            "repair and re-applying the merge; if this batch was a " +
            "deliberate partial re-ingest, its stored signatures are " +
            "being REPLACED (append-only admission bypassed)")
      val touched = route(idx).mergeThrough(s, s"$idx/bands",
        bandsOf(sigs).withColumn("bkt", bandBkt),
        readSchema = Some(bandsSchema))
      IndexMerge.merge(s, s"$idx/sigs", sigBktCol, keyCol,
        sigs.withColumn(sigBktCol, sigBkt(col(keyCol))),
        readSchema = Some(sigsSchema), hint = Some(PartOf(sigBkt)))
      s.catalog.refreshByPath(idx)
      touched
    } finally sigs.unpersist()
  }

  /** One admission step of an ingest loop over the index at `idx`:
    * SCREEN `batch` first (an item must not match itself; `screen`
    * yields one (key, status, …) verdict row per arrival, bounded by
    * the nightly batch), then INGEST the 'new' arrivals so the NEXT
    * batch screens against them. The anti-join on the stored sigs keys
    * makes a retry after a committed ingest re-apply cleanly, where the
    * append-only [[upsert]] would fail it loudly. Returns the verdicts.
    */
  def admit(s: SparkSession, idx: String, batch: DataFrame)(
      screen: DataFrame => DataFrame,
      ingest: DataFrame => Seq[Int]): Seq[Row] = {
    val verdicts = screen(batch).collect().toSeq
    val newIds = s.createDataFrame(
      verdicts.filter(_.getString(1) == "new").map(r => Row(r.getLong(0)))
        .asJava,
      org.apache.spark.sql.types.StructType.fromDDL(s"$keyCol LONG"))
    ingest(batch.join(newIds, Seq(keyCol), "left_semi")
      .join(s.read.schema(sigsSchema).parquet(s"$idx/sigs")
        .select(col(keyCol)), Seq(keyCol), "left_anti"))
    verdicts
  }

  /** Purge the ids of `purge0` (its key column) from the index
    * at `idx`. Presence resolves against `sigs/` — the commit-point
    * table, so a crashed run (bands purged, sigs not yet) still finds
    * its remaining work; ids with no sigs row (never indexed) are the
    * documented no-op, and a re-applied list touches nothing. The
    * purge list is collected once, so a lazily derived list runs once.
    * Bands leave through the route (a read of the purge ids' route
    * buckets, never a bands scan), then sigs — the commit point.
    * Returns the touched band buckets.
    */
  def delete(s: SparkSession, idx: String, purge0: DataFrame): Seq[Int] = {
    requireIndex(s, idx)
    val ids = idsOf(purge0).distinct
    if (presentIds(s, idx, ids).isEmpty) return Nil
    val purge = s.createDataFrame(ids.map(i => Row(i._1)).asJava,
      org.apache.spark.sql.types.StructType.fromDDL(s"$keyCol LONG"))
    val touched = route(idx).deleteThrough(s, s"$idx/bands", purge,
      readSchema = Some(bandsSchema))
    IndexMerge.delete(s, s"$idx/sigs", sigBktCol, keyCol, purge,
      readSchema = Some(sigsSchema), hint = Some(PartOf(sigBkt)))
    s.catalog.refreshByPath(idx)
    touched
  }
}

object BandedIndex {
  /** Bucket count of `sigs/`, `bands/` and `bandmap/` (the demo size;
    * production sizes it ~√N, see [[KeyRouting]]). */
  val Buckets = KeyRouting.Buckets

  /** A band key with more members than this generates no candidates. */
  val HotBandCap = 50
}
