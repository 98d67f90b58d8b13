package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, hash, lit, pmod}
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._

/** Routing tables for cell-partitioned indexes — the [[StoredAt]]
  * hint's production backing store.
  *
  * The ANN cell tables (IVF, IVF-PQ, MaxSim routing copies) partition
  * by NEAREST CENTROID, so a key's partition is not derivable from the
  * key, and the kernel's locating pass — even sidecar-pruned — must
  * scan the whole index's (key, cell) columns to find where an updated
  * or purged id currently lives (ids scatter across cells, so the
  * sidecar's per-partition key ranges all span the whole id domain:
  * range pruning prunes nothing). That scan is the last O(index) step
  * in an otherwise O(touched) maintenance path. The fix every
  * production ANN serving system lands on is an id→cell ROUTING
  * TABLE, hash-bucketed by the id so its own maintenance self-locates
  * exactly ([[PartOf]]). Locating then reads the batch's route
  * buckets — O(batch × bucket-size) narrow rows — instead of the
  * whole index's (key, cell) columns.
  *
  * `root/route/rb=N/` holds (key…, cell) rows, `rb =
  * pmod(hash(rbKey), buckets)` where rbKey is the key column itself
  * or a pure derivation of it (the MaxSim route buckets token ids by
  * the document id they embed, so document-level purges route too).
  * `route/_buckets` records the bucket count; a mismatched or torn
  * route rebuilds rather than mis-pruning.
  *
  * The route is MAINTENANCE METADATA ONLY: no probe or serving path
  * ever reads it, so route staleness can never corrupt a query
  * result. Only a locating pass that trusts an UNDER-reporting route
  * could leak stale data rows, and the commit protocol makes
  * under-reporting unreachable:
  *
  *  - UPSERT ([[mergeThrough]]): [[addLocations]] (union-merge the
  *    batch's new (key…, cell) pairs into the route, KEEPING existing
  *    pairs) → the data merge under `StoredAt(lookup)` →
  *    [[settleLocations]] (replace-merge each batch key's pairs down
  *    to exactly its final locations). A crash after any step leaves
  *    the route OVER-reporting (old pairs, crashed-attempt pairs, or
  *    both — extra partitions scan as no-ops on re-apply), never
  *    under: data rows can only exist where a completed addLocations
  *    already recorded them, or in the re-applied batch's own target
  *    partitions, which the merge path always scans. Even a crashed
  *    attempt whose batch CONTENT differed (re-encoded embeddings
  *    landing in different cells) stays covered — its addLocations
  *    recorded the attempt's cells before any data row landed there.
  *    When no batch key has an existing pair (the pure-insert
  *    ingest fast path), add+settle collapse into one replace-merge
  *    before the data commit.
  *  - DELETE ([[deleteThrough]]): the data delete under
  *    `StoredAt(lookup)` first, then [[dropLocations]]. A crash
  *    between leaves the purged keys' route rows over-reporting until
  *    the re-applied delete drops them.
  *
  * Every route-backed family commits through these two methods; none
  * hand-rolls the steps:
  *  - IVF and IVF-PQ: `cells/` by nearest centroid, route `route/`
  *    keyed by `vec_id`;
  *  - MaxSim: `cells/` of token vectors, route `route/` keyed by
  *    `vec_id` and `did`, bucketed by the document id;
  *  - the banded near-dup indexes (MinHash band, image, audio, video;
  *    [[BandedIndex]]): `bands/` by band-key hash, route `bandmap/`;
  *  - text: `postings/` by term hash, route `docmap/`, which carries
  *    each doc's length (`dl`) for the BM25 stats refresh.
  *
  * Bootstrapping ([[ensure]]): a pre-route index (an earlier
  * generation's published fingerprint) pays ONE column-pruned (key…,
  * cell) scan to materialize the route — the same I/O its next
  * unhinted locate would have paid — and every maintenance pass after
  * that is O(batch). Fresh builds write the route from the projection
  * they already materialize ([[writeFrom]]). 16 buckets serve the
  * demo indexes; production sizes `buckets` ~√N so route buckets and
  * cells stay balanced.
  */
final case class KeyRouting(root: String, keyCols: Seq[String],
    buckets: Int, rbFns: Map[String, Column => Column],
    locCol: String = "cell", carryCols: Seq[String] = Nil,
    dirName: String = "route", schemaDdl: Option[String] = None) {
  import KeyRouting.Rows

  private def hPath(p: String) = new org.apache.hadoop.fs.Path(p)
  private[graft] val routeDir = s"$root/$dirName"
  private def markerPath = hPath(s"$routeDir/_buckets")

  private def routeCols: Seq[Column] =
    (keyCols ++ carryCols :+ locCol).map(col)

  private def fs(s: SparkSession) =
    hPath(root).getFileSystem(s.sparkContext.hadoopConfiguration)

  private def rbFor(keyCol: String): Column => Column =
    rbFns.getOrElse(keyCol, throw new IllegalArgumentException(
      s"KeyRouting($root): no rb derivation for key column $keyCol " +
        s"(have ${rbFns.keys.mkString(", ")})"))

  /** The route is trusted once its `_SUCCESS` marker exists AND its
    * recorded bucket count matches — a torn bootstrap or a
    * differently-bucketed ancestor rebuilds instead of mis-pruning.
    */
  private[graft] def live(s: SparkSession): Boolean = {
    val f = fs(s)
    f.exists(hPath(s"$routeDir/_SUCCESS")) &&
    f.exists(markerPath) && {
      val in = f.open(markerPath)
      val txt =
        try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8).trim
        finally in.close()
      scala.util.Try(txt.toInt).toOption.contains(buckets)
    }
  }

  /** Bootstrap the route from the cell table's (key…, cell) columns if
    * missing, torn, or differently bucketed — ONE column-pruned scan,
    * paid once per pre-route index generation. No-op when live.
    */
  def ensure(s: SparkSession, cells: String,
      readSchema: Option[String] = None): Unit = {
    if (live(s)) return
    writeFrom(s, readSchema.fold(s.read)(s.read.schema).parquet(cells)
      .select(routeCols: _*))
  }

  /** Build the route from `pairs` (key…, cell) — the fresh-build path
    * (and [[ensure]]'s backing write). Write-to-sibling + rename, the
    * bucket marker landing before the rename so a reader never sees a
    * marker-less live route.
    */
  def writeFrom(s: SparkSession, pairs: DataFrame): Unit = {
    val f = fs(s)
    val tmp = routeDir + "__new"
    f.delete(hPath(tmp), true)
    pairs.withColumn("rb", rbFor(keyCols.head)(col(keyCols.head)))
      .repartition(col("rb"))
      .write.mode("overwrite").partitionBy("rb").parquet(tmp)
    val out = f.create(hPath(s"$tmp/_buckets"), true)
    out.write(buckets.toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    f.delete(hPath(routeDir), true)
    f.rename(hPath(tmp), hPath(routeDir))
  }

  /** The route's (key…, cell) schema: from its footer (driver-only),
    * else `schemaDdl` (the fully-empty route — no bucket file to read;
    * the media tables' bare-schema rule applied here).
    */
  private def routeSchema(s: SparkSession): StructType = {
    val full = IndexMerge.footerSchema(s, routeDir)
      .orElse(schemaDdl.map(StructType.fromDDL))
      .getOrElse(s.read.parquet(routeDir).schema)
    StructType((keyCols ++ carryCols :+ locCol).map(full(_)))
  }

  /** `df`'s (key…, cell) rows cast to the route's types, deduplicated
    * on the driver, and each row's (key, bucket) — ONE bounded collect
    * (the batch's pairs; no job for a driver-local batch).
    */
  private def pairsOf(sch: StructType, df: DataFrame): (Rows, Seq[(Any, Int)]) = {
    val key = keyCols.head
    val rows = df.select(sch.map(f => col(f.name).cast(f.dataType)) :+
      rbFor(key)(col(key)).cast("int"): _*).collect()
    (Rows(sch, rows.toSeq.map(r => Row(r.toSeq.init: _*)).distinct),
      rows.toSeq.map(r => (r.get(0), r.getInt(sch.length))))
  }

  /** `keys` (single key column; any of `keyCols`) with their buckets —
    * one bounded collect (no job for a driver-local frame).
    */
  private def keyed(keys: DataFrame): Seq[(Any, Int)] = {
    val keyCol = keys.columns.head
    keys.select(col(keyCol), rbFor(keyCol)(col(keyCol)).cast("int"))
      .collect().toSeq.map(r => (r.get(0), r.getInt(1))) // bounded: the batch keys
  }

  /** The route rows of the (key, bucket) pairs `kb` of `keyCol`: ONE
    * job reading ONLY those buckets — the PartOf geometry applied as a
    * read — keys filtered in the scan. Bounded: the keys' route rows.
    */
  private def storedRows(s: SparkSession, sch: StructType, keyCol: String,
      kb: Seq[(Any, Int)]): Rows = {
    val f = fs(s)
    val ks = kb.iterator.map(_._1).filter(_ != null).toSet
    val bkts = kb.map(_._2).distinct
      .filter(b => f.exists(hPath(s"$routeDir/rb=$b"))).sorted
    Rows(sch,
      if (bkts.isEmpty) Nil
      else s.read.schema(sch).option("basePath", routeDir)
        .parquet(bkts.map(b => s"$routeDir/rb=$b"): _*)
        .filter(col(keyCol).isin(ks.toSeq: _*))
        .select(routeCols: _*)
        .collect().toSeq) // bounded: the keys' route rows
  }

  /** The route rows of `keys` (single key column; any of `keyCols`) as
    * a driver-local frame of (key…, cell) rows narrowed to the exact
    * keys — read once, so a [[StoredAt]] over it costs the kernel no
    * further job.
    */
  def lookup(s: SparkSession, keys: DataFrame): DataFrame =
    lookupRows(s, keys).df(s)

  private def lookupRows(s: SparkSession, keys: DataFrame): Rows =
    storedRows(s, routeSchema(s), keys.columns.head, keyed(keys))

  /** The route buckets `keys` hash to — a bounded collect (≤ batch
    * buckets), for callers that maintain per-bucket side state.
    */
  def bucketsOf(s: SparkSession, keys: DataFrame): Seq[Int] = {
    val keyCol = keys.columns.head
    keys.select(rbFor(keyCol)(col(keyCol)).cast("int").as("rb"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
  }

  /** The stored DATA rows of `keys` under the partitioned table at
    * `dataPath`, read through the route: only the route-listed
    * partitions open, then the keys filter narrows to the exact rows.
    * The route may over-report (an extra partition scans as a no-op);
    * the data read is the truth — so this is the right primitive for
    * presence probes and pre-commit stats arithmetic, where route
    * staleness must never fabricate a row.
    */
  def dataOf(s: SparkSession, dataPath: String, keys: DataFrame,
      readSchema: Option[String] = None): DataFrame = {
    val keyCol = keys.columns.head
    val f = fs(s)
    val kb = keyed(keys)
    val routed = storedRows(s, routeSchema(s), keyCol, kb)
    val locAt = routed.schema.fieldIndex(locCol)
    val parts = routed.rows.map(_.getInt(locAt)).distinct
      .filter(p => f.exists(hPath(s"$dataPath/$locCol=$p"))).sorted
    val reader = readSchema.map(StructType.fromDDL)
      .orElse(IndexMerge.footerSchema(s, dataPath))
      .fold(s.read)(s.read.schema)
    if (parts.isEmpty) reader.parquet(dataPath).limit(0)
    else reader.option("basePath", dataPath)
      .parquet(parts.map(p => s"$dataPath/$locCol=$p"): _*)
      .filter(col(keyCol).isin(kb.map(_._1).filter(_ != null).distinct: _*))
  }

  /** Union-merge `pairs` (key…, cell) into the route, KEEPING existing
    * pairs of the same keys — the upsert protocol's first commit.
    * Idempotent (distinct over stored ∪ batch).
    */
  def addLocations(s: SparkSession, pairs: DataFrame): Unit = {
    val sch = routeSchema(s)
    val (batch, kb) = pairsOf(sch, pairs)
    addRows(s, batch, storedRows(s, sch, keyCols.head, kb))
  }

  /** [[addLocations]] with the batch keys' stored route rows already
    * read: they ride in the batch, so a plain replace-merge keeps them
    * — no custom combine, no read-back of the committed buckets.
    */
  private def addRows(s: SparkSession, pairs: Rows, stored: Rows): Unit =
    settleLocations(s, (stored ++ pairs).df(s))

  /** Replace-merge each batch key's route rows down to exactly
    * `pairs` — the upsert protocol's final commit (and the whole
    * route commit on the pure-insert fast path).
    */
  def settleLocations(s: SparkSession, pairs: DataFrame): Unit =
    IndexMerge.merge(s, routeDir, "rb", keyCols.head,
      pairs.withColumn("rb", rbFor(keyCols.head)(col(keyCols.head))),
      hint = Some(PartOf(rbFor(keyCols.head))))

  /** Drop every route row of `keys` (single key column; any of
    * `keyCols`) — the delete protocol's second commit, AFTER the data
    * delete.
    */
  def dropLocations(s: SparkSession, keys: DataFrame): Unit = {
    val keyCol = keys.columns.head
    IndexMerge.delete(s, routeDir, "rb", keyCol, keys,
      hint = Some(PartOf(rbFor(keyCol))))
  }

  /** The full UPSERT protocol around the cell table at `cells`:
    * route-add → data merge under `StoredAt` → route-settle (or one
    * settle + merge on the pure-insert fast path). `batch` carries
    * `keyCols`, `cell`, and the payload; returns the data merge's
    * touched cells. The batch keys' route rows are read ONCE: empty,
    * they are the all-new probe; otherwise they ride into the add and
    * are the data merge's `StoredAt` lookup (the batch's own cells,
    * which the add records, always scan anyway).
    */
  def mergeThrough(s: SparkSession, cells: String, batch: DataFrame,
      readSchema: Option[String] = None): Seq[Int] = {
    ensure(s, cells, readSchema)
    val keyCol = keyCols.head
    val sch = routeSchema(s)
    val (pairs, kb) = pairsOf(sch, batch)
    val stored = storedRows(s, sch, keyCol, kb)
    if (stored.rows.isEmpty) {
      settleLocations(s, pairs.df(s))
      IndexMerge.merge(s, cells, locCol, keyCol, batch, readSchema,
        hint = Some(StoredAt(pairs.df(s))))
    } else {
      addRows(s, pairs, stored)
      val touched = IndexMerge.merge(s, cells, locCol, keyCol, batch,
        readSchema, hint = Some(StoredAt(stored.df(s))))
      settleLocations(s, pairs.df(s))
      touched
    }
  }

  /** The full DELETE protocol around the cell table at `cells`: data
    * delete under `StoredAt` first, route-drop second. `keys` is a
    * single-column frame of any of `keyCols`; returns the data
    * delete's touched cells.
    */
  def deleteThrough(s: SparkSession, cells: String, keys0: DataFrame,
      readSchema: Option[String] = None): Seq[Int] = {
    ensure(s, cells, readSchema)
    val keyCol = keys0.columns.head
    val kb = keyed(keys0)
    val keys = s.createDataFrame(kb.map(k => Row(k._1)).distinct.asJava,
      keys0.select(col(keyCol)).schema)
    val stored = storedRows(s, routeSchema(s), keyCol, kb)
    val touched = IndexMerge.delete(s, cells, locCol, keyCol, keys,
      readSchema, hint = Some(StoredAt(stored.df(s))))
    dropLocations(s, keys)
    touched
  }
}

object KeyRouting {
  /** Driver rows under a known schema — the route's bounded working
    * sets (a batch's pairs, its keys' route rows), turned into a
    * driver-local frame only where a kernel call consumes one.
    */
  private final case class Rows(schema: StructType, rows: Seq[Row]) {
    def df(s: SparkSession): DataFrame =
      s.createDataFrame(rows.asJava, schema)
    def ++(o: Rows): Rows = Rows(schema, (rows ++ o.rows).distinct)
  }

  /** Demo bucket count — production sizes this ~√N (doc above). */
  val Buckets = 16

  /** The standard id-keyed route of an index root: rows (key, cell),
    * bucketed by the key's own hash.
    */
  def byKey(root: String, keyCol: String,
      buckets: Int = Buckets): KeyRouting =
    KeyRouting(root, Seq(keyCol), buckets,
      Map(keyCol -> (k => pmod(hash(k), lit(buckets)))))
}
