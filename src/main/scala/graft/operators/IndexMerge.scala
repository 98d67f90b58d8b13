package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType}

/** The ONE partitioned-index merge kernel (r14 verdict tasks 1+4).
  *
  * Every persisted index in this repo is a hive-partitioned parquet
  * directory (`root/part=N/`) maintained by key-based MERGE/DELETE:
  * IVF cells, IVF-PQ code cells, the banded near-dup indexes' band and
  * sig buckets (MinHash and media, [[BandedIndex]]), text postings
  * buckets, key-bucketed lakes and the [[KeyRouting]] route tables.
  * Through round 14 each of them carried
  * its own copy of the same per-partition loop — locate touched
  * partitions, then ONE Spark job + ONE crash-safe directory swap PER
  * touched partition, serially. Correct, and cheap while `touched` is
  * bounded by a 16-cell demo index — but at a production partition
  * count (√N cells for 10⁹+ vectors) that loop is O(thousands) of
  * driver-orchestrated jobs per nightly batch, and the multi-swap
  * sequence opens the partial-commit crash window all the presence-
  * check repair branches existed to paper over.
  *
  * This kernel replaces the loop with ONE dynamic-partition-overwrite
  * job and ONE commit point:
  *
  *  1. ONE bounded collect of the batch's (key, partition) column pair
  *     (free when the batch is a driver-local relation) gives the
  *     batch's target partitions, the key set and — under a [[PartOf]]
  *     hint — the contract check below. ONE collect of the
  *     `_meta/part_stats` sidecar (≤ |partitions| rows; none when the
  *     rows this JVM last wrote or read are still the files on disk)
  *     serves both the range pruning and the post-commit sidecar
  *     rewrite. Then ONE narrow job over the candidate partitions' key
  *     column — parquet column pruning reads a few percent of index
  *     bytes, per-task partials merge on the driver, no shuffle, no
  *     broadcast — computes, per partition, the stored row count, the
  *     batch-key row count and the row count and key range of the rows
  *     that survive.
  *     Touched = partitions holding a batch key ∪ the batch's own
  *     target partitions. The pass is BOUNDED BY THE BATCH, not the
  *     index, whenever a hint or the live sidecar (below) names the
  *     candidates: per-partition key min/max prunes the scan to
  *     partitions whose key range can intersect a batch key, so a
  *     nightly batch touching 0.1 % of a production index reads 0.1 %
  *     of its key column instead of all of it.
  *  2. Partitions whose EVERY stored row carries a batch key and that
  *     gain no batch rows end up empty after the merge; Spark's
  *     dynamic overwrite replaces only partitions present in the
  *     written data, so these are cleared explicitly first. The only
  *     rows that deletion can lose are rows the batch is replacing
  *     (or the purge is deleting) — a crash here re-applies cleanly.
  *  3. ONE job: the touched partitions' stored rows (read via
  *     `basePath`, so the output root is never an input root path),
  *     minus the batch keys, unioned with the batch, written
  *     `mode=overwrite` with `partitionOverwriteMode=dynamic` and
  *     `partitionBy(part)`. Spark stages the files under the root and
  *     swaps exactly the written partitions at JOB COMMIT — the single
  *     commit point. Untouched partition directories keep their files
  *     byte-identical (the reads all complete before the commit's
  *     deletes, so reading the partitions being replaced is safe).
  *
  * == Job budget ==
  *
  * Every read of the kernel's own tables carries its schema (the
  * caller's `readSchema`, else one parquet footer read on the driver),
  * so no call pays a schema-inference job. One `merge`/`delete` call
  * launches at most: the batch collect (0 jobs for a driver-local
  * batch), the sidecar collect (1; 0 when the previous call on the
  * index left the rows cached), the locating scan (1), the commit (2
  * under AQE: the per-partition shuffle and the write; the commit
  * re-reads the scan's relation, so the touched paths resolve once)
  * and the sidecar write (1) — 4 or 5 jobs for a local batch, whatever
  * the number of touched partitions. A custom `mergeFn` adds one
  * read-back job (its final content is not derivable from the batch).
  * One warm IVF upsert through [[KeyRouting.mergeThrough]] (route
  * read, route add, data merge, route settle) runs 13 jobs, one IVF
  * delete 9 (call-site table in `plans/r17/ivf_write_jobs.md`; pinned
  * with headroom by `IvfWriteBudgetSpec`).
  *
  * The merge itself is idempotent (anti-join on key + union), so a
  * crash BEFORE the filesystem commit converges on re-application.
  * The commit itself is NOT atomic (the r15 advice): Spark's dynamic
  * overwrite commitJob is a per-partition delete+rename loop over a
  * `.spark-staging-<job>` directory, so a driver crash mid-commit can
  * leave a touched partition DELETED while its full replacement sits
  * only under the hidden staging directory — and that partition's
  * non-batch stored rows are NOT recoverable by re-applying the merge
  * (the anti-join would see an empty partition). Every kernel entry
  * point therefore runs [[recoverStaging]] first: a leftover staged
  * partition whose live directory is missing is renamed into place
  * (restoring the full post-merge content, batch effect included),
  * one whose live directory survived is discarded (the live copy is
  * the pre-swap content and the idempotent re-apply regenerates the
  * batch's effect), and the staging litter is dropped. Single-writer
  * per index root is the callers' existing contract (`synchronized`
  * demo builds; one maintenance job per index in production) — the
  * recovery pass must never run concurrently with a live commit.
  *
  * == The `_meta/part_stats` sidecar ==
  *
  * Alongside the data, every commit maintains `root/_meta/part_stats`
  * (hidden from parquet reads by the underscore): one row per
  * partition — (part, kmin, kmax, n), the key range and row count.
  * The locating pass consults it to scan ONLY partitions whose range
  * can hold a batch key; partitions on disk but absent from the
  * sidecar are always scanned (so a partial or missing sidecar is a
  * performance fallback, never a correctness input). Crash safety is
  * a `_meta/pending` marker written BEFORE the data commit and
  * cleared AFTER the sidecar rewrite: while it exists the sidecar is
  * untrusted and the locating pass reads the whole index (and the
  * next completed commit rewrites both). The sidecar itself swaps in
  * via write-to-sibling + rename, so a torn write is never readable.
  * The rewritten rows of the touched partitions come from the
  * locating scan (surviving rows) plus the batch's own rows — exact
  * for the default combine, with no read-back of the committed data.
  * First merge against a pre-sidecar index pays one full locating
  * scan and bootstraps the sidecar from the same pass — no extra I/O.
  *
  * == Exact hints ==
  *
  * Range pruning is geometry: it only bites when keys range-cluster
  * with partitions. On hash-bucketed tables and cell-partitioned ANN
  * tables it degenerates to a full scan. Callers that KNOW where a
  * key's rows live pass a [[LocateHint]] — [[PartOf]] (partition is a
  * pure function of the key: the doc/sig buckets, the bucketed lake)
  * or [[StoredAt]] (a routing-table lookup: the ANN cell tables via
  * [[KeyRouting]]) — and the locating pass reads exactly the hinted
  * partitions plus the batch's own targets: O(batch) whatever the
  * key distribution, sidecar or no sidecar. The sidecar remains the
  * unhinted fallback and the audit surface. A [[PartOf]] merge
  * VALIDATES its contract inside the batch collect: a batch row whose
  * partition column differs from `f(key)` fails the merge before the
  * pending marker or any partition delete — a wrong hint would
  * otherwise leave the key's stale rows in an unscanned partition.
  *
  * Compaction: `repartition(partCol)` routes each partition value to
  * one task, so each touched directory rewrites to one file — the
  * per-partition compaction the old loops bought with per-cell
  * coalesce. At a scale where one partition outgrows one output file,
  * set `spark.sql.files.maxRecordsPerFile` or repartition by
  * (part, key-range); the commit semantics are unchanged.
  */
/** How the locating pass bounds its scan WITHOUT consulting the
  * `_meta/part_stats` ranges — the r16 scale step past the sidecar:
  * range pruning degenerates to a full scan on hash-bucketed tables
  * (every bucket's key range spans the whole key domain) and on
  * cell-partitioned ANN tables (ids scatter across cells), which
  * between them are most of this repo's indexes. When the caller
  * KNOWS where a key's stored rows can live, the locating pass reads
  * exactly those partitions — O(batch), not O(index), with or
  * without a sidecar.
  */
sealed trait LocateHint

/** The table is hash-bucketed: a key's partition is the pure function
  * `f(key)`, so stored rows with a batch key can live nowhere else
  * (and the batch's own partition column must equal `f(key)` — the
  * writer and the hint must share one derivation helper; a merge
  * checks it row by row and fails loudly on a mismatch).
  */
final case class PartOf(f: org.apache.spark.sql.Column =>
  org.apache.spark.sql.Column) extends LocateHint

/** A (keyCol, partCol) lookup — a routing table ([[KeyRouting]]) or a
  * caller's already-pruned pre-scan — that covers EVERY partition
  * storing a batch key, except partitions that are also the batch's
  * own targets (the merge path always scans those). Over-reporting is
  * safe (extra partitions scan as no-ops); under-reporting leaks
  * stale rows, so maintainers must only ever let a lookup go stale in
  * the over-reporting direction (commit data BEFORE trimming the
  * lookup; add lookup rows BEFORE the data they describe). A
  * driver-local lookup (KeyRouting's) is read without a job.
  */
final case class StoredAt(lookup: DataFrame) extends LocateHint

object IndexMerge {

  private def hPath(p: String) = new org.apache.hadoop.fs.Path(p)
  private def statsPath(root: String)   = s"$root/_meta/part_stats"
  private def pendingPath(root: String) = s"$root/_meta/pending"

  private def fsOf(s: SparkSession, root: String) =
    hPath(root).getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Key-based MERGE of `batch` into the partitioned directory `root`:
    * stored rows carrying a batch key are replaced by the batch's rows
    * for that key (wherever they currently live — an update whose
    * partition assignment moved must not survive in its old
    * partition), new keys append. `batch` must carry `partCol` (each
    * row's target partition), `keyCol` (non-null), and the payload
    * columns; the KEY is the replacement unit — several rows per key
    * (postings, band entries) are fine, but two conflicting VERSIONS
    * of a key in one batch are the caller's loud-duplicate check to
    * make (MERGE semantics). Returns touched partition ids (sorted).
    *
    * `mergeFn` overrides the default anti-join+union combine (e.g.
    * keep-newest CDC merges). Custom merges must never empty a
    * partition that holds non-batch keys — asserted via the stats
    * pass (the default combine can't, by construction).
    */
  def merge(s: SparkSession, root: String, partCol: String, keyCol: String,
      batch0: DataFrame, readSchema: Option[String] = None,
      mergeFn: Option[(DataFrame, DataFrame) => DataFrame] = None,
      hint: Option[LocateHint] = None): Seq[Int] = {
    val fs = fsOf(s, root)
    require(fs.exists(hPath(root)), s"no partitioned index at $root")
    recoverStaging(fs, root, partCol)
    // the batch feeds the locating collect and the commit job — cache
    // it once (bounded: the nightly batch) unless it already is a
    // driver-local relation, which both read for free
    val local = isLocal(batch0)
    val batch = if (local) batch0 else batch0.persist()
    try mergeCached(s, root, partCol, keyCol, batch, readSchema, mergeFn,
      hint)
    finally if (!local) batch.unpersist()
  }

  private def mergeCached(s: SparkSession, root: String, partCol: String,
      keyCol: String, batch: DataFrame, readSchema: Option[String],
      mergeFn: Option[(DataFrame, DataFrame) => DataFrame],
      hint: Option[LocateHint]): Seq[Int] = {
    val fs = fsOf(s, root)
    val onDisk = partsOnDisk(fs, root, partCol)
    val schema = dataSchema(s, root, partCol, readSchema, batch)
    val keyType = keyTypeOf(schema, keyCol, batch)
    // THE bounded batch collect: (key, part[, f(key)]) per batch row —
    // the same keys a broadcast of the batch keys would ship through
    // the driver. Under PartOf it checks the hint's contract BEFORE
    // anything durable happens: a row filed under another partition
    // than f(key) would leave that key's stored rows unscanned.
    val hinted = hint.collect { case PartOf(f) => f(col(keyCol)).cast("int") }
    val rows = batch.select(Seq(col(keyCol).cast(keyType),
      col(partCol).cast("int")) ++ hinted: _*).collect()
    if (hinted.nonEmpty) rows.find(r => r.isNullAt(2) ||
        r.getInt(1) != r.getInt(2)).foreach { r =>
      throw new IllegalArgumentException(
        s"IndexMerge.merge($root): PartOf hint violated — batch row " +
          s"$keyCol=${r.get(0)} carries $partCol=${r.get(1)} but the " +
          s"hint places it in ${r.get(2)}; the writer and the hint " +
          "must share one derivation")
    }
    // a null key matches nothing stored (the anti-join semantics)
    val keys = rows.iterator.map(_.get(0)).filter(_ != null).toSet
    val landing: Map[Int, KeyStat] = rows.groupBy(_.getInt(1)).map {
      case (p, rs) => p -> rs.foldLeft(KeyStat.empty)((a, r) => a.add(r.get(0)))
    }
    val newParts = landing.keySet
    // the batch's own partitions always scan (their surviving rows feed
    // the sidecar rewrite) — and under PartOf they ARE the candidates
    val loc = locate(s, root, partCol, keyCol, keyType, schema, keys, hint,
      newParts.toSeq, onDisk)
    val touched = (newParts ++ loc.scanned.collect {
      case (p, sc) if sc.nb > 0 => p
    }).toSeq.sorted
    if (touched.isEmpty) return Nil
    // each touched partition's final content: its surviving stored rows
    // plus the batch rows landing in it (exact for the default combine)
    val after = touched.map(p => p ->
      loc.scanned.get(p).fold(KeyStat.empty)(_.rest)
        .merge(landing.getOrElse(p, KeyStat.empty))).toMap
    // partitions left EMPTY by the merge: all stored rows replaced,
    // no batch rows land (the moved-key old home)
    val empties = touched.filter(after(_).n == 0)
    require(empties.isEmpty || mergeFn.isEmpty,
      s"custom mergeFn with fully-replaced partitions ${empties.sorted} — " +
        "the kernel cannot clear partitions whose final content it " +
        "cannot derive from the batch alone")
    markPending(fs, root, touched)
    empties.foreach(p => fs.delete(hPath(s"$root/$partCol=$p"), true))
    val stored = loc.storedIn(partCol,
      touched.filter(p => loc.scanned.contains(p) && !empties.contains(p)))
      .getOrElse(batch.limit(0))
    val merged = mergeFn match {
      case Some(f) => f(stored, batch)
      case None => withoutKeys(stored, keyCol, keys).unionByName(batch)
    }
    overwriteParts(s, root, partCol, merged)
    val fresh =
      if (mergeFn.isEmpty) after.filter(_._2.n > 0)
      else readBack(s, root, partCol, keyCol, schema, touched)
    writeStats(s, root, keyCol, keyType, loc, touched, fresh)
    clearPending(fs, root)
    s.catalog.refreshByPath(root)
    touched
  }

  /** Key-based DELETE from the partitioned directory `root`: every row
    * carrying a purge key leaves the index, in ONE dynamic-overwrite
    * commit over exactly the partitions that hold purged keys (located
    * by the same pruned stats pass). Partitions purged to zero rows
    * are cleared. Idempotent: a re-applied list touches nothing.
    * Returns touched partition ids (sorted).
    */
  def delete(s: SparkSession, root: String, partCol: String, keyCol: String,
      purge: DataFrame, readSchema: Option[String] = None,
      hint: Option[LocateHint] = None): Seq[Int] = {
    val fs = fsOf(s, root)
    require(fs.exists(hPath(root)), s"no partitioned index at $root")
    recoverStaging(fs, root, partCol)
    val onDisk = partsOnDisk(fs, root, partCol)
    val schema = dataSchema(s, root, partCol, readSchema, purge)
    val keyType = keyTypeOf(schema, keyCol, purge)
    // one bounded collect: the purge keys (and their PartOf homes)
    val hinted = hint.collect { case PartOf(f) => f(col(keyCol)).cast("int") }
    val rows = purge.select(Seq(col(keyCol).cast(keyType)) ++ hinted: _*)
      .collect()
    val keys = rows.iterator.map(_.get(0)).filter(_ != null).toSet
    val cands = if (hinted.isEmpty) Nil
      else rows.iterator.filterNot(_.isNullAt(1)).map(_.getInt(1)).toSeq
    val loc = locate(s, root, partCol, keyCol, keyType, schema, keys, hint,
      cands, onDisk)
    val touched = loc.scanned.collect { case (p, sc) if sc.nb > 0 => p }
      .toSeq.sorted
    if (touched.isEmpty) return Nil
    val (empties, kept) = touched.partition(loc.scanned(_).rest.n == 0)
    markPending(fs, root, touched)
    empties.foreach(p => fs.delete(hPath(s"$root/$partCol=$p"), true))
    loc.storedIn(partCol, kept).foreach(stored =>
      overwriteParts(s, root, partCol, withoutKeys(stored, keyCol, keys)))
    writeStats(s, root, keyCol, keyType, loc, touched,
      kept.map(p => p -> loc.scanned(p).rest).toMap)
    clearPending(fs, root)
    s.catalog.refreshByPath(root)
    touched
  }

  /** Rebuild the `_meta/part_stats` sidecar from one full (key, part)
    * scan if it is missing or untrusted (a `pending` marker from a
    * crashed commit) — the explicit repair/bootstrap seam. A no-op
    * when the sidecar is live. Safe to call on any partitioned index
    * this kernel maintains.
    */
  def ensureStats(s: SparkSession, root: String, partCol: String,
      keyCol: String, readSchema: Option[String] = None): Unit = {
    val fs = fsOf(s, root)
    require(fs.exists(hPath(root)), s"no partitioned index at $root")
    recoverStaging(fs, root, partCol)
    val onDisk = partsOnDisk(fs, root, partCol)
    if (onDisk.isEmpty) return
    val schema = dataSchema(s, root, partCol, readSchema,
      s.read.parquet(root))
    val keyType = schema(keyCol).dataType
    if (readStatsIfLive(s, root, keyCol, keyType).isDefined) return
    swapStats(s, root, keyType,
      statsRows(readBack(s, root, partCol, keyCol, schema, onDisk), keyCol))
    clearPending(fs, root)
  }

  /** Drop the `_meta/part_stats` sidecar (and any pending marker) of
    * `root` — REQUIRED after any write to the table that bypasses this
    * kernel when the writer cannot name the partitions it touched: a
    * raw write can put keys outside the sidecar's recorded ranges, and
    * a later pruned locating pass would miss them. An absent sidecar
    * is the full-scan fallback — always correct; the next kernel
    * commit re-bootstraps it from that scan.
    */
  def invalidateStats(s: SparkSession, root: String): Unit = {
    val fs = fsOf(s, root)
    fs.delete(hPath(statsPath(root)), true)
    fs.delete(hPath(pendingPath(root)), false)
  }

  /** Crash-leftover recovery for Spark's dynamic-overwrite commit
    * (the r15 advice): a `.spark-staging-<job>` directory under the
    * root means a commit died mid-loop. A staged partition whose live
    * directory is MISSING was deleted-but-not-renamed — the staged
    * copy is its full post-merge content, so it renames into place
    * (this is the only copy of the partition's non-batch rows). A
    * staged partition whose live directory survived never swapped —
    * the live (pre-merge) copy stays and the caller's idempotent
    * re-apply regenerates the batch's effect. Requires the callers'
    * single-writer-per-root contract.
    */
  private[graft] def recoverStaging(fs: org.apache.hadoop.fs.FileSystem,
      root: String, partCol: String): Unit =
    fs.listStatus(hPath(root))
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith(".spark-staging"))
      .foreach { stg =>
        fs.listStatus(stg.getPath).foreach { sub =>
          val n = sub.getPath.getName
          if (sub.isDirectory && n.startsWith(s"$partCol=") &&
              !fs.exists(hPath(s"$root/$n")))
            fs.rename(sub.getPath, hPath(s"$root/$n"))
        }
        fs.delete(stg.getPath, true)
      }

  // ---- locating pass --------------------------------------------------

  /** Row count and key range of a set of stored rows (`kmin`/`kmax`
    * null when no row has a non-null key) — a sidecar row's payload.
    */
  private final case class KeyStat(n: Long, kmin: Any, kmax: Any) {
    def add(k: Any): KeyStat =
      if (k == null) copy(n = n + 1)
      else KeyStat(n + 1, lo(kmin, k), hi(kmax, k))
    def merge(o: KeyStat): KeyStat =
      KeyStat(n + o.n, lo(kmin, o.kmin), hi(kmax, o.kmax))
  }
  private object KeyStat { val empty = KeyStat(0L, null, null) }

  /** One scanned partition: stored rows, rows carrying a located key,
    * and the count/range of the rows that survive the batch.
    */
  private final case class Scanned(total: Long, nb: Long, rest: KeyStat) {
    def merge(o: Scanned): Scanned =
      Scanned(total + o.total, nb + o.nb, rest.merge(o.rest))
  }

  /** Per scanned partition its [[Scanned]] counts, the trusted
    * PRE-commit sidecar rows (None = no trusted sidecar) — the input
    * to the post-commit sidecar rewrite — and the scanned partitions'
    * stored rows, which the commit reads again (every partition it
    * rewrites was scanned) without resolving the paths a second time.
    */
  private final case class Located(scanned: Map[Int, Scanned],
      meta: Option[Seq[Row]], stored: Option[DataFrame]) {
    def storedIn(partCol: String, parts: Seq[Int]): Option[DataFrame] =
      if (parts.isEmpty) None
      else stored.map(_.filter(col(partCol).isin(parts: _*)))
  }

  /** The locating pass: the sidecar collect, the candidate set (the
    * hint's, else the sidecar's ranges, else every partition), and ONE
    * scan of the candidates' key column. `alsoScan` joins the
    * candidates (the merge's own targets, whose surviving rows the
    * sidecar rewrite needs); partitions not on disk drop out.
    */
  private def locate(s: SparkSession, root: String, partCol: String,
      keyCol: String, keyType: DataType, schema: StructType,
      keys: Set[Any], hint: Option[LocateHint], alsoScan: Seq[Int],
      onDisk: Seq[Int]): Located = {
    // a freshly-initialized table may hold no partition directory at
    // all (only a _SUCCESS marker) — nothing stored, nothing touched
    if (onDisk.isEmpty) return Located(Map.empty, None, None)
    val meta = readStatsIfLive(s, root, keyCol, keyType)
    // an exact hint outranks the sidecar ranges; without one, the
    // sidecar prunes (None = no trusted sidecar → full scan)
    val cands = hint match {
      case Some(PartOf(_)) => alsoScan
      case Some(StoredAt(lookup)) =>
        storedAtParts(lookup, keyCol, partCol, keys) ++ alsoScan
      case None => meta.fold(onDisk)(m =>
        rangeParts(m, keys) ++ uncovered(m, onDisk) ++ alsoScan)
    }
    val onDiskSet = onDisk.toSet
    val stored = readParts(s, root, partCol,
      cands.filter(onDiskSet).distinct.sorted, schema)
    Located(scanParts(stored, partCol, keyCol, keys), meta, stored)
  }

  /** The hint's candidate partitions for `keys` — exact by the hint's
    * contract, bounded collects (≤ batch partitions for [[PartOf]];
    * ≤ lookup-matched partitions for [[StoredAt]]). Package-visible so
    * IndexMergeSpec can pin the pruning.
    */
  private[graft] def hintParts(s: SparkSession, hint: LocateHint,
      keys: DataFrame, keyCol: String, partCol: String): Seq[Int] =
    hint match {
      case PartOf(f) =>
        keys.select(f(col(keyCol)).cast("int")).collect()
          .map(_.getInt(0)).distinct.sorted.toSeq // bounded: batch partitions
      case StoredAt(lookup) =>
        storedAtParts(lookup, keyCol, partCol,
          keys.select(col(keyCol)).collect().map(_.get(0)).toSet)
    }

  /** The lookup's partitions for `keys`: one collect of the lookup rows
    * carrying a key (a job-free read when the lookup is driver-local;
    * bounded: ≤ |keys| × locations per key).
    */
  private def storedAtParts(lookup: DataFrame, keyCol: String,
      partCol: String, keys: Set[Any]): Seq[Int] =
    if (keys.isEmpty) Nil
    else lookup.filter(col(keyCol).isin(keys.toSeq: _*))
      .select(col(partCol).cast("int")).collect()
      .map(_.getInt(0)).distinct.sorted.toSeq

  /** The partitions the locating pass must scan for `keys` — pruned by
    * the `_meta/part_stats` key ranges when the sidecar is live, plus
    * every on-disk partition the sidecar does not cover. None = no
    * trusted sidecar (missing, torn, or a `pending` marker from a
    * crashed commit): scan the whole index. Package-visible so
    * IndexMergeSpec can pin the pruning.
    */
  private[graft] def candidateParts(s: SparkSession, root: String,
      partCol: String, keyCol: String, keys: DataFrame): Option[Seq[Int]] = {
    val fs = fsOf(s, root)
    val keyType = footerSchema(s, root).flatMap(_.find(_.name == keyCol))
      .fold(keys.schema(keyCol).dataType)(_.dataType)
    readStatsIfLive(s, root, keyCol, keyType).map { meta =>
      val ks = keys.select(col(keyCol).cast(keyType)).collect()
        .map(_.get(0)).toSet // bounded: the batch keys
      val onDisk = partsOnDisk(fs, root, partCol)
      val onDiskSet = onDisk.toSet
      (rangeParts(meta, ks).filter(onDiskSet) ++ uncovered(meta, onDisk))
        .distinct.sorted
    }
  }

  /** Sidecar partitions whose [kmin, kmax] holds at least one key. */
  private def rangeParts(meta: Seq[Row], keys: Set[Any]): Seq[Int] = {
    val sorted = keys.iterator.filter(_ != null).toArray
      .sortWith(keyCmp(_, _) < 0)
    meta.collect {
      case r if !r.isNullAt(1) && !r.isNullAt(2) && {
        // first key ≥ kmin, then is it ≤ kmax
        var (lo, hi) = (0, sorted.length)
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (keyCmp(sorted(mid), r.get(1)) < 0) lo = mid + 1 else hi = mid
        }
        lo < sorted.length && keyCmp(sorted(lo), r.get(2)) <= 0
      } => r.getInt(0)
    }
  }

  /** On-disk partitions the sidecar has no row for (always scanned). */
  private def uncovered(meta: Seq[Row], onDisk: Seq[Int]): Seq[Int] = {
    val covered = meta.iterator.map(_.getInt(0)).toSet
    onDisk.filterNot(covered)
  }

  /** ONE job over the key column of `stored`: per partition, the
    * stored row count, the rows carrying a key in `keys`, and the
    * count/range of the rest. Per-task partials (≤ |partitions| each)
    * merge on the driver — no shuffle stage, and the key set rides in
    * the task closure instead of a broadcast-exchange job.
    */
  private def scanParts(stored: Option[DataFrame], partCol: String,
      keyCol: String, keys: Set[Any]): Map[Int, Scanned] =
    stored.fold(Map.empty[Int, Scanned]) { df =>
      df.select(col(keyCol), col(partCol).cast("int")).rdd
        .mapPartitions { it =>
          val acc = scala.collection.mutable.HashMap.empty[Int, Scanned]
          it.foreach { r =>
            val (k, p) = (r.get(0), r.getInt(1))
            val a = acc.getOrElse(p, Scanned(0L, 0L, KeyStat.empty))
            acc(p) =
              if (k != null && keys(k)) a.copy(total = a.total + 1, nb = a.nb + 1)
              else Scanned(a.total + 1, a.nb, a.rest.add(k))
          }
          acc.iterator
        }
        .collect() // bounded: ≤ tasks × |partitions|
        .groupMapReduce(_._1)(_._2)(_ merge _)
    }

  /** The committed rows' stats of those of `parts` still on disk — the
    * read-back for combines whose result the kernel cannot derive.
    */
  private def readBack(s: SparkSession, root: String, partCol: String,
      keyCol: String, schema: StructType, parts: Seq[Int]): Map[Int, KeyStat] = {
    val onDisk = partsOnDisk(fsOf(s, root), root, partCol).toSet
    scanParts(readParts(s, root, partCol, parts.filter(onDisk), schema),
      partCol, keyCol, Set.empty).map { case (p, sc) => p -> sc.rest }
  }

  /** Total order on key values matching Spark's min/max: strings by
    * UTF-8 bytes, everything else by its Java natural order (the key
    * types are atomic and collected in one type, so both sides match).
    */
  private def keyCmp(a: Any, b: Any): Int = (a, b) match {
    case (x: String, y: String) =>
      org.apache.spark.unsafe.types.UTF8String.fromString(x)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y))
    case (x: Comparable[_], y) => x.asInstanceOf[Comparable[Any]].compareTo(y)
    case _ => throw new IllegalArgumentException(
      s"IndexMerge: key type ${a.getClass} has no range order")
  }
  private def lo(a: Any, b: Any): Any =
    if (a == null) b else if (b == null || keyCmp(a, b) <= 0) a else b
  private def hi(a: Any, b: Any): Any =
    if (a == null) b else if (b == null || keyCmp(a, b) >= 0) a else b

  // ---- sidecar maintenance ---------------------------------------------

  private def statsLive(fs: org.apache.hadoop.fs.FileSystem,
      root: String): Boolean =
    !fs.exists(hPath(pendingPath(root))) &&
      fs.exists(hPath(s"${statsPath(root)}/_SUCCESS"))

  /** The sidecar rows this JVM last wrote or read, per sidecar
    * directory, with their key type and the identity (name, length,
    * mtime) of the files they came from: a call's locating pass reuses
    * the rows the previous commit on the same index wrote instead of
    * reading them back. A sidecar rewritten by anyone else carries new
    * file names, so it reads as a miss.
    */
  private val statsCache = new java.util.concurrent.ConcurrentHashMap[
    String, (String, DataType, Seq[Row])]()

  private def statsIdentity(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Option[String] =
    if (!fs.exists(hPath(dir))) None
    else Some(fs.listStatus(hPath(dir)).filter(visible)
      .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      .sorted.mkString(",")).filter(_.nonEmpty)

  private def remember(dir: String, id: String, keyType: DataType,
      rows: Seq[Row]): Unit = {
    if (statsCache.size() > 256) statsCache.clear()
    statsCache.put(dir, (id, keyType, rows))
  }

  /** The sidecar rows as (part, kmin, kmax, n, key_col) — from
    * [[statsCache]] when its files are the ones last seen, else read
    * with the schema its footer records in ONE bounded collect
    * (≤ |partitions| rows). None when there is no sidecar file, or it
    * predates `key_col`, or its ranges are not of `keyType`.
    */
  private def readStats(s: SparkSession, root: String,
      keyType: DataType): Option[Seq[Row]] = {
    val dir = statsPath(root)
    statsIdentity(fsOf(s, root), dir).flatMap { id =>
      Option(statsCache.get(dir)).filter(_._1 == id)
        .map { case (_, kt, rows) => (kt, rows) }
        .orElse(footerSchema(s, dir)
          .filter(_.fieldNames.contains("key_col"))
          .map { sch =>
            val rows = s.read.schema(sch).parquet(dir)
              .select("part", "kmin", "kmax", "n", "key_col")
              .collect().toSeq // bounded: sidecar rows
            remember(dir, id, sch("kmin").dataType, rows)
            (sch("kmin").dataType, rows)
          })
    }.collect { case (kt, rows) if kt == keyType => rows }
  }

  /** The live sidecar, provided it is trusted AND describes `keyCol`'s
    * ranges — a sidecar written under a different key (the mixed-key
    * MaxSim tables) or by a pre-key_col build reads as absent, so the
    * caller full-scans and rewrites it under its own key.
    */
  private def readStatsIfLive(s: SparkSession, root: String,
      keyCol: String, keyType: DataType): Option[Seq[Row]] =
    if (!statsLive(fsOf(s, root), root)) None
    else readStats(s, root, keyType).filter(_.forall(_.getString(4) == keyCol))

  /** Write the pending marker, recording the partitions whose sidecar
    * rows the in-flight write will invalidate: while it exists the
    * sidecar is untrusted wholesale (full-scan locate) until the next
    * completed commit rewrites it.
    */
  private def markPending(fs: org.apache.hadoop.fs.FileSystem,
      root: String, touched: Seq[Int]): Unit = {
    val out = fs.create(hPath(pendingPath(root)), true)
    out.write(touched.sorted.mkString(",")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
  }

  private def clearPending(fs: org.apache.hadoop.fs.FileSystem,
      root: String): Unit =
    fs.delete(hPath(pendingPath(root)), false)

  private def statsSchema(keyType: DataType) =
    StructType(Seq(StructField("part", IntegerType, nullable = false),
      StructField("kmin", keyType), StructField("kmax", keyType),
      StructField("n", LongType, nullable = false),
      StructField("key_col", StringType, nullable = false)))

  /** `stats` as (part, kmin, kmax, n, key_col) sidecar rows. `key_col`
    * records WHICH column the ranges describe: a table maintained
    * under more than one key (the MaxSim copies merge on vec_id but
    * purge on did) must never have one key's values pruned against the
    * other key's ranges — a mismatched sidecar reads as untrusted and
    * the commit rewrites it under its own key.
    */
  private def statsRows(stats: Map[Int, KeyStat], keyCol: String): Seq[Row] =
    stats.toSeq.map { case (p, k) => Row(p, k.kmin, k.kmax, k.n, keyCol) }

  /** Post-commit sidecar rewrite: pre-commit rows for untouched
    * partitions (the sidecar collect's rows, plus the untouched
    * partitions the locating scan covered and the sidecar did not) ∪
    * `fresh` rows for the touched partitions still holding rows.
    */
  private def writeStats(s: SparkSession, root: String, keyCol: String,
      keyType: DataType, loc: Located, touched: Seq[Int],
      fresh: Map[Int, KeyStat]): Unit = {
    val meta = loc.meta.getOrElse(Nil)
    val covered = meta.iterator.map(_.getInt(0)).toSet
    val touchedSet = touched.toSet
    val extra = loc.scanned.collect {
      case (p, sc) if !covered(p) && !touchedSet(p) => p -> sc.rest
    }
    swapStats(s, root, keyType,
      meta.filterNot(r => touchedSet(r.getInt(0))) ++
        statsRows(extra ++ fresh, keyCol))
  }

  /** Write `rows` as the sidecar via write-to-sibling + rename (a torn
    * sidecar write is never readable; the `pending` marker covers the
    * delete→rename gap) — one job.
    */
  private def swapStats(s: SparkSession, root: String, keyType: DataType,
      rows: Seq[Row]): Unit = {
    import scala.jdk.CollectionConverters._
    val fs = fsOf(s, root)
    val live = statsPath(root)
    val next = live + "__new"
    val sorted = rows.sortBy(_.getInt(0))
    s.createDataFrame(sorted.asJava, statsSchema(keyType))
      .coalesce(1).write.mode("overwrite").parquet(next)
    fs.delete(hPath(live), true)
    fs.rename(hPath(next), hPath(live))
    statsIdentity(fs, live).foreach(remember(live, _, keyType, sorted))
  }

  // ---- shared reads / the single commit ---------------------------------

  private def partsOnDisk(fs: org.apache.hadoop.fs.FileSystem,
      root: String, partCol: String): Seq[Int] =
    if (!fs.exists(hPath(root))) Nil
    else fs.listStatus(hPath(root)).toSeq.collect {
      case st if st.isDirectory &&
          st.getPath.getName.startsWith(s"$partCol=") =>
        st.getPath.getName.stripPrefix(s"$partCol=").toInt
    }

  /** True when `df` is a driver-local relation: its collects run
    * without a job, so caching it would only add one.
    */
  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** The Spark schema the first parquet file under `dir` (or one
    * partition level below it) was written with, from its footer on the
    * driver — the schema-inference job a schema-less read pays, minus
    * the job. Underscore/dot entries (`_meta`, `_SUCCESS`, staging
    * litter) are skipped; None when `dir` holds no data file.
    */
  private[graft] def footerSchema(s: SparkSession,
      dir: String): Option[StructType] = {
    val fs = fsOf(s, dir)
    def firstFile(p: org.apache.hadoop.fs.Path, depth: Int)
        : Option[org.apache.hadoop.fs.Path] = {
      val sts = fs.listStatus(p).filter(visible).sortBy(_.getPath.getName)
      sts.find(st => st.isFile && st.getLen > 0).map(_.getPath).orElse(
        if (depth == 0) None
        else sts.iterator.filter(_.isDirectory)
          .flatMap(d => firstFile(d.getPath, depth - 1)).nextOption())
    }
    if (!fs.exists(hPath(dir))) None
    else firstFile(hPath(dir), 1).map { f =>
      val in = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f,
          s.sparkContext.hadoopConfiguration))
      val json =
        try Option(in.getFooter.getFileMetaData.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata"))
        finally in.close()
      // a file not written by Spark: fall back to inference on it alone
      json.map(DataType.fromJson(_).asInstanceOf[StructType])
        .getOrElse(s.read.parquet(f.toString).schema)
    }
  }

  /** Not `_meta`, `_SUCCESS`, a `.crc` or staging litter. */
  private def visible(st: org.apache.hadoop.fs.FileStatus): Boolean = {
    val n = st.getPath.getName
    !n.startsWith("_") && !n.startsWith(".")
  }

  /** The stored rows' data schema: the caller's `readSchema`, else the
    * table's footer, else (a table with no data file yet) `like`'s
    * columns minus the partition column.
    */
  private def dataSchema(s: SparkSession, root: String, partCol: String,
      readSchema: Option[String], like: => DataFrame): StructType =
    readSchema.map(StructType.fromDDL)
      .orElse(footerSchema(s, root))
      .getOrElse(StructType(like.schema.filterNot(_.name == partCol)))

  private def keyTypeOf(schema: StructType, keyCol: String,
      like: DataFrame): DataType =
    schema.find(_.name == keyCol).getOrElse(like.schema(keyCol)).dataType

  /** `stored` minus the rows carrying one of `keys` (null keys stay). */
  private def withoutKeys(stored: DataFrame, keyCol: String,
      keys: Set[Any]): DataFrame =
    if (keys.isEmpty) stored
    else stored.filter(col(keyCol).isNull ||
      !col(keyCol).isin(keys.toSeq: _*))

  /** The stored rows of `parts` under `root`, read via `basePath` so
    * the partition column is recovered but the OUTPUT root is never an
    * input root path (Spark refuses to overwrite a path it reads
    * from; the per-directory roots sidestep the check, and the actual
    * file reads all complete before the dynamic commit's deletes).
    */
  private def readParts(s: SparkSession, root: String, partCol: String,
      parts: Seq[Int], schema: StructType): Option[DataFrame] =
    if (parts.isEmpty) None
    else Some(s.read.schema(schema).option("basePath", root)
      .parquet(parts.map(p => s"$root/$partCol=$p"): _*))

  /** The single commit: dynamic partition overwrite of exactly the
    * partitions present in `df`, compacted one-task-per-partition.
    */
  private def overwriteParts(s: SparkSession, root: String,
      partCol: String, df: DataFrame): Unit =
    df.repartition(col(partCol))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol)
      .parquet(root)
}
