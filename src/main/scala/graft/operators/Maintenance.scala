package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Table-maintenance operators a long-lived 100 TB lake needs. */
object Maintenance {

  /** Compact a fragmented parquet directory into ~`targetBytes` files.
    * Small-files pathology is the classic failure of streaming/append
    * pipelines (every file costs a task + footer read + namenode
    * entry); compaction rewrites the directory with a partition count
    * derived from actual data size. Returns the compacted frame count.
    *
    * At scale this runs per partition-directory (bounded unit of work)
    * and swaps directories atomically at the metastore layer; the
    * rewrite itself — read, repartition by size, write — is what this
    * implements.
    */
  def compactParquet(spark: SparkSession, dir: String,
      targetBytes: Long = 128L << 20): Int = {
    val df    = spark.read.parquet(dir)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val parts = math.max(1, (bytes.toDouble / targetBytes.toDouble).ceil.toInt)
    val tmp   = dir + "__compacting"
    df.repartition(parts).write.mode("overwrite").parquet(tmp)
    swapDirs(spark, tmp, dir)
    parts
  }

  /** Write `df` as a bucketed (and bucket-sorted) external table —
    * the standing answer to "this join shuffles 100 TB every night":
    * both fact tables hash-partition into `nBuckets` files by the join
    * key AT WRITE TIME, so every future equi-join or aggregation on
    * that key reads co-located buckets and plans NO exchange (proved in
    * MaintenanceSpec by asserting the joined plan is exchange-free).
    * The bucket count is a capacity decision (≈ cluster cores × small
    * multiple at the target scale), made once at layout time.
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
      nBuckets: Int, path: String): Unit =
    df.write.mode("overwrite")
      .option("path", path)
      .bucketBy(nBuckets, key)
      .sortBy(key)
      .saveAsTable(table)

  private val BucketMarker = "_graft_buckets"

  /** Lay a table out Hive-partitioned by a stable hash bucket of `key`
    * (`bucket=<pmod(murmur3(key), nBuckets)>` subdirectories, plus a
    * marker file recording the bucket count) — the lake layout that
    * makes [[upsertParquet]] partition-pruned: a nightly batch touching
    * 0.1% of keys rewrites only the bucket directories those keys hash
    * into, not the lake. The `bucket` column surfaces as a normal
    * partition column to readers, and filters on it prune at planning
    * time. Bucket count is a capacity decision made once at layout
    * time (≈ lake size / desired rewrite unit).
    */
  def writeKeyBucketed(df: DataFrame, dir: String, key: String,
      nBuckets: Int): Unit = {
    require(nBuckets > 0, s"nBuckets must be positive: $nBuckets")
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    df.withColumn("bucket", pmod(hash(col(key)), lit(nBuckets)))
      .write.mode("overwrite").partitionBy("bucket").parquet(dir)
    val spark = df.sparkSession
    val p  = new org.apache.hadoop.fs.Path(dir, BucketMarker)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(nBuckets.toString.getBytes("UTF-8")) finally out.close()
  }

  /** Reduce to one row per `key`, keeping the row with the LARGEST
    * `newestBy` tuple (lexicographic) — `max_by` over structs, a plain
    * hash aggregate, no window/sort. `newestBy` must totally order rows
    * within a key (include a unique tie-break) or the winner is
    * nondeterministic.
    */
  private def keepNewest(df: DataFrame, key: String,
      newestBy: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, max_by, struct}
    val cols = df.columns.toSeq
    df.groupBy(col(key))
      .agg(max_by(struct(cols.map(col): _*),
        struct(newestBy.map(col): _*)).as("__w"))
      .select(cols.map(c => col("__w." + c).as(c)): _*)
  }

  /** The MERGE contract every upsert shares: `batch` holds each `key`
    * at most once. Fails loudly, naming the entry point `who` and the
    * offending key. One aggregate, two jobs (`upsertIvfIndex` checks its
    * driver-collected ids instead, which costs none).
    */
  def requireUniqueKeys(batch: DataFrame, key: String, who: String): Unit = {
    import org.apache.spark.sql.functions.{col, count, lit}
    val dup = batch.groupBy(col(key)).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).limit(1).collect()
    if (dup.nonEmpty)
      throw new IllegalArgumentException(s"$who: duplicate $key in batch " +
        s"(${dup.head.get(0)}) — MERGE needs one row per $key")
  }

  /** Key-based upsert (MERGE) into a parquet directory: incoming rows
    * replace existing rows with the same key, new keys append — the
    * nightly-ingest primitive for a lake without a table format.
    * MERGE semantics require at most one update row per key; duplicate
    * keys in `updates` fail loudly (the SQL MERGE "multiple source rows
    * match" error) instead of silently multiplying rows.
    *
    * With `newestBy` non-empty the MERGE becomes conditional
    * (keep-newest): within each key the row with the largest `newestBy`
    * tuple wins — across the existing rows AND the update batch — so
    * applying batches out of order converges to the same state as
    * in-order application (last-WRITTEN-wins would not), and in-batch
    * duplicate keys reduce instead of erroring. This is the CDC
    * materialization contract: `newestBy` is the source's event-time +
    * unique tie-break, and replayed/reordered batches are idempotent.
    *
    * On a [[writeKeyBucketed]] layout the rewrite is PARTITION-PRUNED:
    * only the bucket directories whose hash range contains an updated
    * key are read, merged (anti join + union), and committed — through
    * [[IndexMerge.merge]]'s ONE dynamic-partition-overwrite job, so the
    * whole batch has a single commit point; untouched bucket
    * directories keep their files byte-identical (asserted in
    * MaintenanceSpec by mtime+size), and re-running the same upsert is
    * idempotent.
    *
    * On a flat directory (no bucket marker) the whole directory
    * rewrites in one crash-safe swap — correct, but O(lake) per batch;
    * bucket the layout when that matters. With a table format
    * (Delta/Iceberg) the same logic is a metadata MERGE — this
    * implements the storage-level semantics.
    */
  def upsertParquet(spark: SparkSession, dir: String, updates0: DataFrame,
      key: String, newestBy: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    val updates =
      if (newestBy.isEmpty) updates0 else keepNewest(updates0, key, newestBy)
    if (newestBy.isEmpty) requireUniqueKeys(updates, key, "upsertParquet")
    def merge(existing: DataFrame, upd: DataFrame): DataFrame =
      if (newestBy.isEmpty)
        existing.join(upd.select(upd(key)), Seq(key), "left_anti")
          .unionByName(upd)
      else keepNewest(existing.unionByName(upd), key, newestBy)
    val markerPath = new org.apache.hadoop.fs.Path(dir, BucketMarker)
    val fs = markerPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(markerPath)) {
      // flat layout: one whole-directory crash-safe rewrite
      val merged = merge(spark.read.parquet(dir), updates)
      val tmp = dir + "__upserting"
      merged.write.mode("overwrite").parquet(tmp)
      swapDirs(spark, tmp, dir)
      spark.catalog.refreshByPath(dir)
      return
    }
    val nBuckets = {
      val in = fs.open(markerPath)
      try new String(in.readAllBytes(), "UTF-8").trim.toInt
      finally in.close()
    }
    val bucketOf: Column => Column = k => pmod(hash(k), lit(nBuckets))
    val upd = updates.withColumn("bucket", bucketOf(col(key)))
    // ONE dynamic-partition-overwrite commit over exactly the touched
    // buckets. A key's bucket is a pure hash of the key, so an update
    // can never vacate its bucket — the custom keep-newest combine is
    // safe under the kernel's no-vacating rule — and (r16) the same
    // purity is the exact [[PartOf]] locating hint: the kernel reads
    // ONLY the batch's buckets, no stats scan at all.
    IndexMerge.merge(spark, dir, "bucket", key, upd,
      mergeFn =
        if (newestBy.isEmpty) None
        else Some((stored, batch) => keepNewest(
          stored.unionByName(batch), key, newestBy)),
      hint = Some(PartOf(bucketOf)))
    spark.catalog.refreshByPath(dir) // replaced partitions: drop listings
  }

  /** Directory swap that never leaves a window without the data: the
    * original moves aside to a backup, the new directory renames into
    * place, then the backup is dropped. A crash at any point leaves
    * either the original (as `dir` or recoverable at `dir__backup`) or
    * the completed swap — never neither. An absent `dir` (a first
    * write, or a crash between the two renames) takes `tmp` directly,
    * and any stale backup goes once the new content is in place. The
    * FS is resolved from the path itself, not the default FS, so
    * scheme-qualified dirs work.
    */
  private[graft] def swapDirs(spark: SparkSession, tmp: String,
      dir: String): Unit = {
    val conf   = spark.sparkContext.hadoopConfiguration
    val src    = new org.apache.hadoop.fs.Path(tmp)
    val dst    = new org.apache.hadoop.fs.Path(dir)
    val backup = new org.apache.hadoop.fs.Path(dir + "__backup")
    val fs     = dst.getFileSystem(conf)
    val present = fs.exists(dst)
    if (present) {
      if (fs.exists(backup)) fs.delete(backup, true) // stale from a crash
      if (!fs.rename(dst, backup))
        throw new java.io.IOException(s"rename $dst -> $backup failed")
    }
    // Hadoop FileSystems variously return false OR throw for a bad
    // source — treat both as "swap-in failed" so the rollback runs
    val swappedIn =
      try fs.rename(src, dst)
      catch { case _: java.io.IOException => false }
    if (!swappedIn) {
      if (present) fs.rename(backup, dst) // roll back; original untouched
      throw new java.io.IOException(s"rename $src -> $dst failed")
    }
    fs.delete(backup, true)
  }
}
