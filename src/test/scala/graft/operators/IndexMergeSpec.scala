package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the ONE-job partitioned-merge kernel's contract (r14 verdict
  * tasks 1+4): MERGE/DELETE equal a from-scratch rebuild, untouched
  * partition directories keep their files byte-identical, a partition
  * fully vacated by a moved/purged key is CLEARED (dynamic overwrite
  * alone would leave its stale directory), re-application converges,
  * and the whole batch lands through one dynamic-partition-overwrite
  * commit (no per-partition `__upserting` swap litter).
  */
class IndexMergeSpec extends SparkSuite {

  import spark.implicits._

  private def freshIdx(rows: Seq[(Long, Int, String)]): String = {
    val root = java.nio.file.Files
      .createTempDirectory("graft-indexmerge").toString + "/idx"
    rows.toDF("id", "part", "payload")
      .write.partitionBy("part").parquet(root)
    root
  }

  private def fileState(root: String): Map[Int, Set[(String, Long, Long)]] = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new Path(root))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("part="))
      .map { d =>
        d.getPath.getName.stripPrefix("part=").toInt ->
          fs.listStatus(d.getPath).map(f =>
            (f.getPath.getName, f.getLen, f.getModificationTime)).toSet
      }.toMap
  }

  private def rowsOf(root: String): Set[(Long, Int, String)] =
    spark.read.parquet(root).select(col("id"), col("part"), col("payload"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet

  private val base = Seq(
    (1L, 0, "a"), (2L, 0, "b"), (3L, 1, "c"), (4L, 1, "d"), (5L, 2, "e"))

  test("merge == rebuild; untouched partitions byte-identical; moved key clears its old partition") {
    val root = freshIdx(base)
    // id=5 MOVES from part 2 (its only row) to part 0; id=6 is new in
    // part 3 (previously absent); part 1 is untouched
    val batch = Seq((5L, 0, "E"), (6L, 3, "f")).toDF("id", "part", "payload")
    val before  = fileState(root)
    val touched = IndexMerge.merge(spark, root, "part", "id", batch)
    assert(touched == Seq(0, 2, 3))
    assert(fileState(root)(1) === before(1),
      "untouched partition 1 was rewritten")
    assert(!fileState(root).contains(2),
      "part=2 lost its only row to the move but its directory survived " +
        "— a probe would serve the stale pre-move row")
    assert(rowsOf(root) === Set(
      (1L, 0, "a"), (2L, 0, "b"), (3L, 1, "c"), (4L, 1, "d"),
      (5L, 0, "E"), (6L, 3, "f")))
    // no per-partition swap litter, no staging leftovers
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names = fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .map(_.getPath.getName).toSeq
    assert(!names.exists(n => n.contains("__upserting") ||
      n.contains("__backup") || n.contains("staging")), names.toString)
    // re-application (the crashed-commit repair) converges
    IndexMerge.merge(spark, root, "part", "id", batch)
    assert(rowsOf(root) === Set(
      (1L, 0, "a"), (2L, 0, "b"), (3L, 1, "c"), (4L, 1, "d"),
      (5L, 0, "E"), (6L, 3, "f")))
  }

  test("delete clears purged rows and fully-purged partitions; idempotent") {
    val root   = freshIdx(base)
    val before = fileState(root)
    // purges part 2 entirely (its only row) and one row of part 0
    val purge = Seq(5L, 2L).toDF("id")
    val touched = IndexMerge.delete(spark, root, "part", "id", purge)
    assert(touched == Seq(0, 2))
    assert(fileState(root)(1) === before(1),
      "untouched partition 1 was rewritten by the delete")
    assert(!fileState(root).contains(2), "fully-purged part=2 survived")
    assert(rowsOf(root) === Set((1L, 0, "a"), (3L, 1, "c"), (4L, 1, "d")))
    assert(IndexMerge.delete(spark, root, "part", "id", purge).isEmpty,
      "re-applied purge list touched partitions")
  }

  test("custom mergeFn: keep-newest combine sees stored rows; vacating guard is loud") {
    val root = freshIdx(base)
    // keep-newest on payload (lexicographic): the stored "b" must BEAT
    // the incoming "B" — proving the custom combine really sees the
    // stored side rather than anti-joining it away
    val batch = Seq((2L, 0, "B"), (6L, 0, "f")).toDF("id", "part", "payload")
    def newest(stored: DataFrame, b: DataFrame): DataFrame =
      stored.unionByName(b).groupBy(col("id"))
        .agg(max_by(struct(col("id"), col("part"), col("payload")),
          col("payload")).as("w"))
        .select(col("w.id").as("id"), col("w.part").as("part"),
          col("w.payload").as("payload"))
    IndexMerge.merge(spark, root, "part", "id", batch,
      mergeFn = Some(newest))
    assert(rowsOf(root) === Set(
      (1L, 0, "a"), (2L, 0, "b"), (3L, 1, "c"), (4L, 1, "d"),
      (5L, 2, "e"), (6L, 0, "f")))
    // a custom combine may not vacate a partition (the kernel cannot
    // know the final content): id=5 replaced, nothing lands in part 2
    val vacating = Seq((5L, 0, "z")).toDF("id", "part", "payload")
    intercept[IllegalArgumentException] {
      IndexMerge.merge(spark, root, "part", "id", vacating,
        mergeFn = Some(newest))
    }
  }

  private def metaOf(root: String): Map[Int, (Long, Long, Long)] =
    spark.read.parquet(s"$root/_meta/part_stats")
      .collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap

  private def fs(root: String) = new org.apache.hadoop.fs.Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def hp(p: String) = new org.apache.hadoop.fs.Path(p)

  test("merge bootstraps the part-stats sidecar; the next locating pass prunes to intersecting key ranges") {
    val root  = freshIdx(base)
    val batch = Seq((6L, 3, "f")).toDF("id", "part", "payload")
    // no sidecar yet: the locating pass must declare a full scan
    assert(IndexMerge.candidateParts(spark, root, "part", "id",
      batch.select(col("id"))).isEmpty)
    IndexMerge.merge(spark, root, "part", "id", batch)
    // bootstrap: one row per partition with exact key range + count
    assert(metaOf(root) === Map(
      0 -> (1L, 2L, 2L), 1 -> (3L, 4L, 2L), 2 -> (5L, 5L, 1L),
      3 -> (6L, 6L, 1L)))
    // a key only part 1's range can hold prunes the scan to part 1 —
    // the r15 verdict's Done criterion: the locating scan's input
    // paths exclude partitions whose key range cannot intersect
    assert(IndexMerge.candidateParts(spark, root, "part", "id",
      Seq(4L).toDF("id")) === Some(Seq(1)))
    // a key outside EVERY range scans nothing stored
    assert(IndexMerge.candidateParts(spark, root, "part", "id",
      Seq(99L).toDF("id")) === Some(Seq.empty))
    // the pruned merge path stays correct end-to-end: update the key,
    // confirm the rewrite, and confirm the sidecar followed
    IndexMerge.merge(spark, root, "part", "id",
      Seq((4L, 1, "D")).toDF("id", "part", "payload"))
    assert(rowsOf(root) === Set(
      (1L, 0, "a"), (2L, 0, "b"), (3L, 1, "c"), (4L, 1, "D"),
      (5L, 2, "e"), (6L, 3, "f")))
    assert(metaOf(root)(1) === ((3L, 4L, 2L)))
  }

  test("a pending marker or an out-of-band append makes the locating pass fall back to the full scan") {
    val root = freshIdx(base)
    IndexMerge.merge(spark, root, "part", "id",
      Seq((6L, 3, "f")).toDF("id", "part", "payload"))
    val keys = Seq(1L).toDF("id")
    assert(IndexMerge.candidateParts(spark, root, "part", "id", keys)
      === Some(Seq(0)))
    // a crashed commit leaves _meta/pending: the sidecar is untrusted
    fs(root).create(hp(s"$root/_meta/pending"), true).close()
    assert(IndexMerge.candidateParts(spark, root, "part", "id", keys)
      .isEmpty, "pending marker did not force the full-scan fallback")
    // the next completed commit rewrites the sidecar and clears pending
    IndexMerge.merge(spark, root, "part", "id",
      Seq((7L, 3, "g")).toDF("id", "part", "payload"))
    assert(!fs(root).exists(hp(s"$root/_meta/pending")))
    assert(IndexMerge.candidateParts(spark, root, "part", "id", keys)
      === Some(Seq(0)))
    // a write that bypasses the kernel must invalidate the sidecar
    IndexMerge.invalidateStats(spark, root)
    assert(IndexMerge.candidateParts(spark, root, "part", "id", keys)
      .isEmpty, "invalidateStats left a trusted sidecar behind")
    // ensureStats is the explicit repair: one full scan, trusted again
    IndexMerge.ensureStats(spark, root, "part", "id")
    assert(IndexMerge.candidateParts(spark, root, "part", "id", keys)
      === Some(Seq(0)))
    assert(metaOf(root)(3) === ((6L, 7L, 2L)))
  }

  test("a partition on disk but absent from the sidecar is always a locating candidate") {
    val root = freshIdx(base)
    IndexMerge.merge(spark, root, "part", "id",
      Seq((6L, 3, "f")).toDF("id", "part", "payload"))
    // plant a partition the sidecar has never seen (an out-of-band
    // backfill): its rows must still be found by the locating pass
    Seq((9L, 7, "z")).toDF("id", "part", "payload")
      .write.option("basePath", root).mode("append")
      .parquet(s"$root/part=7")
    assert(IndexMerge.candidateParts(spark, root, "part", "id",
      Seq(1L).toDF("id")).exists(_.contains(7)),
      "uncovered partition was pruned away")
    // a merge replacing the uncovered key works and adopts the row
    IndexMerge.merge(spark, root, "part", "id",
      Seq((9L, 7, "Z")).toDF("id", "part", "payload"))
    assert(rowsOf(root).contains((9L, 7, "Z")))
    assert(metaOf(root)(7) === ((9L, 9L, 1L)))
  }

  test("mixed-key tables: ranges recorded under one key never prune another key's locate") {
    // the MaxSim shape: the same table MERGEs on a token id but PURGEs
    // on a document id — did values compared against vec_id ranges
    // would silently skip partitions holding the purged rows. The
    // sidecar records its key column; a mismatched key reads as
    // untrusted (full scan) and the commit rewrites it under its key.
    val root = java.nio.file.Files
      .createTempDirectory("graft-indexmerge-mixed").toString + "/idx"
    // vec_id = did * 10 + t: partition 0 holds docs 500+, partition 1
    // holds docs 0-1 — doc ids land far outside partition 0's vec_id
    // range, the exact mis-prune shape
    Seq((5001L, 5001L / 10, 0), (5002L, 5002L / 10, 0),
        (11L, 1L, 1), (12L, 1L, 1), (5L, 0L, 1))
      .toDF("vec_id", "did", "part")
      .write.partitionBy("part").parquet(root)
    // a vec_id-keyed merge bootstraps a vec_id-ranged sidecar
    IndexMerge.merge(spark, root, "part", "vec_id",
      Seq((21L, 2L, 1)).toDF("vec_id", "did", "part"))
    assert(IndexMerge.candidateParts(spark, root, "part", "vec_id",
      Seq(5001L).toDF("vec_id")) === Some(Seq(0)))
    // a did-keyed locate must NOT consult vec_id ranges: did 500 is
    // outside partition 0's did values' vec_id range [5001, 5002]
    assert(IndexMerge.candidateParts(spark, root, "part", "did",
      Seq(500L).toDF("did")).isEmpty,
      "a did locate trusted vec_id ranges — purged rows would survive")
    // the did-keyed delete full-scans, purges correctly, and rewrites
    // the sidecar under did
    IndexMerge.delete(spark, root, "part", "did", Seq(500L).toDF("did"))
    assert(spark.read.parquet(root).filter(col("did") === 500L).count()
      == 0, "the did purge missed rows")
    assert(IndexMerge.candidateParts(spark, root, "part", "did",
      Seq(1L).toDF("did")) === Some(Seq(1)),
      "the delete did not re-key the sidecar to did")
    // ensureStats re-keys a mismatched sidecar instead of no-opping
    IndexMerge.ensureStats(spark, root, "part", "vec_id")
    assert(IndexMerge.candidateParts(spark, root, "part", "vec_id",
      Seq(11L).toDF("vec_id")) === Some(Seq(1)))
  }

  test("string keys: sidecar ranges are written and pruned under one lexicographic ordering") {
    // the sidecar is type-generic: kmin/kmax carry the key column's
    // own type, and pruning compares with the SAME ordering min/max
    // aggregated with — pin the string case (no current family keys on
    // strings, but the kernel contract is key-type-agnostic)
    val root = java.nio.file.Files
      .createTempDirectory("graft-indexmerge-str").toString + "/idx"
    Seq(("apple", 0, "a"), ("berry", 0, "b"),
        ("melon", 1, "c"), ("peach", 1, "d"))
      .toDF("id", "part", "payload")
      .write.partitionBy("part").parquet(root)
    IndexMerge.merge(spark, root, "part", "id",
      Seq(("zebra", 2, "z")).toDF("id", "part", "payload"))
    assert(IndexMerge.candidateParts(spark, root, "part", "id",
      Seq("banana").toDF("id")) === Some(Seq(0)),
      "lexicographic range [apple,berry] did not capture banana")
    assert(IndexMerge.candidateParts(spark, root, "part", "id",
      Seq("nectarine").toDF("id")) === Some(Seq(1)))
    IndexMerge.merge(spark, root, "part", "id",
      Seq(("melon", 1, "C")).toDF("id", "part", "payload"))
    assert(spark.read.parquet(root)
      .filter(col("id") === "melon").select(col("payload"))
      .head().getString(0) == "C")
  }

  test("delete keeps the sidecar consistent") {
    val root = freshIdx(base)
    IndexMerge.merge(spark, root, "part", "id",
      Seq((6L, 3, "f")).toDF("id", "part", "payload"))
    IndexMerge.delete(spark, root, "part", "id", Seq(5L, 2L).toDF("id"))
    assert(metaOf(root) === Map(
      0 -> (1L, 1L, 1L), 1 -> (3L, 4L, 2L), 3 -> (6L, 6L, 1L)),
      "delete left stale sidecar rows (fully-purged part 2 or the " +
        "purged row of part 0)")
  }

  test("leftover dynamic-overwrite staging recovers: a deleted-but-not-renamed partition's rows are restored") {
    val root = freshIdx(base)
    // simulate Spark's commitJob dying mid-loop: part=2 was deleted
    // from the live tree while its full replacement sits only under
    // the hidden .spark-staging-<job> directory
    val f = fs(root)
    f.mkdirs(hp(s"$root/.spark-staging-deadjob"))
    assert(f.rename(hp(s"$root/part=2"),
      hp(s"$root/.spark-staging-deadjob/part=2")))
    // a merge touching OTHER partitions must first restore part 2 —
    // its row (5L) is not in this batch, so nothing else can bring
    // it back
    IndexMerge.merge(spark, root, "part", "id",
      Seq((6L, 3, "f")).toDF("id", "part", "payload"))
    assert(rowsOf(root) === Set(
      (1L, 0, "a"), (2L, 0, "b"), (3L, 1, "c"), (4L, 1, "d"),
      (5L, 2, "e"), (6L, 3, "f")),
      "the staged partition's non-batch rows were lost")
    assert(!f.exists(hp(s"$root/.spark-staging-deadjob")),
      "staging litter survived recovery")
    assert(metaOf(root)(2) === ((5L, 5L, 1L)))
    // the other leftover shape: staged copy present AND live copy
    // present (the commit died before this partition's swap) — the
    // live pre-merge copy wins and the litter drops
    f.mkdirs(hp(s"$root/.spark-staging-deadjob2/part=0"))
    IndexMerge.delete(spark, root, "part", "id", Seq(6L).toDF("id"))
    assert(!f.exists(hp(s"$root/.spark-staging-deadjob2")))
    assert(rowsOf(root).contains((1L, 0, "a")))
  }

  test("a PartOf hint locates exactly the hashed partitions, sidecar or no sidecar") {
    // hash-bucketed shape: part = id % 3 — every partition's key RANGE
    // spans the domain (0,3,6.. / 1,4,7.. / 2,5,8..), so the sidecar's
    // range prune would scan everything; the hint is exact
    val root = java.nio.file.Files
      .createTempDirectory("graft-indexmerge-hash").toString + "/idx"
    Seq((0L, 0, "a"), (3L, 0, "b"), (1L, 1, "c"), (4L, 1, "d"),
        (2L, 2, "e"))
      .toDF("id", "part", "payload")
      .write.partitionBy("part").parquet(root)
    val partOf = PartOf(k => pmod(k, lit(3)))
    // the hint's candidate set is the batch keys' own buckets — no
    // sidecar consulted (there is none yet)
    assert(IndexMerge.hintParts(spark, partOf,
      Seq(3L, 4L).toDF("id"), "id", "part").sorted === Seq(0, 1))
    val batch = Seq((3L, 0, "B"), (7L, 1, "x")).toDF("id", "part", "payload")
    val before = fileState(root)
    val touched = IndexMerge.merge(spark, root, "part", "id", batch,
      hint = Some(partOf))
    assert(touched === Seq(0, 1))
    assert(fileState(root)(2) === before(2),
      "partition outside the hint was rewritten")
    assert(rowsOf(root) === Set(
      (0L, 0, "a"), (3L, 0, "B"), (1L, 1, "c"), (4L, 1, "d"),
      (2L, 2, "e"), (7L, 1, "x")))
    // the hinted commit seeds a PARTIAL sidecar: scanned partitions
    // only; uncovered on-disk partitions remain unhinted candidates
    // (the always-scan fallback), so partial is safe
    val m = metaOf(root)
    assert(m.keySet === Set(0, 1), s"partial sidecar expected, got $m")
    assert(IndexMerge.candidateParts(spark, root, "part", "id",
      Seq(99L).toDF("id")).exists(_.contains(2)),
      "sidecar-uncovered partition was pruned from an unhinted locate")
    // hinted DELETE: purge id 4 (bucket 1 only) — bucket 0 untouched
    val b0 = fileState(root)(0)
    assert(IndexMerge.delete(spark, root, "part", "id",
      Seq(4L).toDF("id"), hint = Some(partOf)) === Seq(1))
    assert(fileState(root)(0) === b0)
    assert(!rowsOf(root).contains((4L, 1, "d")))
  }

  test("a PartOf merge creating a NEW partition lands it (the fused hint collect covers the batch's own targets)") {
    // r16: the merge path derives the batch's target-partition set
    // from the SAME collect as the PartOf candidate set (the hint
    // contract pins batch.partCol == f(key)). The case that fusion
    // must not break: a batch key hashing to a bucket with no on-disk
    // directory yet — the on-disk filter applies only to the SCAN
    // side, never to the new-partition side.
    val root = java.nio.file.Files
      .createTempDirectory("graft-indexmerge-newpart").toString + "/idx"
    Seq((0L, 0, "a"), (1L, 1, "b")).toDF("id", "part", "payload")
      .write.partitionBy("part").parquet(root)
    val partOf = PartOf(k => pmod(k, lit(3)))
    val batch = Seq((2L, 2, "NEW"), (4L, 1, "B")).toDF("id", "part", "payload")
    val before = fileState(root)
    val touched = IndexMerge.merge(spark, root, "part", "id", batch,
      hint = Some(partOf))
    assert(touched === Seq(1, 2), "new bucket 2 must count as touched")
    assert(fileState(root)(0) === before(0),
      "partition outside the batch's buckets was rewritten")
    assert(rowsOf(root) === Set(
      (0L, 0, "a"), (1L, 1, "b"), (4L, 1, "B"), (2L, 2, "NEW")))
    // idempotent re-apply: same touched set, same rows
    assert(IndexMerge.merge(spark, root, "part", "id", batch,
      hint = Some(partOf)) === Seq(1, 2))
    assert(rowsOf(root) === Set(
      (0L, 0, "a"), (1L, 1, "b"), (4L, 1, "B"), (2L, 2, "NEW")))
  }

  test("a wrong PartOf hint fails the merge before anything durable happens") {
    // the hint claims part = id % 3, but the batch files id 7 under
    // part 0 (7 % 3 = 1): trusting it would scan bucket 0 only and
    // leave any stored id-7 rows of bucket 1 alive next to the new row
    val root = java.nio.file.Files
      .createTempDirectory("graft-indexmerge-wronghint").toString + "/idx"
    Seq((0L, 0, "a"), (3L, 0, "b"), (1L, 1, "c"), (7L, 1, "d"))
      .toDF("id", "part", "payload")
      .write.partitionBy("part").parquet(root)
    val partOf = PartOf(k => pmod(k, lit(3)))
    val before = fileState(root)
    val err = intercept[IllegalArgumentException] {
      IndexMerge.merge(spark, root, "part", "id",
        Seq((3L, 0, "B"), (7L, 0, "D")).toDF("id", "part", "payload"),
        hint = Some(partOf))
    }
    assert(err.getMessage.contains("PartOf hint violated"), err.getMessage)
    assert(err.getMessage.contains("id=7"), err.getMessage)
    assert(fileState(root) === before,
      "a rejected merge touched a partition directory")
    assert(!fs(root).exists(hp(s"$root/_meta")),
      "a rejected merge wrote the pending marker or the sidecar")
    assert(rowsOf(root) === Set(
      (0L, 0, "a"), (3L, 0, "b"), (1L, 1, "c"), (7L, 1, "d")))
  }

  test("a StoredAt hint prunes to the lookup's partitions; over-reporting is a no-op; moved keys clear their hinted old home") {
    val root = freshIdx(base)
    // id=5 moves part 2 -> 0; the lookup (a routing table) knows its
    // old home AND over-reports part 1 (stale pair) — the extra
    // partition scans as a no-op, the vacated old home clears
    val lookup = Seq((5L, 2), (5L, 1)).toDF("id", "part")
    assert(IndexMerge.hintParts(spark, StoredAt(lookup),
      Seq(5L).toDF("id"), "id", "part").sorted === Seq(1, 2))
    val batch = Seq((5L, 0, "E")).toDF("id", "part", "payload")
    val touched = IndexMerge.merge(spark, root, "part", "id", batch,
      hint = Some(StoredAt(lookup)))
    // touched = the batch's target (0) + the true old home (2); the
    // over-reported part 1 scanned, held no batch key, stayed put
    assert(touched === Seq(0, 2))
    assert(!fileState(root).contains(2),
      "moved key's hinted old partition survived empty")
    assert(rowsOf(root) === Set(
      (1L, 0, "a"), (2L, 0, "b"), (3L, 1, "c"), (4L, 1, "d"),
      (5L, 0, "E")))
    // lookup rows of OTHER keys never widen the scan: the semi-join
    // narrows to the batch keys first
    assert(IndexMerge.hintParts(spark,
      StoredAt(Seq((5L, 0), (99L, 1)).toDF("id", "part")),
      Seq(5L).toDF("id"), "id", "part") === Seq(0))
  }
}
