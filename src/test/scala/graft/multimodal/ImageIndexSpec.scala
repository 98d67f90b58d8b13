package graft.multimodal

import graft.{SparkSuite, Tables}
import org.apache.spark.sql.functions._

/** Pins the persisted image index's maintenance contract:
  * probe-after-upsert equals a from-scratch rebuild, the append-only
  * discipline fails loudly, the bands-then-sigs crash window
  * re-applies cleanly, and the probe-time hot-band cap is actually
  * exercised by the fixture (so cap parity with the oracle is a
  * tested property, not a vacuous one).
  */
class ImageIndexSpec extends SparkSuite {

  private val dir = sf("sf0.001")

  private def corpusHashes() =
    Multimodal.Image.corpusHashes(spark, dir)

  private def freshIdx(hashes: org.apache.spark.sql.DataFrame): String = {
    val idx = java.nio.file.Files
      .createTempDirectory("imgidx").toString
    Multimodal.writeMediaIndex(spark, hashes, idx)
    idx
  }

  private def probeRows(idx: String) =
    Multimodal.probeMediaIndex(spark, idx,
      Multimodal.Image.hashes(
        Multimodal.Image.night1(Tables(spark, dir).documents)))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))

  test("probe after upsert == probe of a from-scratch index") {
    val all  = corpusHashes().persist()
    try {
      val held = all.filter(col("media_id") % 5 === 0)
      val base = freshIdx(all.filter(col("media_id") % 5 =!= 0))
      val touched = Multimodal.upsertMediaIndex(spark, base, held)
      assert(touched.nonEmpty, "upsert touched no band bucket")
      assert(probeRows(base).sameElements(probeRows(freshIdx(all))),
        "probe after upsert != from-scratch rebuild over the full corpus")
    } finally all.unpersist()
  }

  test("append-only discipline fails loudly") {
    val all = corpusHashes()
    val idx = freshIdx(all)
    // re-ingesting an already-indexed id
    val ex = intercept[IllegalArgumentException] {
      Multimodal.upsertMediaIndex(spark, idx, all.limit(1))
    }
    assert(ex.getMessage.contains("append-only"))
    // duplicate ids within one batch
    val one = all.limit(1).select(
      (col("media_id") + 900000).as("media_id"), col("dhash"))
    val ex2 = intercept[IllegalArgumentException] {
      Multimodal.upsertMediaIndex(spark, idx, one.unionAll(one))
    }
    assert(ex2.getMessage.contains("duplicate"))
  }

  test("the bands-swapped/sigs-not-yet crash state re-applies cleanly") {
    val all  = corpusHashes().persist()
    try {
      val held = all.filter(col("media_id") % 5 === 0)
      val base = all.filter(col("media_id") % 5 =!= 0)
      // done: the committed upsert
      val done = freshIdx(base)
      Multimodal.upsertMediaIndex(spark, done, held)
      // crashed: bands already carry the batch (swap order: bands
      // first), sigs still pre-batch (the commit point never landed)
      val crashed = freshIdx(base)
      val doneBands = freshIdx(base) // scratch source of post-batch bands
      Multimodal.upsertMediaIndex(spark, doneBands, held)
      import java.nio.file.{Files, Paths, StandardCopyOption}
      def replace(dst: String, src: String): Unit = {
        def rm(p: java.nio.file.Path): Unit = if (Files.exists(p))
          Files.walk(p).sorted(java.util.Comparator.reverseOrder())
            .forEach(q => Files.deleteIfExists(q))
        rm(Paths.get(dst))
        Files.walk(Paths.get(src)).forEach { q =>
          val t = Paths.get(dst).resolve(Paths.get(src).relativize(q))
          if (Files.isDirectory(q)) Files.createDirectories(t)
          else Files.copy(q, t, StandardCopyOption.REPLACE_EXISTING)
        }
      }
      replace(s"$crashed/bands", s"$doneBands/bands")
      spark.catalog.refreshByPath(crashed)
      // the re-run sees the batch absent from sigs and finishes the
      // job; the bucket merges anti-join the batch ids, so the
      // already-swapped bands rows do not duplicate
      Multimodal.upsertMediaIndex(spark, crashed, held)
      assert(probeRows(crashed).sameElements(probeRows(done)),
        "crash re-apply diverged from the committed upsert")
    } finally all.unpersist()
  }

  test("delete == from-scratch rebuild over survivors; purged ids " +
      "unreachable; re-apply is a no-op") {
    val all = corpusHashes().persist()
    try {
      import org.apache.spark.sql.functions.col
      val idx = freshIdx(all)
      val purge = all.filter(col("media_id") % 9 === 0)
        .select(col("media_id"))
      val touched = Multimodal.deleteFromMediaIndex(spark, idx, purge)
      assert(touched.nonEmpty, "delete touched no band bucket")
      assert(probeRows(idx).sameElements(
        probeRows(freshIdx(all.filter(col("media_id") % 9 =!= 0)))),
        "probe after delete != from-scratch rebuild over survivors")
      // purged ids unreachable in BOTH tables
      Seq("sigs" -> "media_id LONG, dhash LONG, sb INT",
          "bands" -> "media_id LONG, dhash LONG, bno INT, bval LONG, bkt INT")
        .foreach { case (sub, schema) =>
          val left = spark.read.schema(schema).parquet(s"$idx/$sub")
            .join(purge, Seq("media_id"), "left_semi").count()
          assert(left == 0, s"$left purged rows survive in $sub/")
        }
      // re-apply: nothing to locate, nothing rewritten
      val before = probeRows(idx)
      assert(Multimodal.deleteFromMediaIndex(spark, idx, purge).isEmpty,
        "re-applied delete claims touched buckets")
      assert(probeRows(idx).sameElements(before), "re-apply changed the probe")
    } finally all.unpersist()
  }

  test("the bands-swapped/sigs-not-yet DELETE crash state converges") {
    val all = corpusHashes().persist()
    try {
      import org.apache.spark.sql.functions.col
      val purge = all.filter(col("media_id") % 9 === 0)
        .select(col("media_id"))
      val done = freshIdx(all)
      Multimodal.deleteFromMediaIndex(spark, done, purge)
      // crashed: bands already purged (swap order: bands first), sigs
      // still pre-delete — the commit point never landed
      val crashed   = freshIdx(all)
      val doneBands = freshIdx(all)
      Multimodal.deleteFromMediaIndex(spark, doneBands, purge)
      import java.nio.file.{Files, Paths, StandardCopyOption}
      def replace(dst: String, src: String): Unit = {
        val d = Paths.get(dst)
        if (Files.exists(d))
          Files.walk(d).sorted(java.util.Comparator.reverseOrder())
            .forEach(q => Files.deleteIfExists(q))
        Files.walk(Paths.get(src)).forEach { q =>
          val t = d.resolve(Paths.get(src).relativize(q))
          if (Files.isDirectory(q)) Files.createDirectories(t)
          else Files.copy(q, t, StandardCopyOption.REPLACE_EXISTING)
        }
      }
      replace(s"$crashed/bands", s"$doneBands/bands")
      spark.catalog.refreshByPath(crashed)
      // purged ids are still in sigs, so the re-run locates them and
      // finishes the job; the band anti-joins are idempotent
      Multimodal.deleteFromMediaIndex(spark, crashed, purge)
      assert(probeRows(crashed).sameElements(probeRows(done)),
        "delete crash re-apply diverged from the committed delete")
    } finally all.unpersist()
  }

  test("a hot band un-hots by deletion alone — resurrection is free " +
      "under the probe-time cap") {
    import spark.implicits._
    // 51 identical hashes: every band holds 51 members — hot
    val hot = (1L to 51L).map(i => (i, 123456789L)).toDF("media_id", "dhash")
    val idx = freshIdx(hot)
    val probe = Seq((999L, 123456789L)).toDF("media_id", "dhash")
    val before = Multimodal.probeMediaIndex(spark, idx, probe).collect()
    assert(before.head.getString(1) == "new" && before.head.getInt(2) == 99,
      "the engineered hot band still generated candidates")
    // deleting two members drops membership to 49 — under the cap;
    // the next probe's membership pass sees it with NO maintenance
    // event (the MinHash index needs a resurrection pass here)
    Multimodal.deleteFromMediaIndex(spark, idx,
      Seq(50L, 51L).toDF("media_id"))
    val after = Multimodal.probeMediaIndex(spark, idx, probe).collect()
    assert(after.head.getString(1) == "dup" && after.head.getInt(2) == 0,
      "the un-hot band's candidates did not reappear after deletion")
  }

  test("the probe-time hot-band cap is exercised by the corpus") {
    val idx = freshIdx(corpusHashes())
    val hot = spark.read
      .schema("media_id LONG, dhash LONG, bno INT, bval LONG, bkt INT")
      .parquet(s"$idx/bands")
      .groupBy(col("bno"), col("bval")).agg(count(lit(1)).as("bc"))
      .filter(col("bc") > 50).count()
    assert(hot > 0,
      "no band exceeds the 50-member cap at sf0.001 — the probe-time " +
        "cap path is vacuously untested")
  }
}
