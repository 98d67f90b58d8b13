package graft.text

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins upsertTextIndex's maintenance contract against the one oracle
  * that matters: a from-scratch rebuild over the same final corpus.
  * Bucket layout stays the 16-way term hash, merged buckets compact,
  * the exact-integer stats refresh reproduces the rebuild's stats
  * bit-for-bit, the probe output is identical, re-applying a batch is
  * idempotent, and the MERGE preconditions fail loudly. The write path
  * runs in a fixed job budget: a replace-path upsert, an all-new upsert
  * and a delete each launch at most a fixed number of Spark jobs, for
  * driver-local batches (CHANGES.md records the measured counts).
  */
class TextIndexUpsertSpec extends SparkSuite {

  private val dir = sf("sf0.001")
  private val ReplaceUpsertBudget = 38
  private val NewUpsertBudget = 30
  private val DeleteBudget = 21

  private def docs: DataFrame =
    graft.Tables(spark, dir).documents.select(col("doc_id"), col("text"))

  private def tmpIdx(tag: String): String = {
    val d = java.nio.file.Files
      .createTempDirectory(s"graft_upsert_spec_$tag").toFile
    d.deleteOnExit()
    d.getAbsolutePath + "/idx"
  }

  private def postingsOf(idx: String): Array[(String, Long, Int, Long)] =
    spark.read.parquet(s"$idx/postings")
      .select(col("term"), col("doc_id"), col("dl"), col("tf"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))

  test("probe after upsert equals a from-scratch rebuild, bit for bit") {
    val upserted = tmpIdx("u")
    TextQueries.writeTextIndex(spark,
      docs.filter(col("doc_id") % 5 =!= 0), upserted)
    val batch =
      docs.filter(col("doc_id") % 5 === 0 || col("doc_id") % 10 === 1)
    // the buckets holding a batch doc's postings, from a full scan
    def batchBuckets(): Set[Int] =
      spark.read.parquet(s"$upserted/postings")
        .join(batch.select(col("doc_id")), Seq("doc_id"), "left_semi")
        .select(col("bkt")).distinct().collect().map(_.getInt(0)).toSet
    val bucketsBefore = batchBuckets()
    assert(bucketsBefore.nonEmpty, "fixture: the batch replaces no doc")
    val touched = TextQueries.upsertTextIndex(spark, upserted, batch)
    assert(touched.nonEmpty && touched.forall(b => b >= 0 && b < 16))
    // the merge touched exactly the buckets a replaced doc left and
    // the buckets every batch doc landed in
    val expected = bucketsBefore ++ batchBuckets()
    assert(touched.toSet == expected, s"postings merge touched " +
      s"${touched.sorted} but the batch docs' postings sit in " +
      s"${expected.toSeq.sorted}")

    val rebuilt = tmpIdx("r")
    TextQueries.writeTextIndex(spark, docs, rebuilt)

    // postings content identical (same rows, bucket by bucket)
    assert(postingsOf(upserted).sameElements(postingsOf(rebuilt)),
      "upserted postings diverge from the rebuild")
    // bucket layout stable: same bucket values as the rebuild, all in
    // the 16-way hash range
    def buckets(idx: String) = spark.read.parquet(s"$idx/postings")
      .select(col("bkt")).distinct().collect().map(_.getInt(0)).sorted
    assert(buckets(upserted).sameElements(buckets(rebuilt)))
    // stats refresh is exact: the integer deltas reproduce the
    // rebuild's (n_docs, avgdl, sum_dl) including the double division
    val su = spark.read.parquet(s"$upserted/stats").head()
    val sr = spark.read.parquet(s"$rebuilt/stats").head()
    assert(su.getLong(su.fieldIndex("n_docs")) ==
      sr.getLong(sr.fieldIndex("n_docs")))
    assert(su.getLong(su.fieldIndex("sum_dl")) ==
      sr.getLong(sr.fieldIndex("sum_dl")))
    assert(su.getDouble(su.fieldIndex("avgdl")) ==
      sr.getDouble(sr.fieldIndex("avgdl")))
    // and the serving observation: byte-identical probe output
    val pu = TextQueries.probeTextIndex(spark, upserted).collect()
    val pr = TextQueries.probeTextIndex(spark, rebuilt).collect()
    assert(pu.sameElements(pr), "probe output diverges from the rebuild")

    // merged buckets are COMPACTED (size-derived file count = 1 here)
    touched.foreach { b =>
      val files = new java.io.File(s"$upserted/postings/bkt=$b")
        .listFiles().count(f => f.getName.endsWith(".parquet"))
      assert(files == 1, s"bucket $b not compacted: $files files")
    }

    // idempotency: re-applying the same batch converges (MERGE, not
    // append) — postings and stats unchanged
    TextQueries.upsertTextIndex(spark, upserted,
      docs.filter(col("doc_id") % 5 === 0 || col("doc_id") % 10 === 1))
    assert(postingsOf(upserted).sameElements(postingsOf(rebuilt)),
      "re-applying the batch changed the index")
    val su2 = spark.read.parquet(s"$upserted/stats").head()
    assert(su2.getLong(su2.fieldIndex("n_docs")) ==
      sr.getLong(sr.fieldIndex("n_docs")))
    assert(su2.getLong(su2.fieldIndex("sum_dl")) ==
      sr.getLong(sr.fieldIndex("sum_dl")))
  }

  test("untouched bucket directories keep their files byte-identical") {
    val idx = tmpIdx("n")
    TextQueries.writeTextIndex(spark, docs.filter(col("doc_id") % 5 =!= 0), idx)
    def fileState(): Map[String, (Long, Long)] =
      new java.io.File(s"$idx/postings").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("bkt="))
        .flatMap(d => d.listFiles().map(f =>
          f.getPath -> ((f.length(), f.lastModified()))))
        .toMap
    val before = fileState()
    // a one-doc batch touches only its own terms' buckets
    val touched =
      TextQueries.upsertTextIndex(spark, idx,
        docs.filter(col("doc_id") === 0)).toSet
    val untouchedDirs = new java.io.File(s"$idx/postings").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bkt="))
      .filter(f => !touched.contains(f.getName.stripPrefix("bkt=").toInt))
    assert(untouchedDirs.nonEmpty, "fixture: every bucket was touched")
    val after = fileState()
    untouchedDirs.foreach { d =>
      d.listFiles().foreach { f =>
        assert(after(f.getPath) == before(f.getPath),
          s"untouched bucket file rewritten: ${f.getPath}")
      }
    }
  }

  test("duplicate doc_id in a batch fails loudly") {
    val idx = tmpIdx("d")
    TextQueries.writeTextIndex(spark, docs.filter(col("doc_id") % 5 =!= 0), idx)
    val dup = docs.filter(col("doc_id") === 0)
      .unionAll(docs.filter(col("doc_id") === 0))
    val e = intercept[IllegalArgumentException] {
      TextQueries.upsertTextIndex(spark, idx, dup)
    }
    assert(e.getMessage.contains("duplicate doc_id"))
  }

  test("upsert against a missing index fails loudly") {
    val e = intercept[IllegalArgumentException] {
      TextQueries.upsertTextIndex(spark, tmpIdx("m"),
        docs.filter(col("doc_id") === 0))
    }
    assert(e.getMessage.contains("build it first"))
  }

  test("a crashed pass heals: the pending marker forces a re-apply whose stats recompute from data") {
    // the r16 stats contract: no delta arithmetic survives — the
    // refresh recomputes per-rb-bucket doc stats from the docmap, so
    // ANY crash interleaving converges under re-apply. Simulate the
    // worst pre-r16 state (postings + docmap committed, stats refresh
    // never ran — the old delta code recomputed a zero delta here and
    // lost the batch's contribution forever): roll the stats table
    // back to garbage, plant the pending marker, re-apply.
    val idx = tmpIdx("c")
    TextQueries.writeTextIndex(spark,
      docs.filter(col("doc_id") % 5 =!= 0), idx)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    TextQueries.upsertTextIndex(spark, idx, batch)
    val good = spark.read.parquet(s"$idx/stats").head()
    // roll back: garbage stats + the marker a mid-pass death leaves
    import spark.implicits._
    val garbTmp = s"$idx/stats__garb"
    Seq((1L, 1.0, 1L)).toDF("n_docs", "avgdl", "sum_dl")
      .coalesce(1).write.mode("overwrite").parquet(garbTmp)
    graft.operators.Maintenance.swapDirs(spark, garbTmp, s"$idx/stats")
    val marker = new org.apache.hadoop.fs.Path(s"$idx/stats__pending")
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(marker, true).close()
    assert(TextQueries.statsPending(spark, idx))
    // the repair IS the idempotent re-apply
    TextQueries.upsertTextIndex(spark, idx, batch)
    val healed = spark.read.parquet(s"$idx/stats").head()
    assert(healed.getLong(healed.fieldIndex("n_docs")) ==
      good.getLong(good.fieldIndex("n_docs")))
    assert(healed.getLong(healed.fieldIndex("sum_dl")) ==
      good.getLong(good.fieldIndex("sum_dl")))
    assert(healed.getDouble(healed.fieldIndex("avgdl")) ==
      good.getDouble(good.fieldIndex("avgdl")))
    assert(!TextQueries.statsPending(spark, idx),
      "the completed re-apply left the pending marker up")
  }

  test("a crash inside the dstats swap heals: the re-apply recounts every bucket") {
    // the swap moved dstats to its backup and died before the new
    // table landed; the re-apply's refresh finds no dstats, so it must
    // recount every docmap bucket, not only the batch's
    val idx = tmpIdx("s")
    TextQueries.writeTextIndex(spark,
      docs.filter(col("doc_id") % 5 =!= 0), idx)
    val batch = docs.filter(col("doc_id") === 0)
    TextQueries.upsertTextIndex(spark, idx, batch)
    val good = spark.read.parquet(s"$idx/stats").head()
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$idx/dstats"),
      new org.apache.hadoop.fs.Path(s"$idx/dstats__backup")))
    fs.create(new org.apache.hadoop.fs.Path(s"$idx/stats__pending"), true)
      .close()
    TextQueries.upsertTextIndex(spark, idx, batch)
    val healed = spark.read.parquet(s"$idx/stats").head()
    assert(healed.getLong(healed.fieldIndex("n_docs")) ==
      good.getLong(good.fieldIndex("n_docs")))
    assert(healed.getLong(healed.fieldIndex("sum_dl")) ==
      good.getLong(good.fieldIndex("sum_dl")))
  }

  test("deleteFromTextIndex heals its tails: a crash after the postings purge re-applies to clean docmap and stats") {
    val idx = tmpIdx("x")
    TextQueries.writeTextIndex(spark, docs, idx)
    val purge = docs.filter(col("doc_id") % 7 === 0).select(col("doc_id"))
    // simulate "postings purged, docmap/stats tails never ran": the
    // kernel delete alone, exactly deleteFromTextIndex's first commit
    val route = TextQueries.docRoute(idx)
    route.ensure(spark, s"$idx/postings")
    graft.operators.IndexMerge.delete(spark, s"$idx/postings", "bkt",
      "doc_id", purge,
      hint = Some(graft.operators.StoredAt(route.lookup(spark, purge))))
    assert(spark.read.parquet(route.routeDir)
      .join(purge, Seq("doc_id"), "left_semi").count() > 0,
      "precondition: stale docmap pairs should survive the crash")
    // re-apply: no postings work left, but the tails heal
    TextQueries.deleteFromTextIndex(spark, idx, purge)
    assert(spark.read.parquet(route.routeDir)
      .join(purge, Seq("doc_id"), "left_semi").count() == 0,
      "re-apply did not drop the purged docs' docmap pairs")
    // stats equal a from-scratch build over the survivors
    val rebuilt = tmpIdx("y")
    TextQueries.writeTextIndex(spark,
      docs.join(purge, Seq("doc_id"), "left_anti"), rebuilt)
    val sd = spark.read.parquet(s"$idx/stats").head()
    val sr = spark.read.parquet(s"$rebuilt/stats").head()
    assert(sd.getLong(sd.fieldIndex("n_docs")) ==
      sr.getLong(sr.fieldIndex("n_docs")))
    assert(sd.getLong(sd.fieldIndex("sum_dl")) ==
      sr.getLong(sr.fieldIndex("sum_dl")))
  }

  private def local(df: DataFrame): DataFrame =
    spark.createDataFrame(df.collectAsList(), df.schema)

  /** A fresh index over the corpus minus the doc_id % 5 == 0 slice,
    * and the number of Spark jobs `op` launches against it. */
  private def jobsAgainstBase[T](tag: String)(op: String => T): (T, Int) = {
    val idx = tmpIdx(tag)
    TextQueries.writeTextIndex(spark, docs.filter(col("doc_id") % 5 =!= 0), idx)
    graft.JobCount.jobsOf(spark, s"text-write-budget-$tag")(op(idx))
  }

  private def within(what: String, jobs: Int, budget: Int): Unit = {
    info(s"$what: $jobs jobs")
    assert(jobs <= budget, s"$what ran $jobs jobs (budget $budget)")
  }

  test("a replace-path upsert stays inside the job budget") {
    val batch = local(docs.filter(col("doc_id") % 10 === 1))
    val (touched, jobs) = jobsAgainstBase("jr")(
      TextQueries.upsertTextIndex(spark, _, batch))
    assert(touched.nonEmpty)
    within("replace-path upsertTextIndex", jobs, ReplaceUpsertBudget)
  }

  test("an all-new upsert stays inside the job budget") {
    val batch = local(docs.filter(col("doc_id") % 5 === 0))
    val (touched, jobs) = jobsAgainstBase("jn")(
      TextQueries.upsertTextIndex(spark, _, batch))
    assert(touched.nonEmpty)
    within("all-new upsertTextIndex", jobs, NewUpsertBudget)
  }

  test("a delete stays inside the job budget") {
    val purge = local(docs.filter(col("doc_id") % 7 === 0).select(col("doc_id")))
    val (touched, jobs) = jobsAgainstBase("jd")(
      TextQueries.deleteFromTextIndex(spark, _, purge))
    assert(touched.nonEmpty)
    within("deleteFromTextIndex", jobs, DeleteBudget)
  }
}
