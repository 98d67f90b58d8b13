package graft.operators

import graft.{SparkSuite, Tables}
import org.apache.spark.sql.functions._
import java.nio.file.Files
import scala.jdk.CollectionConverters._

class MaintenanceSpec extends SparkSuite {

  test("compactParquet merges a fragmented directory, values preserved") {
    val dir = Files.createTempDirectory("compact").resolve("frag").toString
    val t   = Tables(spark, sf("sf0.001"))
    t.lineitem.repartition(50).write.mode("overwrite").parquet(dir)

    def parquetFiles = Files.list(java.nio.file.Paths.get(dir))
      .iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
    assert(parquetFiles == 50)
    val before = t.lineitem.count()

    Maintenance.compactParquet(spark, dir, targetBytes = 64L << 20)

    assert(parquetFiles < 5, s"still $parquetFiles files after compaction")
    val after = spark.read.parquet(dir)
    assert(after.count() == before)
    assert(after.agg(sum(col("l_quantity"))).head.getDouble(0) ==
      t.lineitem.agg(sum(col("l_quantity"))).head.getDouble(0))
  }

  test("swapDirs never loses data: failed swap-in rolls the original back") {
    val base = Files.createTempDirectory("swap")
    val dst  = base.resolve("data").toString
    val t    = Tables(spark, sf("sf0.001"))
    t.region.write.mode("overwrite").parquet(dst)
    val before = spark.read.parquet(dst).count()

    // tmp does NOT exist -> the second rename fails mid-swap; the
    // original must be restored at dst (crash-window regression test
    // for the old delete-then-rename ordering, which would lose it)
    intercept[java.io.IOException] {
      Maintenance.swapDirs(spark, base.resolve("missing").toString, dst)
    }
    assert(spark.read.parquet(dst).count() == before,
      "original directory lost after failed swap")
    // and no stale backup left behind blocking the next attempt
    val nation = base.resolve("v2").toString
    t.nation.write.mode("overwrite").parquet(nation)
    Maintenance.swapDirs(spark, nation, dst)
    assert(spark.read.parquet(dst).count() == t.nation.count())

    // a crash between the two renames leaves no destination and the
    // old content at the backup: the next swap installs the new
    // content and drops the stale backup
    val fs = new org.apache.hadoop.fs.Path(dst)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(dst),
      new org.apache.hadoop.fs.Path(dst + "__backup")))
    val region = base.resolve("v3").toString
    t.region.write.mode("overwrite").parquet(region)
    Maintenance.swapDirs(spark, region, dst)
    assert(spark.read.parquet(dst).count() == before,
      "the new content did not land at a missing destination")
    assert(!new java.io.File(dst + "__backup").exists(),
      "stale backup left behind")
  }

  test("upsertParquet replaces matching keys and appends new ones") {
    val dir = Files.createTempDirectory("upsert").resolve("nation").toString
    val t   = Tables(spark, sf("sf0.001"))
    t.nation.write.mode("overwrite").parquet(dir)
    val before = spark.read.parquet(dir).count()

    import org.apache.spark.sql.Row
    val schema = spark.read.parquet(dir).schema
    val updates = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(0, "RENAMED", 0),
        Row(990, "ATLANTIS", 0)),
      schema)
    Maintenance.upsertParquet(spark, dir, updates, "n_nationkey")

    val after = spark.read.parquet(dir)
    assert(after.count() == before + 1) // one replaced, one appended
    assert(after.filter(col("n_nationkey") === 0)
      .head().getAs[String]("n_name") == "RENAMED")
    assert(after.filter(col("n_nationkey") === 990).count() == 1)
    // untouched keys survive byte-identically
    assert(after.filter(col("n_nationkey") === 5).count() == 1)
  }

  test("keep-newest upsert: out-of-order and duplicate batches converge") {
    val dir = Files.createTempDirectory("cdc").resolve("state").toString
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("k", IntegerType), StructField("ver", IntegerType),
      StructField("v", StringType)))
    def batch(rows: Row*) =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

    Maintenance.writeKeyBucketed(batch(), dir, "k", nBuckets = 4)
    // newer batch first, older second — older must NOT overwrite
    Maintenance.upsertParquet(spark, dir,
      batch(Row(1, 5, "new"), Row(2, 1, "only")), "k", newestBy = Seq("ver"))
    Maintenance.upsertParquet(spark, dir,
      batch(Row(1, 3, "stale")), "k", newestBy = Seq("ver"))
    // in-batch duplicate keys reduce by newestBy instead of erroring,
    // and replaying an already-applied batch is a no-op
    Maintenance.upsertParquet(spark, dir,
      batch(Row(3, 1, "a"), Row(3, 2, "b"), Row(1, 5, "new")), "k",
      newestBy = Seq("ver"))

    val state = spark.read.parquet(dir)
      .select(col("k"), col("ver"), col("v")).collect()
      .map(r => r.getInt(0) -> ((r.getInt(1), r.getString(2)))).toMap
    assert(state == Map(1 -> ((5, "new")), 2 -> ((1, "only")),
      3 -> ((2, "b"))))
    // blind-replace mode still rejects duplicate update keys
    intercept[IllegalArgumentException] {
      Maintenance.upsertParquet(spark, dir,
        batch(Row(9, 1, "x"), Row(9, 2, "y")), "k")
    }
  }

  test("bucketed upsert rewrites only touched buckets, byte-identical rest") {
    val dir = Files.createTempDirectory("kbupsert").resolve("orders").toString
    val t   = Tables(spark, sf("sf0.001"))
    Maintenance.writeKeyBucketed(
      t.orders.select(col("o_orderkey"), col("o_totalprice")),
      dir, "o_orderkey", nBuckets = 8)
    val before = spark.read.parquet(dir)
    val nBefore = before.count()

    // one updated key + one brand-new key
    val someKey = before.select(col("o_orderkey")).head().getLong(0)
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val updSchema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_totalprice", DoubleType)))
    val updates = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(someKey, -1.0), Row(999999999L, -2.0)), updSchema)

    // fingerprint every data file per bucket dir before the upsert
    def fingerprint(): Map[String, Seq[(String, Long, Long)]] =
      Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("bucket="))
        .map { b =>
          b.getFileName.toString ->
            Files.list(b).iterator().asScala
              .filter(_.getFileName.toString.endsWith(".parquet"))
              .map(f => (f.getFileName.toString, Files.size(f),
                Files.getLastModifiedTime(f).toMillis)).toSeq.sortBy(_._1)
        }.toMap
    val fpBefore = fingerprint()

    Maintenance.upsertParquet(spark, dir, updates, "o_orderkey")

    val after = spark.read.parquet(dir)
    assert(after.count() == nBefore + 1)
    assert(after.filter(col("o_orderkey") === someKey)
      .head().getAs[Double]("o_totalprice") == -1.0)
    assert(after.filter(col("o_orderkey") === 999999999L).count() == 1)

    // ONLY the buckets the two keys hash into may differ
    import org.apache.spark.sql.functions.{hash => h, pmod, lit}
    val touched = updates
      .select(pmod(h(col("o_orderkey")), lit(8)).as("b"))
      .distinct().collect().map("bucket=" + _.getInt(0)).toSet
    val fpAfter = fingerprint()
    fpBefore.keys.foreach { b =>
      if (touched(b))
        assert(fpAfter(b) != fpBefore(b), s"$b should have been rewritten")
      else
        assert(fpAfter(b) == fpBefore(b),
          s"untouched $b was rewritten (pruning failed)")
    }
    assert(fpBefore.keys.exists(b => !touched(b)),
      "fixture degenerate: every bucket touched, pruning not exercised")

    // MERGE semantics: duplicate keys in the batch must fail loudly
    val dupBatch = spark.createDataFrame(
      java.util.Arrays.asList(Row(1L, 1.0), Row(1L, 2.0)), updSchema)
    intercept[IllegalArgumentException] {
      Maintenance.upsertParquet(spark, dir, dupBatch, "o_orderkey")
    }
  }

  test("bucketed layout: co-located join and keyed agg plan NO exchange") {
    val t    = Tables(spark, sf("sf0.001"))
    val base = Files.createTempDirectory("bucketed")
    Maintenance.writeBucketed(
      t.orders.select(col("o_orderkey"), col("o_orderdate")),
      "orders_b", "o_orderkey", 4, base.resolve("orders_b").toString)
    Maintenance.writeBucketed(
      t.lineitem.select(col("l_orderkey"), col("l_quantity")),
      "lineitem_b", "l_orderkey", 4, base.resolve("lineitem_b").toString)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // disable broadcast so the join must pick a keyed strategy — the
      // bucketed layout then satisfies both sides' distribution
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("lineitem_b")
        .join(spark.table("orders_b"),
          col("l_orderkey") === col("o_orderkey"))
      val jp = joined.queryExecution.executedPlan.toString
      assert(jp.contains("SortMergeJoin"), s"expected SMJ:\n$jp")
      assert(!jp.contains("Exchange"), s"bucketed join inputs shuffled:\n$jp")
      // an aggregation on the bucket key is likewise exchange-free
      val agg = spark.table("lineitem_b").groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("qty"))
      val ap = agg.queryExecution.executedPlan.toString
      assert(!ap.contains("Exchange"), s"bucket-key agg shuffled:\n$ap")
      // and values match the unbucketed join
      val expect = t.lineitem.join(t.orders,
        col("l_orderkey") === col("o_orderkey")).count()
      assert(joined.count() == expect)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }
}
