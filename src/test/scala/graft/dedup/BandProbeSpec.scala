package graft.dedup

import graft.{QueryRegistry, SparkSuite}
import org.apache.spark.sql.functions._

/** Pins dd_band_probe's serving contract: the persisted-index path
  * returns rows IDENTICAL to the index-less dd_minhash_cdc pipeline,
  * the bands scan is statically partition-pruned, the probe-time
  * hot-band cap is exercised by the corpus (so cap parity with the
  * oracle is a tested property, not a vacuous one), and the build is
  * idempotent.
  */
class BandProbeSpec extends SparkSuite {

  private val dir = sf("sf0.001")

  test("probe output is row-identical to the index-less CDC screen") {
    val probe = QueryRegistry.byName("dd_band_probe").run(spark, dir).collect()
    val cdc = QueryRegistry.byName("dd_minhash_cdc").run(spark, dir).collect()
    assert(probe.sameElements(cdc),
      "persisted-index admission diverges from the recompute path")
  }

  test("the bands scan carries a static partition filter on bkt") {
    val plan = QueryRegistry.byName("dd_band_probe").run(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_band_index_v4"), s"no index scan in:\n$plan")
    assert(plan.contains("PartitionFilters: [bkt"),
      s"bands scan not partition-pruned:\n$plan")
  }

  test("the probe-time cap is exercised by the corpus") {
    val idx = DedupQueries.buildBandIndex(spark, dir)
    // the build is idempotent: same source data, same directory
    assert(DedupQueries.buildBandIndex(spark, dir) == idx)
    // the corpus dd_band_upsert serves — documents plus tonight's fresh
    // docs, whose shared boilerplate bands cross the cap at sf0.1 (the
    // random-text documents alone never do, and at sf0.001/sf0.01 the
    // fresh wave is too small: its largest band has 6 members)
    val docs = graft.Tables(spark, sf("sf0.1")).documents
    val ext = java.nio.file.Files.createTempDirectory("graft_bandprobe_spec")
      .toString + "/idx"
    DedupQueries.writeBandIndex(spark,
      docs.select(col("doc_id"), col("text")).unionByName(
        DedupQueries.cdcIncoming(docs).filter(col("doc_id") >= 600000)),
      ext)
    val hot = spark.read.schema("doc_id LONG, bh STRING, bkt INT")
      .parquet(s"$ext/bands")
      .groupBy(col("bh")).agg(count(lit(1)).as("n"))
      .filter(col("n") > 50).count()
    assert(hot > 0,
      "no band exceeds the 50-member cap at sf0.1 — the probe-time " +
        "cap path is vacuously untested")
  }
}
