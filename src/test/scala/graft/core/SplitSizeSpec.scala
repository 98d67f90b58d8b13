package graft.core

import graft.SparkSuite

/** O1/O14: `mapred.Input.split-size` must control scan parallelism
  * through `files.maxPartitionBytes` (the reference cuts ~50 × 2 KB
  * splits from the 100 KB input, `servant/IOFormatServant.java:77-80`),
  * over generated corpora the size of the reference's.
  */
class SplitSizeSpec extends SparkSuite {
  test("splitSize controls the number of input partitions") {
    val input = Corpora.generate(Corpora.Bytes100K).path
    val small = TokenFormat.read(spark,
      JobConf(input = input, output = "/tmp/unused", splitSize = 2048))
      .rdd.getNumPartitions
    val large = TokenFormat.read(spark,
      JobConf(input = input, output = "/tmp/unused", splitSize = 1 << 20))
      .rdd.getNumPartitions
    // ~100KB / 2KB ≈ 50 splits (Spark packs by cost, so allow slack)
    assert(small >= 20, s"expected fine-grained splits, got $small")
    assert(large <= 4, s"expected coarse splits, got $large")
  }

  test("read does not leak maxPartitionBytes into the shared session") {
    val before = spark.conf.getOption("spark.sql.files.maxPartitionBytes")
    TokenFormat.read(spark, JobConf(
      input = Corpora.generate(Corpora.Bytes1K).path,
      output = "/tmp/unused", splitSize = 2048)).count()
    assert(spark.conf.getOption("spark.sql.files.maxPartitionBytes") == before,
      "per-read split size leaked into the parent session conf")
  }
}
