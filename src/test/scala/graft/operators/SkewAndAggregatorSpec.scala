package graft.operators

import graft.{SparkSuite, Tables}
import graft.core.{Aggregators, Corpora}
import org.apache.spark.sql.functions._

class SkewAndAggregatorSpec extends SparkSuite {

  test("typed Aggregator word count matches the RDD-path golden counts") {
    import spark.implicits._
    val conf = graft.core.JobConf(
      input = Corpora.generate(Corpora.Bytes10K).path, output = "/tmp/unused")
    val pairs = graft.core.TokenFormat.read(spark, conf)
      .flatMap(kv => graft.core.WordCount.TokenMapper.map(kv._1, kv._2))
    val typed = Aggregators.reduceByKey(pairs, Aggregators.sumValueStrings)
      .collect().toMap
    val rdd = graft.core.MapReduceJob
      .transform(spark, conf, graft.core.WordCount.TokenMapper,
        graft.core.WordCount.SumReducer)
      .collect().toMap
    assert(typed == rdd)
  }

  test("typed Aggregator plans map-side partial aggregation (combiner)") {
    import spark.implicits._
    val conf = graft.core.JobConf(
      input = Corpora.generate(Corpora.Bytes1K).path, output = "/tmp/unused")
    val pairs = graft.core.TokenFormat.read(spark, conf)
      .flatMap(kv => graft.core.WordCount.TokenMapper.map(kv._1, kv._2))
    val plan = Aggregators.reduceByKey(pairs, Aggregators.sumValueStrings)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial"), s"no partial aggregation in:\n$plan")
  }

  test("saltedCount equals plain groupBy count") {
    val e = Tables(spark, sf("sf0.001")).events
    val plain = e.groupBy(col("event_type").as("key"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = Skew.saltedCount(e, col("event_type"), col("event_id"), 8)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == plain)
  }

  test("saltedJoin equals plain join") {
    val t   = Tables(spark, sf("sf0.001"))
    val e   = t.events
    val dim = e.select(col("event_type")).distinct()
      .withColumn("type_tag", upper(col("event_type")))
    val plain = e.join(dim, "event_type")
      .groupBy(col("type_tag")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = Skew.saltedJoin(e, dim, "event_type", col("event_id"), 8)
      .groupBy(col("type_tag")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == plain)
  }

  test("AQE splits a skewed sort-merge join at runtime (skew=true)") {
    // the complement of the salting utilities: for plain sort-merge
    // joins, AQE itself splits the straggler partition — this proves
    // the config surface this engine relies on at 100 TB actually
    // fires (thresholds scaled down to test-data size)
    val tuned = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = tuned.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      tuned.foreach { case (k, v) => spark.conf.set(k, v) }
      import spark.implicits._
      // one hot key carrying ~99% of 60k rows vs a 3-row dim
      val big = spark.range(0, 60000).select(
        when(col("id") % 100 =!= 0, lit("hot"))
          .otherwise(concat(lit("k"), col("id") % 7)).as("key"),
        col("id").as("payload"))
      val dim = Seq("hot", "k0", "k3").toDF("key")
        .withColumn("tag", lit(1))
      val joined = big.join(dim, "key")
      // materialize through the SAME QueryExecution (count() would plan
      // its own) so executedPlan is the finalized adaptive plan
      val n = joined.collect().length
      assert(n > 59000, s"unexpected join size $n")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark the hot partition skewed:\n$plan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
