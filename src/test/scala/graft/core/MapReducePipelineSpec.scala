package graft.core

import graft.SparkSuite
import graft.sources.{CsvKVFormat, JsonKVFormat, KVFormat, ParquetKVFormat}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.graft.Bridge

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** The MapReduce engine end to end over generated corpora, checked
  * against plain-Scala oracles: word counts, the per-reducer golden
  * bytes, the adaptive combiner's shuffle volume, lazy reducers, task
  * retries and the non-token sinks. Needs nothing outside the test's
  * temp directories.
  */
class MapReducePipelineSpec extends SparkSuite {

  /** A generated input: its path, its text and the split size to read it with. */
  private final case class Corpus(name: String, path: String, text: String,
      splitSize: Long)

  private def tmp(prefix: String): Path = Files.createTempDirectory(prefix)

  private def corpus(name: String, text: String, splitSize: Long): Corpus = {
    val f = tmp("graft-mrp").resolve(s"$name.txt")
    Files.write(f, text.getBytes(UTF_8))
    Corpus(name, f.toString, text, splitSize)
  }

  /** The reference's sentence corpus at its 2 KB default split. */
  private lazy val seedCorpus: Corpus = {
    val f = tmp("graft-mrp").resolve("seed.txt")
    SeedGenerator.generate(60000, f.toString, seed = 11L)
    Corpus("seed", f.toString, new String(Files.readAllBytes(f), UTF_8), 2048L)
  }

  /** `k|v` tokens, 64 keys, values drawn from a space 16× the token
    * count (mostly distinct); two splits of ~20 000 records each, so
    * the combiner's probe sees that it does not shrink its input.
    */
  private lazy val distinctCorpus: Corpus = {
    val rnd = new java.util.Random(5L)
    val n = 40000
    corpus("distinct", (0 until n)
      .map(_ => s"k${rnd.nextInt(64)}|v${rnd.nextInt(16 * n)}").mkString(" "),
      splitSize = 256L * 1024)
  }

  /** 40 000 tokens over 200 words, heavily skewed towards the first. */
  private lazy val skewedCorpus: Corpus = {
    val rnd = new java.util.Random(6L)
    corpus("skewed", (0 until 40000)
      .map(_ => s"w${(200 * math.pow(rnd.nextDouble(), 4)).toInt}").mkString(" "),
      splitSize = 256L * 1024)
  }

  /** Tokens past 1000 chars and `\r\n`/`\n` separators among short ones. */
  private lazy val longCorpus: Corpus = {
    val rnd = new java.util.Random(7L)
    val seps = Seq(" ", "\r\n", "\n", "  ", " \r")
    val parts = (0 until 400).map { i =>
      if (i % 5 == 0) Iterator.fill(1001 + rnd.nextInt(1600))(('a' + rnd.nextInt(3)).toChar).mkString
      else s"t${rnd.nextInt(40)}|${rnd.nextInt(3)}"
    }
    corpus("long", parts.map(_ + seps(rnd.nextInt(seps.size))).mkString, 2048L)
  }

  private def corpora = Seq(seedCorpus, distinctCorpus, skewedCorpus, longCorpus)

  /** The reference tokenizer and `k|v` parse, as plain Scala. */
  private def oracleTokens(text: String): Seq[String] =
    text.split("[ \n\r]+").filter(_.nonEmpty).flatMap(_.grouped(1000)).toSeq

  private def oracleValue(token: String): String = {
    val fields = token.split("\\|")
    if (fields.length <= 1) token else fields(1)
  }

  /** Word count: the count of each token's value. */
  private def oracleCounts(text: String): Map[String, Long] =
    oracleTokens(text).groupBy(oracleValue).map { case (w, ts) => w -> ts.size.toLong }

  /** One file per reducer: keys bucketed by `floorMod(hashCode, n)`,
    * sorted by `compareTo`, each written `k|v ` with no newline.
    */
  private def goldenFiles(counts: Map[String, Long], n: Int): Seq[String] =
    (0 until n).map { r =>
      counts.keys.filter(k => math.floorMod(k.hashCode, n) == r).toSeq
        .sortWith(_.compareTo(_) < 0).map(k => s"$k|${counts(k)} ").mkString
    }

  private def partFiles(out: String): Seq[Path] = {
    val files = Files.list(java.nio.file.Paths.get(out))
    try files.iterator.asScala.filter(_.getFileName.toString.startsWith("part-"))
      .toSeq.sortBy(_.getFileName.toString)
    finally files.close()
  }

  private def conf(c: Corpus, reducers: Int, combine: Boolean = true,
      out: String = "/unused"): JobConf =
    JobConf(input = c.path, output = out, numReducers = reducers,
      splitSize = c.splitSize, combine = combine)

  private def collectCounts(c: Corpus, reducers: Int, combine: Boolean,
      mapper: Mapper = WordCount.TokenMapper,
      reducer: Reducer = WordCount.SumReducer): Map[String, Long] = {
    val got = MapReduceJob.transform(spark, conf(c, reducers, combine), mapper, reducer)
      .collect().toSeq
    assert(got.map(_._1).distinct.size == got.size, "one output pair per key")
    got.map { case (k, v) => k -> v.toLong }.toMap
  }

  test("word counts equal the plain-Scala oracle for combine on/off x 1, 4, 10 reducers") {
    for (c <- corpora; combine <- Seq(true, false); n <- Seq(1, 4, 10))
      assert(collectCounts(c, n, combine) == oracleCounts(c.text),
        s"${c.name} combine=$combine reducers=$n")
  }

  test("per-reducer part files are byte-identical to the plain-Scala golden writer") {
    for (c <- corpora; combine <- Seq(true, false); n <- Seq(1, 4, 10)) {
      val out = tmp("graft-mrp-out").resolve("out").toString
      MapReduceJob.run(spark, conf(c, n, combine, out),
        WordCount.TokenMapper, WordCount.SumReducer)
      val files = partFiles(out)
      assert(files.map(_.getFileName.toString) ==
        (0 until n).map(r => f"part-r-$r%05d.txt"), s"${c.name} reducers=$n")
      val golden = goldenFiles(oracleCounts(c.text), n)
      files.zip(golden).foreach { case (f, want) =>
        assert(Files.readAllBytes(f).sameElements(want.getBytes(UTF_8)),
          s"${c.name} combine=$combine reducers=$n ${f.getFileName}")
      }
    }
  }

  test("joinOutput writes one file holding every reducer's tokens") {
    val out = tmp("graft-mrp-join").resolve("out").toString
    MapReduceJob.run(spark, conf(longCorpus, 4, out = out).copy(joinOutput = true),
      WordCount.TokenMapper, WordCount.SumReducer)
    val files = partFiles(out)
    assert(files.size == 1)
    val text = new String(Files.readAllBytes(files.head), UTF_8)
    assert(text.endsWith(" ") && !text.contains("\n"))
    assert(text.split(" ").toSeq.sorted ==
      goldenFiles(oracleCounts(longCorpus.text), 4).flatMap(_.split(" ")).filter(_.nonEmpty).sorted)
  }

  test("map-only job (numReducers=0) plans no shuffle and keeps one pair per token") {
    val ds = MapReduceJob.transform(spark, conf(longCorpus, 0),
      WordCount.TokenMapper, WordCount.SumReducer)
    assert(!ds.rdd.toDebugString.contains("Shuffle"))
    assert(ds.collect().toSeq.map(_._1).sorted ==
      oracleTokens(longCorpus.text).map(oracleValue).sorted)
  }

  /** Shuffle records written by `body`'s jobs, summed over their tasks. */
  private def shuffleRecords(body: => Unit): Long = {
    val sc = spark.sparkContext
    val group = s"mr-pipeline-${System.nanoTime}"
    val n = new java.util.concurrent.atomic.AtomicLong
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          js.stageIds.foreach(stages.add)
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null && stages.contains(te.stageId))
          n.addAndGet(te.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    Bridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "MapReducePipelineSpec")
    try {
      body
      Bridge.drainListenerBus(sc)
      n.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("the combiner passes a distinct split through and shrinks a skewed one") {
    def written(c: Corpus): Long = shuffleRecords {
      MapReduceJob.transform(spark, conf(c, 4), WordCount.TokenMapper,
        WordCount.SumReducer).rdd.count()
    }
    val distinctTokens = oracleTokens(distinctCorpus.text).size
    val distinct = written(distinctCorpus)
    assert(distinct >= distinctTokens * 95 / 100 && distinct <= distinctTokens,
      s"$distinct shuffle records for $distinctTokens distinct-valued tokens")
    val skewedTokens = oracleTokens(skewedCorpus.text).size
    val skewed = written(skewedCorpus)
    assert(skewed <= skewedTokens / 50,
      s"$skewed shuffle records for $skewedTokens skewed tokens")
  }

  test("the combiner decides on its first CombineProbe records of a split") {
    val probe = MapReduceJob.CombineProbe
    val distinctHead = corpus("distinct-head", ((0 until probe + 2000).map(i => s"d$i") ++
      Seq.fill(20000)("same")).mkString(" "), splitSize = 1L << 20)
    val repeatedHead = corpus("repeated-head", (Seq.fill(probe)("same") ++
      (0 until 22000).map(i => s"d$i")).mkString(" "), splitSize = 1L << 20)
    def written(c: Corpus): Long = shuffleRecords {
      assert(collectCounts(c, 4, combine = true) == oracleCounts(c.text))
    }
    // a distinct probe: reduced probe groups, then the rest unchanged
    assert(written(distinctHead) == probe + 2000 + 20000)
    // a shrinking probe: the whole split is combined
    assert(written(repeatedHead) == 1 + 22000)
  }

  /** Emits each token's (key, value) pair. */
  private object PairMapper extends Mapper {
    override def map(key: String, value: String): IterableOnce[(String, String)] =
      Iterator((key, value))
  }

  /** Reads only the first value of each group. */
  private object FirstValueReducer extends Reducer {
    override def reduce(key: String, values: Iterator[String]): IterableOnce[(String, String)] =
      Iterator((key, values.next()))
  }

  /** Counts a group's values only when its output is pulled. */
  private object LazyCountReducer extends Reducer {
    override def reduce(key: String, values: Iterator[String]): IterableOnce[(String, String)] =
      Iterator.single(key).map(k => (k, values.size.toString))
  }

  test("a reducer that reads only the first value sees each key once") {
    val pairs = oracleTokens(distinctCorpus.text).map { t =>
      val f = t.split("\\|"); (f(0), f(1))
    }
    val valuesOf = pairs.groupMap(_._1)(_._2).map { case (k, vs) => k -> vs.toSet }
    for (combine <- Seq(true, false); n <- Seq(1, 4)) {
      val got = MapReduceJob.transform(spark, conf(distinctCorpus, n, combine),
        PairMapper, FirstValueReducer).collect().toSeq
      assert(got.map(_._1).sorted == valuesOf.keys.toSeq.sorted, s"combine=$combine reducers=$n")
      got.foreach { case (k, v) => assert(valuesOf(k).contains(v)) }
    }
  }

  test("a reducer returning a lazy iterator reads its whole group") {
    for (c <- Seq(skewedCorpus, longCorpus); n <- Seq(1, 4))
      assert(collectCounts(c, n, combine = false, reducer = LazyCountReducer) ==
        oracleCounts(c.text), s"${c.name} reducers=$n")
  }

  test("FlakyWordMapper: retried map tasks give the fault-free bytes") {
    val out = tmp("graft-mrp-flaky").resolve("out").toString
    MapReduceJob.run(spark, conf(skewedCorpus, 4, out = out),
      FaultInjection.FlakyWordMapper, WordCount.SumReducer)
    val golden = goldenFiles(oracleCounts(skewedCorpus.text), 4)
    assert(partFiles(out).map(f => new String(Files.readAllBytes(f), UTF_8)) == golden)
  }

  /** Runs word count over 5 000 `k|v` pairs through each non-token
    * sink on `session`; checks the round trip and returns each format's
    * output directory.
    */
  private def sinkRuns(session: org.apache.spark.sql.SparkSession): Seq[(KVFormat, String)] = {
    import spark.implicits._
    val pairs = oracleTokens(distinctCorpus.text).take(5000).map { t =>
      val f = t.split("\\|"); (f(0), f(1))
    }
    val want = pairs.groupBy(_._2).map { case (v, ps) => v -> ps.size.toString }
    for (fmt <- Seq[KVFormat](CsvKVFormat, JsonKVFormat, ParquetKVFormat)) yield {
      val dir = tmp("graft-mrp-sink")
      val in  = JobConf(input = dir.resolve("in").toString,
        output = dir.resolve("in").toString)
      fmt.write(pairs.toDS().repartition(3), in)
      val job = JobConf(input = in.input, output = dir.resolve("out").toString,
        numReducers = 3)
      MapReduceJob.run(session, job, WordCount.TokenMapper, WordCount.SumReducer,
        format = fmt)
      val back = fmt.read(spark, job.copy(input = job.output)).collect().toMap
      assert(back == want, fmt.getClass.getSimpleName)
      fmt -> job.output
    }
  }

  test("run works through the CSV, JSON and Parquet sinks") {
    sinkRuns(spark).foreach { case (fmt, out) =>
      assert(partFiles(out).size == 3, fmt.getClass.getSimpleName)
    }
  }

  test("run writes a sink under the session it is given, not the active one") {
    // ~1 660 records per reducer: without the child's cap, one file each
    val child = Sessions.withConf(spark, "spark.sql.files.maxRecordsPerFile" -> "1000")
    sinkRuns(child).foreach { case (fmt, out) =>
      assert(partFiles(out).size == 6, fmt.getClass.getSimpleName)
    }
  }
}
