package graft.core

import graft.SparkSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** End-to-end word count checked against golden outputs — the
  * reference's correctness methodology (SURVEY §5) automated. The
  * `golden:` legs read the reference's own seed corpora and run
  * artifact (`mapreduce/seed/out*`,
  * `mapreduce/dataset/teste100K49reduced0.txt`) and cancel where no
  * checkout of the reference is present; the other legs write their
  * corpus with `SeedGenerator`.
  */
class MapReduceGoldenSpec extends SparkSuite {
  import Corpora._

  private val seedDir = ReferenceSeedDir

  private def tmpOut(): String =
    Files.createTempDirectory("graft-mr").resolve("out").toString

  /** Independent word-count oracle: plain single-threaded Scala. */
  private def expectedCounts(input: String): Map[String, Long] = {
    val content = new String(Files.readAllBytes(Paths.get(input)))
    content.split("[ \n]").filter(_.nonEmpty)
      .groupBy(identity).map { case (w, ws) => w -> ws.length.toLong }
  }

  private def runWordCount(input: String, reducers: Int = 1,
      combine: Boolean = true): Map[String, Long] = {
    val conf = JobConf(input = input, output = tmpOut(),
      numReducers = reducers, combine = combine)
    MapReduceJob
      .transform(spark, conf, WordCount.TokenMapper, WordCount.SumReducer)
      .collect().map { case (k, v) => k -> v.toLong }.toMap
  }

  test("golden: teste1K word counts (sentence counts 15/14/11 per out1K)") {
    assumeReference(s"$seedDir/teste1K.txt")
    val got = runWordCount(s"$seedDir/teste1K.txt")
    assert(got == expectedCounts(s"$seedDir/teste1K.txt"))
    // cross-check against the published generator counts in out1K:
    // 15× "Sand e Kleber sao de Goaiania", 14× "Reinaldo e Karina sao de
    // Fortaleza", 11× "e a o"
    assert(got("Goaiania") == 15L)
    assert(got("Fortaleza") == 14L)
    assert(got("e") == 15L + 14L + 11L)
    assert(got("sao") == 29L)
    assert(got("a") == 11L)
  }

  test("golden: teste10K word counts") {
    assumeReference(s"$seedDir/teste10K.txt")
    val got = runWordCount(s"$seedDir/teste10K.txt")
    assert(got == expectedCounts(s"$seedDir/teste10K.txt"))
    assert(got("e") == 146L + 142L + 109L) // out10k sentence counts
  }

  test("golden: teste100K matches the in-tree reduced run artifact") {
    assumeReference(s"$seedDir/teste100K.txt", ReferenceReduced100K)
    val got = runWordCount(s"$seedDir/teste100K.txt")
    val golden = new String(Files.readAllBytes(Paths.get(ReferenceReduced100K)))
    val goldenCounts = golden.split(" ").filter(_.nonEmpty).map { tok =>
      val Array(k, v) = tok.split("\\|")
      k -> v.toLong
    }.toMap
    assert(got == goldenCounts)
  }

  test("golden: teste1M word counts (largest reference corpus, 10 reducers)") {
    assumeReference(s"$seedDir/teste1M.txt")
    val got = runWordCount(s"$seedDir/teste1M.txt", reducers = 10)
    assert(got == expectedCounts(s"$seedDir/teste1M.txt"))
    assert(got("e") == 16538L + 12240L + 12578L) // out1M sentence counts
  }

  test("combine=false produces identical results (O8 equivalence)") {
    val in = generate(Bytes10K).path
    assert(runWordCount(in, combine = true) == runWordCount(in, combine = false))
  }

  test("multiple reducers partition by Java hashCode and preserve totals") {
    val in  = generate(Bytes10K).path
    val one = runWordCount(in, reducers = 1)
    val ten = runWordCount(in, reducers = 10)
    assert(one == ten)
  }

  test("golden byte format: single-reducer output file reproduces the reference bytes") {
    assumeReference(s"$seedDir/teste100K.txt", ReferenceReduced100K)
    val out  = tmpOut()
    val conf = JobConf(input = s"$seedDir/teste100K.txt", output = out,
      numReducers = 1)
    WordCount.run(spark, conf)
    val files = Files.list(Paths.get(out)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq
    assert(files.size == 1)
    val content = new String(Files.readAllBytes(files.head))
    val golden = new String(Files.readAllBytes(Paths.get(ReferenceReduced100K)))
    // byte-identical, including the trailing space and absent newline
    assert(content == golden)
  }

  test("map-only job (numReducers=0) skips the shuffle and keeps raw pairs") {
    val in   = generate(Bytes1K).path
    val conf = JobConf(input = in, output = tmpOut(), numReducers = 0)
    val ds = MapReduceJob.transform(spark, conf, WordCount.TokenMapper,
      WordCount.SumReducer)
    // map-only: one (word,"1") pair per input token, unreduced
    assert(ds.count() == expectedCounts(in).values.sum)
    assert(!ds.rdd.toDebugString.contains("Shuffle"),
      "map-only pipeline must plan no shuffle stage")
  }

  test("joinOutput merges all reducer files into one (SURVEY §2.3)") {
    val out  = tmpOut()
    val conf = JobConf(input = generate(Bytes1K).path, output = out,
      numReducers = 4, joinOutput = true)
    WordCount.run(spark, conf)
    val files = Files.list(Paths.get(out)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq
    assert(files.size == 1)
  }

  test("partitioner: total and in-range for adversarial hashCodes") {
    // "polygenelubricants".hashCode == Integer.MIN_VALUE — the input the
    // reference's Math.abs-based partitioner crashes on (SURVEY §2.1 O6)
    assert("polygenelubricants".hashCode == Int.MinValue)
    (1 to 16).foreach { n =>
      val p = JavaHashPartitioner.getPartition("polygenelubricants", n)
      assert(p >= 0 && p < n)
    }
  }
}
