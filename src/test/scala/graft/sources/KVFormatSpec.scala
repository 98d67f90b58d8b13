package graft.sources

import graft.SparkSuite
import graft.core.{Corpora, JobConf}
import java.nio.file.Files

class KVFormatSpec extends SparkSuite {

  private val sample = Seq(
    "word" -> "1", "word" -> "2", "e" -> "4116", "k|v" -> "weird",
    "empty" -> "", "unicode" -> "héllo")

  private def roundTrip(fmt: KVFormat, sampleData: Seq[(String, String)]) = {
    import spark.implicits._
    val dir  = Files.createTempDirectory("kvfmt").resolve("data").toString
    val conf = JobConf(input = dir, output = dir)
    fmt.write(sampleData.toDS(), conf)
    fmt.read(spark, conf).collect().toSeq
  }

  test("csv round-trips records") {
    // CSV cannot distinguish empty string from null on read; exclude it
    val data = sample.filter(_._2.nonEmpty)
    assert(roundTrip(CsvKVFormat, data).sorted == data.sorted)
  }

  test("json round-trips records") {
    assert(roundTrip(JsonKVFormat, sample).sorted == sample.sorted)
  }

  test("parquet round-trips records") {
    assert(roundTrip(ParquetKVFormat, sample).sorted == sample.sorted)
  }

  test("word count runs end-to-end with a parquet sink via the format seam") {
    val outDir = Files.createTempDirectory("kvfmt-wc").resolve("out").toString
    val corpus = Corpora.generate(Corpora.Bytes1K)
    val conf = JobConf(
      input  = corpus.path,
      output = outDir, numReducers = 2)
    // read token text, write parquet: formats are independent per job
    // stage here, so run the transform with the token reader and sink
    // through the parquet writer
    val result = graft.core.MapReduceJob.transform(spark, conf,
      graft.core.WordCount.TokenMapper, graft.core.WordCount.SumReducer)
    ParquetKVFormat.write(result, conf)
    import spark.implicits._
    val back = spark.read.parquet(outDir)
      .as[(String, String)].collect().toMap
    // the generator's golden counts: "e" is in every sentence
    assert(back("e") == corpus.counts.sum.toString)
    assert(back("Goaiania") == corpus.counts(0).toString)
  }
}
