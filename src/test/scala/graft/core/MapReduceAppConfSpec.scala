package graft.core

import org.scalatest.funsuite.AnyFunSuite
import java.util.Properties

class MapReduceAppConfSpec extends AnyFunSuite {

  private def props(kv: (String, String)*): Properties = {
    val p = new Properties()
    kv.foreach { case (k, v) => p.setProperty(k, v) }
    p
  }

  test("Mappers.number derives the split size from the input length") {
    // teste100K.txt is 100,010 bytes; 50 mappers => 2001-byte splits
    val input = s"${Corpora.ReferenceSeedDir}/teste100K.txt"
    Corpora.assumeReference(input)
    val conf = MapReduceApp.parseConf(props(
      "mapred.Input.name" -> input,
      "mapred.Mappers.number" -> "50"))
    assert(conf.splitSize == 2001L)
  }

  test("Mappers.number derives the split size from a file's length") {
    // the hermetic twin of the leg above: a 100,010-byte temp file
    val f = java.nio.file.Files.createTempFile("graft-conf", ".txt")
    java.nio.file.Files.write(f, Array.fill[Byte](100010)('a'))
    val conf = MapReduceApp.parseConf(props(
      "mapred.Input.name" -> f.toString, "mapred.Mappers.number" -> "50"))
    assert(conf.splitSize == 2001L)
  }

  test("Mappers.number sizes a directory input by the bytes a scan reads") {
    val dir = java.nio.file.Files.createTempDirectory("graft-conf")
    java.nio.file.Files.write(dir.resolve("a.txt"), Array.fill[Byte](60000)('a'))
    java.nio.file.Files.write(dir.resolve("b.txt"), Array.fill[Byte](40010)('b'))
    // files a Hadoop writer leaves beside its output; a scan skips them
    java.nio.file.Files.write(dir.resolve(".a.txt.crc"), Array.fill[Byte](800)('c'))
    java.nio.file.Files.write(dir.resolve("_SUCCESS"), Array.fill[Byte](300)('s'))
    val temporary = java.nio.file.Files.createDirectories(dir.resolve("_temporary/0"))
    java.nio.file.Files.write(temporary.resolve("part-00000"), Array.fill[Byte](5000)('t'))
    val conf = MapReduceApp.parseConf(props(
      "mapred.Input.name" -> dir.toString, "mapred.Mappers.number" -> "50"))
    assert(conf.splitSize == 2001L)
  }

  test("Mappers.number on an input that does not exist fails naming mapred.Input.name") {
    val dir = java.nio.file.Files.createTempDirectory("graft-conf")
    java.nio.file.Files.write(dir.resolve("a.txt"), Array.fill[Byte](100)('a'))
    // a missing file, and a glob (not expanded): neither has bytes on
    // disk to derive a split size from
    Seq(dir.resolve("missing.txt").toString, s"$dir/*.txt").foreach { input =>
      val e = intercept[IllegalArgumentException] {
        MapReduceApp.parseConf(props(
          "mapred.Input.name" -> input, "mapred.Mappers.number" -> "50"))
      }
      assert(e.getMessage.contains("mapred.Input.name") && e.getMessage.contains(input),
        e.getMessage)
    }
  }

  test("explicit split-size wins over Mappers.number") {
    val conf = MapReduceApp.parseConf(props(
      "mapred.Input.name" -> s"${Corpora.ReferenceSeedDir}/teste100K.txt",
      "mapred.Mappers.number" -> "50",
      "mapred.Input.split-size" -> "4096"))
    assert(conf.splitSize == 4096L)
  }

  test("defaults match the reference (2048-byte splits, 1 reducer, combine on)") {
    val conf = MapReduceApp.parseConf(props("mapred.Input.name" -> "/x"))
    assert(conf.splitSize == 2048L && conf.numReducers == 1 && conf.combine)
    assert(!conf.joinOutput && conf.output == "/x.out")
  }

  test("Join.file-name names the merged output when Join.flag is set") {
    val joined = MapReduceApp.parseConf(props(
      "mapred.Input.name" -> "/x", "mapred.Join.flag" -> "true",
      "mapred.Join.file-name" -> "/y/result"))
    assert(joined.joinOutput && joined.output == "/y/result")
    // without the flag the name is ignored, like the reference's dead key
    val plain = MapReduceApp.parseConf(props(
      "mapred.Input.name" -> "/x", "mapred.Join.file-name" -> "/y/result"))
    assert(!plain.joinOutput && plain.output == "/x.out")
  }

  test("reporter levels map to log levels") {
    assert(MapReduceApp.logLevel(props()) == "WARN")
    assert(MapReduceApp.logLevel(props("mapred.Reporter.level" -> "1")) == "INFO")
    assert(MapReduceApp.logLevel(props("mapred.Reporter.level" -> "2")) == "DEBUG")
  }

  test("Reporter writes only messages at or below the execution level") {
    val f = java.io.File.createTempFile("report", ".debug")
    val r = new Reporter(f.getPath, executionLevel = 1)
    assert(r.open())
    r.report(0, "an error")
    r.report(1, "some info")
    r.report(2, "debug noise")
    r.close()
    val lines = scala.io.Source.fromFile(f).getLines().toSeq
    assert(lines == Seq("an error", "some info"))
    // reference defaults: report.debug at level 0
    val byProps = Reporter.fromProps(props())
    assert(byProps != null)
  }
}
