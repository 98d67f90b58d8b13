package graft.core

import org.apache.spark.sql.SparkSession
import java.io.FileInputStream
import java.util.Properties

/** CLI entry point with the reference's job-submission surface:
  * `MapReduceApp <mapReduce.properties>`
  * (`mapreduce/app/MapReduceApp.java`, `data/MapReduce.pdf` §5).
  *
  * Understood keys (reference names kept verbatim):
  *   mapred.Input.name            input path (required)
  *   mapred.Output.name           output path (default: <input>.out)
  *   mapred.Input.split-size      split bytes (default 2048)
  *   mapred.Mappers.number        map tasks; without a split size, the
  *                                split size is the input's bytes over
  *                                this (the input must exist: no glob)
  *   mapred.Reducers.number       reduce parallelism (default 1)
  *   mapred.Combine.flag          true/false (default true)
  *   mapred.Join.flag             true/false merge outputs (default false)
  *   mapred.Mapper.class-name     FQCN of a graft.core.Mapper object/class
  *   mapred.Reducer.class-name    FQCN of a graft.core.Reducer
  *   mapred.Partitioner.class-name FQCN of a graft.core.KeyPartitioner
  *   mapred.IOFormat.class-name   FQCN of a graft.sources.KVFormat
  *                                (Token/Csv/Json/Parquet KVFormat)
  *
  * Cluster/CORBA wiring keys (`mapred.Master.*`, `mapred.Workers.
  * exec-nodes`, reporter/buffer keys) are accepted and ignored — their
  * concerns (placement, fault detection, restart, straggler kill) are
  * Spark-native (SURVEY §2.2 R1–R9); `--master`/`spark.speculation.*`
  * configure them.
  *
  * Like the reference (`schedule/MasterServant.java:213-225` /
  * `WorkerInitializer.createIOFormatServant`), user classes load
  * reflectively by name; Scala `object`s resolve via their `MODULE$`.
  */
object MapReduceApp {

  private def loadInstance[T](name: String): T = {
    val cls =
      try Class.forName(name + "$")
      catch { case _: ClassNotFoundException => Class.forName(name) }
    val obj =
      try cls.getField("MODULE$").get(null)
      catch { case _: NoSuchFieldException =>
        cls.getDeclaredConstructor().newInstance()
      }
    obj.asInstanceOf[T]
  }

  /** Bytes a scan of `input` reads — a file, or the files of a
    * directory tree, on any Hadoop file system; `None` when no file or
    * directory of that name exists. A glob is not expanded, so a
    * pattern such as `part-*` is `None` too. Like Spark's file
    * listing, names starting with `_` or `.` below `input` (`_SUCCESS`,
    * `.crc` checksums, `_temporary/`) are skipped.
    */
  private def inputBytes(input: String): Option[Long] = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    val path = new Path(input)
    val fs   = path.getFileSystem(new org.apache.hadoop.conf.Configuration())
    def hidden(st: FileStatus): Boolean = {
      val name = st.getPath.getName
      (name.startsWith("_") && !name.contains("=")) || name.startsWith(".")
    }
    def bytes(st: FileStatus): Long =
      if (st.isDirectory) fs.listStatus(st.getPath).iterator.filterNot(hidden).map(bytes).sum
      else st.getLen
    if (fs.exists(path)) Some(bytes(fs.getFileStatus(path))) else None
  }

  def parseConf(props: Properties): JobConf = {
    val input = Option(props.getProperty("mapred.Input.name"))
      .getOrElse(sys.error("mapred.Input.name is required"))
    // #map tasks = #splits in the reference (`schedule/MasterServant
    // .java:310`); when mapred.Mappers.number is given without an
    // explicit split size, derive the split size that yields that many
    // splits (what `IOFormatServant.getSplits` effectively does).
    val splitSize = Option(props.getProperty("mapred.Input.split-size"))
      .map(_.toLong)
      .orElse {
        Option(props.getProperty("mapred.Mappers.number")).map { m =>
          val bytes = inputBytes(input).getOrElse(throw new IllegalArgumentException(
            s"mapred.Input.name=$input names no file or directory (globs are not " +
              "expanded), so mapred.Mappers.number cannot size its splits; " +
              "set mapred.Input.split-size instead"))
          math.max(1L, math.ceil(bytes.toDouble / m.toInt).toLong)
        }
      }
      .getOrElse(2048L)
    val joinOutput = props.getProperty("mapred.Join.flag", "false").toBoolean
    // when joining, the reference names the merged result via
    // mapred.Join.file-name (`schedule/MasterServant.java:210-212`)
    val output = (if (joinOutput) Option(props.getProperty("mapred.Join.file-name"))
                  else None)
      .getOrElse(props.getProperty("mapred.Output.name", input + ".out"))
    JobConf(
      input       = input,
      output      = output,
      numReducers = props.getProperty("mapred.Reducers.number", "1").toInt,
      splitSize   = splitSize,
      combine     = props.getProperty("mapred.Combine.flag", "true").toBoolean,
      joinOutput  = joinOutput,
    )
  }

  /** `mapred.Reporter.level` → Spark log level (reference levels:
    * 0 errors, 1 info, 2 debug — `idl/mapReduce.idl:20-24`).
    */
  private[core] def logLevel(props: Properties): String =
    props.getProperty("mapred.Reporter.level", "0") match {
      case "0" => "WARN"
      case "1" => "INFO"
      case _   => "DEBUG"
    }

  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: MapReduceApp <mapReduce.properties>")
    val props = new Properties()
    val in    = new FileInputStream(args(0))
    try props.load(in) finally in.close()

    val conf = parseConf(props)
    val mapper = loadInstance[Mapper](
      props.getProperty("mapred.Mapper.class-name", "graft.core.WordCount$TokenMapper"))
    val reducer = loadInstance[Reducer](
      props.getProperty("mapred.Reducer.class-name", "graft.core.WordCount$SumReducer"))
    val partitioner = loadInstance[KeyPartitioner](
      props.getProperty("mapred.Partitioner.class-name", "graft.core.JavaHashPartitioner"))
    val format = loadInstance[graft.sources.KVFormat](
      props.getProperty("mapred.IOFormat.class-name", "graft.sources.TokenKVFormat"))

    val master = sys.env.getOrElse("SPARK_MASTER", "local[*]")
    val spark = SparkSession.builder()
      .master(master)
      .appName("graft-mapreduce")
      .config("spark.sql.shuffle.partitions",
        math.max(conf.numReducers, 1).toString)
      // the reference's straggler mitigation (kill map tasks at 1.2×
      // the running mean, `schedule/MasterServant.java:510,552`) is
      // Spark speculation; enabled on real clusters (speculative copies
      // are meaningless with a single local executor)
      .config("spark.speculation", (!master.startsWith("local")).toString)
      .config("spark.speculation.multiplier", "1.2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel(props))

    // progress log file, the reference's Reporter servant contract
    val reporter = Reporter.fromProps(props)
    reporter.open()
    reporter.report(1, s"MapReduceApp: job started, input=${conf.input} " +
      s"output=${conf.output} reducers=${conf.numReducers} " +
      s"splitSize=${conf.splitSize}")
    val t0 = System.nanoTime()
    try {
      MapReduceJob.run(spark, conf, mapper, reducer, partitioner, format)
      reporter.report(1,
        f"MapReduceApp: job finished in ${(System.nanoTime() - t0) / 1e9}%.3f s")
    } catch {
      case e: Throwable =>
        reporter.report(0, s"MapReduceApp: job failed: ${e.getMessage}")
        throw e
    } finally reporter.close()
    // total-seconds print at job end, like `app/MapReduceApp.java:263-266`
    println(f"Tempo total: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    spark.stop()
  }
}
