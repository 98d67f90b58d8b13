package graft.core

import org.apache.hadoop.io.{NullWritable, Text}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}

/** The reference's token text format, byte-semantics-compatible.
  *
  * Input: a char stream of tokens separated by the space character;
  * runs of separators collapse; tokens longer than 1000 chars are split
  * into 1000-char pieces (`user/TokenRecordReader.java:31-38,58-107`).
  * A token parses as `key|value` via Java `String.split("\\|")`: a
  * 1-field result (no `|`, or a single trailing `|`) yields
  * `(key="none", value=<whole token>)`; otherwise fields 0 and 1 are
  * kept and the rest dropped (`user/TokenRecordReader.java:156-165`).
  *
  * Output: `key|value ` space-terminated tokens on one line per
  * reducer file (`user/TokenRecordWriter.java:85`).
  *
  * Scale notes: reading goes through `spark.read.text` — Spark's
  * line-oriented split planning replaces the reference's copy-splits-
  * to-new-files `getSplit` (`servant/IOFormatServant.java:130-164`);
  * record-boundary alignment at split edges is Hadoop TextInputFormat's
  * line logic. Deviation (documented): the reference treats newline as
  * an ordinary token char; we treat it as a separator, which is what a
  * line-based 100 TB scan needs and is indistinguishable on the
  * reference's own corpora (single-line files).
  */
/** TextOutputFormat that writes the value bytes verbatim — no record
  * separator — so token output files end exactly like the reference's
  * (`... sao|2881 `, trailing space, no newline).
  */
class NoNewlineTextOutputFormat
    extends org.apache.hadoop.mapreduce.lib.output.TextOutputFormat[NullWritable, Text] {
  override def getRecordWriter(
      job: org.apache.hadoop.mapreduce.TaskAttemptContext) = {
    val file = getDefaultWorkFile(job, ".txt")
    val out  = file.getFileSystem(job.getConfiguration).create(file, false)
    new org.apache.hadoop.mapreduce.RecordWriter[NullWritable, Text] {
      override def write(k: NullWritable, v: Text): Unit =
        out.write(v.getBytes, 0, v.getLength)
      override def close(c: org.apache.hadoop.mapreduce.TaskAttemptContext): Unit =
        out.close()
    }
  }
}

object TokenFormat extends Serializable {
  val KeyNone      = "none"
  val MaxTokenLen  = 1000
  val Separator    = ' '

  private val SeparatorRun = java.util.regex.Pattern.compile("[ \n\r]+")

  /** Tokenize one chunk of text (reference O2 semantics; newline is
    * normalized to a separator — see the read() scale note).
    */
  def tokenize(chunk: String): Iterator[String] =
    SeparatorRun.split(chunk).iterator.filter(_.nonEmpty)
      .flatMap(_.grouped(MaxTokenLen))

  /** Parse one token into a (key, value) record — replica of
    * `TokenRecordReader.next` (`user/TokenRecordReader.java:156-165`),
    * with one defined-behavior extension: a token of ONLY pipes (`|`,
    * `||`, …) makes Java's `split("\\|")` return a length-0 array
    * (every field is a trailing empty), which would throw in the
    * reference; we treat it as a none-token — the semantics the
    * mr_tokenize oracle (`NOT regexp '^[^|]*\|+$'`) already declares.
    */
  def parse(token: String): (String, String) = {
    val split = token.split("\\|")
    if (split.length <= 1) (KeyNone, token)
    else (split(0), split(1))
  }

  /** Serialize one record — `TokenRecordWriter.write` format string
    * (`user/TokenRecordWriter.java:85`).
    */
  def format(key: String, value: String): String = s"$key|$value"

  /** Read a token file into (key, value) records. `splitSize` maps to
    * `spark.sql.files.maxPartitionBytes` so the scan parallelism knob
    * of the reference (`mapred.Input.split-size`) keeps its meaning.
    *
    * Scale note: the token format is typically ONE physical line (the
    * writer emits space-terminated tokens with no newlines), so a
    * newline-delimited scan collapses any file into a single record and
    * serializes tokenization on one core. Reading with the space
    * character as the record separator makes Hadoop's record reader
    * align splits at token boundaries — exactly the reference's
    * extend-split-to-next-space logic (`servant/IOFormatServant
    * .java:147-154`), done by the input format instead of by copying
    * bytes. Records are still run through [[tokenize]], which also
    * treats newlines as separators, so multi-line files parse
    * identically (documented deviation, SURVEY §7.4#1).
    */
  def read(spark: SparkSession, conf: JobConf): Dataset[(String, String)] = {
    // split-size is a session conf, not a reader option — scope it to a
    // child session so it can't leak into concurrent reads (Sessions).
    val reader = Sessions.withConf(spark,
      "spark.sql.files.maxPartitionBytes" -> conf.splitSize.toString)
    import reader.implicits._
    reader.read.option("lineSep", Separator.toString).textFile(conf.input)
      .flatMap(rec => tokenize(rec).map(parse))
  }

  /** Write records in the golden byte format: within each output file,
    * `key|value ` tokens on one line with NO trailing newline — the
    * reference's writer emits only the tokens (`user/TokenRecordWriter
    * .java:85`), so output files are byte-identical to its artifacts.
    * One file per partition, like the `reduced<index>` files; one file
    * in all when `conf.joinOutput` is set.
    *
    * Each partition is appended into one buffer and written as one
    * record through [[NoNewlineTextOutputFormat]].
    */
  def writePairs(pairs: RDD[(String, String)], conf: JobConf): Unit = {
    val lines = pairs.mapPartitions { it =>
      if (!it.hasNext) Iterator.empty
      else {
        val sb = new java.lang.StringBuilder
        it.foreach { case (k, v) =>
          sb.append(k).append('|').append(v).append(Separator)
        }
        Iterator.single((NullWritable.get(), new Text(sb.toString)))
      }
    }
    val out = if (conf.joinOutput) lines.coalesce(1) else lines
    val path = new org.apache.hadoop.fs.Path(conf.output)
    val fs = path.getFileSystem(pairs.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) fs.delete(path, true)
    out.saveAsNewAPIHadoopFile(conf.output, classOf[NullWritable],
      classOf[Text], classOf[NoNewlineTextOutputFormat])
  }

  /** [[writePairs]] over a Dataset. */
  def write(ds: Dataset[(String, String)], conf: JobConf): Unit =
    writePairs(ds.rdd, conf)
}
