package graft.sources

import graft.core.{JobConf, TokenFormat}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** The reference's pluggable IOFormat seam (O4: `idl/mapReduce.idl:
  * 54-58`, `servant/IOFormatServant.java`) generalized: a format binds
  * a reader and writer for the engine's string-pair record model and is
  * selected by class name through `mapred.IOFormat.class-name`, exactly
  * like the reference's reflective `Class.forName` wiring
  * (`schedule/WorkerInitializer.java:213-225`).
  *
  * The reference ships exactly one format (token text); graft ships
  * four. All writers honor `JobConf.joinOutput` (§2.3 concat) and all
  * readers are plain `spark.read` scans, so split planning and pushdown
  * stay native.
  */
trait KVFormat extends Serializable {
  def read(spark: SparkSession, conf: JobConf): Dataset[(String, String)]
  def write(ds: Dataset[(String, String)], conf: JobConf): Unit

  /** Write the engine's output pairs ([[graft.core.MapReduceJob.run]])
    * under `spark`, the job's session, so its SQL conf (codec, records
    * per file, …) governs the write. Formats that write through a
    * Dataset take this default; a format with an RDD writer overrides
    * it and skips the encoder.
    */
  def writePairs(spark: SparkSession, pairs: RDD[(String, String)], conf: JobConf): Unit =
    write(spark.createDataset(pairs)(
      Encoders.tuple(Encoders.STRING, Encoders.STRING)), conf)

  protected def maybeJoin[T](ds: Dataset[T], conf: JobConf): Dataset[T] =
    if (conf.joinOutput) ds.coalesce(1) else ds
}

/** The reference's own `key|value ` token text format (byte-exact). */
object TokenKVFormat extends KVFormat {
  override def read(spark: SparkSession, conf: JobConf): Dataset[(String, String)] =
    TokenFormat.read(spark, conf)
  override def write(ds: Dataset[(String, String)], conf: JobConf): Unit =
    TokenFormat.write(ds, conf)
  override def writePairs(spark: SparkSession, pairs: RDD[(String, String)],
      conf: JobConf): Unit =
    TokenFormat.writePairs(pairs, conf)
}

/** Headered CSV with `key,value` columns. */
object CsvKVFormat extends KVFormat {
  override def read(spark: SparkSession, conf: JobConf): Dataset[(String, String)] = {
    import spark.implicits._
    spark.read.option("header", "true").csv(conf.input)
      .select(col("key").cast("string"), col("value").cast("string"))
      .as[(String, String)]
  }
  override def write(ds: Dataset[(String, String)], conf: JobConf): Unit =
    maybeJoin(ds.toDF("key", "value"), conf)
      .write.mode(SaveMode.Overwrite).option("header", "true").csv(conf.output)
}

/** JSON-lines records `{"key": …, "value": …}`. */
object JsonKVFormat extends KVFormat {
  override def read(spark: SparkSession, conf: JobConf): Dataset[(String, String)] = {
    import spark.implicits._
    spark.read.json(conf.input)
      .select(col("key").cast("string"), col("value").cast("string"))
      .as[(String, String)]
  }
  override def write(ds: Dataset[(String, String)], conf: JobConf): Unit =
    maybeJoin(ds.toDF("key", "value"), conf)
      .write.mode(SaveMode.Overwrite).json(conf.output)
}

/** Columnar parquet with `key,value` columns — the format to use at
  * scale (splittable, compressed, prunable).
  */
object ParquetKVFormat extends KVFormat {
  override def read(spark: SparkSession, conf: JobConf): Dataset[(String, String)] = {
    import spark.implicits._
    spark.read.parquet(conf.input)
      .select(col("key").cast("string"), col("value").cast("string"))
      .as[(String, String)]
  }
  override def write(ds: Dataset[(String, String)], conf: JobConf): Unit =
    maybeJoin(ds.toDF("key", "value"), conf)
      .write.mode(SaveMode.Overwrite).parquet(conf.output)
}
