package graft.core

import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The reference's user-programmable surface (`mapreduce/idl/
  * mapReduce.idl:34-84`), as Scala traits over Spark.
  *
  * Records are string pairs because every concrete reference
  * implementation is string-monomorphic (SURVEY §1.1); the traits stay
  * generic in spirit via plain Scala composition — a user needing typed
  * records uses the DataFrame/Dataset API directly.
  */
trait Mapper extends Serializable {
  /** IDL `Mapper.map` (`idl/mapReduce.idl:70-73`): 1 record → 0..N pairs. */
  def map(key: String, value: String): IterableOnce[(String, String)]
}

/** IDL `Reducer.reduce` (`idl/mapReduce.idl:76-79`). Values arrive in
  * merge-dependent order exactly as in the reference (SURVEY §7.4#4) —
  * implementations must not assume an ordering. When used as a combiner
  * the function must be associative and commutative (the reference
  * imposes the same unchecked contract by defaulting the combiner to
  * the reducer, `schedule/MasterServant.java:198-201`).
  */
trait Reducer extends Serializable {
  def reduce(key: String, values: Iterator[String]): IterableOnce[(String, String)]
}

/** IDL `Partitioner.getPartition` (`idl/mapReduce.idl:82-84`) plus the
  * Java-side sort comparator the reference attaches to it
  * (`servant/PartitionerServant.java:25-33`).
  */
trait KeyPartitioner extends Serializable {
  def getPartition(key: String, numPartitions: Int): Int
  def comparator: Ordering[String] = Ordering.String
}

/** Default partitioner: Java `String.hashCode` modulo n — file-layout
  * parity with `servant/PartitionerServant.java:20-23`, minus its
  * `Math.abs(Integer.MIN_VALUE)` crash (`floorMod` is total).
  */
object JavaHashPartitioner extends KeyPartitioner {
  override def getPartition(key: String, n: Int): Int =
    math.floorMod(key.hashCode, n)
}

/** Generic map/combine/partition/sort/shuffle/merge/reduce runner — the
  * whole reference pipeline (SURVEY §2.1 O5–O13) as one Spark job.
  *
  * Physical mapping. Records cross the Dataset encoder once, when the
  * format's scan is turned into an RDD (`format.read(...).rdd`); from
  * there to the part file they stay typed `(String, String)`:
  *  - map (O5): `RDD.flatMap` over the scan, pipelined, no
  *    materialization — same iterator chaining as
  *    `MapTaskServant.doRun`.
  *  - combine (O8): optional per-input-partition in-memory group+reduce
  *    before the shuffle (the reference's sort+combine-on-flush,
  *    `BufferOutputCollectorServant.java:116-175`). Adaptive: the first
  *    [[CombineProbe]] records of a split are grouped; when more than
  *    half of them carry distinct keys, the probe's groups are reduced
  *    and the rest of the split streams through uncombined, since a
  *    combiner that does not shrink its input is pure cost (Hive's
  *    `hive.map.aggr.hash.min.reduction`, Trino's adaptive partial
  *    aggregation). Otherwise the whole split is combined, which bounds
  *    shuffle records at #distinct-keys per split. Sound under the
  *    combiner contract: associative and commutative, applied 0..N
  *    times. Splits of fewer records always combine completely.
  *  - partition+sort+merge (O6,O7,O11):
  *    `repartitionAndSortWithinPartitions` with the user partitioner
  *    and its comparator — Spark's sort-shuffle spills where the
  *    reference OOMs (SURVEY §7.4#6).
  *  - group+reduce (O12): single adjacent-group scan over the sorted
  *    partition stream, identical to `ReduceTaskServant.java:263-301`.
  *    Each group reaches the reducer as a lazy iterator over the stream
  *    itself; nothing is copied per group.
  *  - write: [[run]] hands the pairs to `format.writePairs` with the
  *    caller's session; [[transform]] wraps them in one `createDataset`.
  *    A map-only job (`numReducers = 0`) takes the same path with the
  *    mapper's output.
  *
  * The RDD layer is used deliberately here (SURVEY §7.3): an arbitrary
  * user partition function + user comparator + streaming grouped reduce
  * is genuine per-partition imperative logic. Jobs expressible as
  * algebraic aggregations should use the DataFrame API / `Aggregator`
  * instead and get Catalyst's partial aggregation for free.
  */
object MapReduceJob {

  /** Records of a split grouped before the combiner decides whether it
    * pays (see the adaptive combine above).
    */
  private[core] val CombineProbe = 10000

  def run(
      spark: SparkSession,
      conf: JobConf,
      mapper: Mapper,
      reducer: Reducer,
      partitioner: KeyPartitioner = JavaHashPartitioner,
      format: graft.sources.KVFormat = graft.sources.TokenKVFormat,
  ): Unit =
    format.writePairs(spark,
      pairs(spark, conf, mapper, reducer, partitioner, format), conf)

  /** The dataflow without the sink — exposed for tests and composition. */
  def transform(
      spark: SparkSession,
      conf: JobConf,
      mapper: Mapper,
      reducer: Reducer,
      partitioner: KeyPartitioner = JavaHashPartitioner,
      format: graft.sources.KVFormat = graft.sources.TokenKVFormat,
  ): Dataset[(String, String)] = {
    import spark.implicits._
    spark.createDataset(pairs(spark, conf, mapper, reducer, partitioner, format))
  }

  /** map, then combine → partition/sort/shuffle → reduce when the job
    * has reducers.
    */
  private def pairs(
      spark: SparkSession,
      conf: JobConf,
      mapper: Mapper,
      reducer: Reducer,
      partitioner: KeyPartitioner,
      format: graft.sources.KVFormat,
  ): RDD[(String, String)] = {
    val mapped = format.read(spark, conf).rdd
      .flatMap { case (k, v) => mapper.map(k, v) }
    // O10 map-only: no partition/sort/shuffle, streams straight out
    // (`servant/DirectOutputCollectorServant.java`).
    if (conf.numReducers == 0) return mapped

    val combined =
      if (conf.combine) mapped.mapPartitions(it => combinePartition(it, reducer))
      else mapped

    val sparkPartitioner = new Partitioner {
      override def numPartitions: Int = conf.numReducers
      override def getPartition(key: Any): Int =
        partitioner.getPartition(key.asInstanceOf[String], conf.numReducers)
    }
    implicit val ord: Ordering[String] = partitioner.comparator

    combined
      .repartitionAndSortWithinPartitions(sparkPartitioner)
      .mapPartitions(it => groupAdjacent(it).flatMap { case (k, vs) =>
        reducer.reduce(k, vs)
      })
  }

  /** Map-side combine: group this partition's output in memory and run
    * the reducer-as-combiner over each group. Uses a hash map rather
    * than the reference's sort (equivalent for its contract-bound
    * associative+commutative reducers, and cheaper than sorting).
    * Gives up after [[CombineProbe]] records when more than half of
    * them had distinct keys: the probe's groups are reduced and the
    * rest of the split passes through as it is. Groups are emitted in
    * first-seen order: on a skewed corpus hash order made the
    * compressed shuffle about 1% larger.
    */
  private def combinePartition(
      it: Iterator[(String, String)], reducer: Reducer): Iterator[(String, String)] = {
    val groups = new java.util.LinkedHashMap[String, mutable.ArrayBuffer[String]]
    def add(kv: (String, String)): Unit = {
      val vs = groups.get(kv._1)
      if (vs != null) vs += kv._2
      else groups.put(kv._1, new mutable.ArrayBuffer[String](4) += kv._2)
    }
    var n = 0
    while (n < CombineProbe && it.hasNext) { add(it.next()); n += 1 }
    val shrinks = groups.size * 2 <= n
    if (shrinks) it.foreach(add)
    val out = groups.entrySet.iterator.asScala
      .flatMap(e => reducer.reduce(e.getKey, e.getValue.iterator))
    if (shrinks) out else out ++ it
  }

  /** Adjacent-equal-key grouping over a key-sorted stream — the
    * reference's final reduce scan (`ReduceTaskServant.java:263-301`).
    * A group's values are read lazily off the stream; whatever the
    * reducer leaves unread is skipped before the next group starts, so
    * the returned groups must be consumed in order.
    */
  private def groupAdjacent(
      it: Iterator[(String, String)]): Iterator[(String, Iterator[String])] =
    new Iterator[(String, Iterator[String])] {
      private val buf = it.buffered
      private var group: Iterator[String] = Iterator.empty
      override def hasNext: Boolean = {
        group.foreach(_ => ())
        buf.hasNext
      }
      override def next(): (String, Iterator[String]) = {
        if (!hasNext) throw new NoSuchElementException("no more groups")
        val key = buf.head._1
        group = new Iterator[String] {
          override def hasNext: Boolean = buf.hasNext && buf.head._1 == key
          override def next(): String =
            if (hasNext) buf.next()._2
            else throw new NoSuchElementException(s"no more values for $key")
        }
        (key, group)
      }
    }
}

/** The one job the reference ships: word count
  * (`user/WordMapperServant.java`, `user/WordReducerServant.java`).
  */
object WordCount {
  /** `WordMapperServant.map`: emit (value, "1") for each token. */
  object TokenMapper extends Mapper {
    override def map(key: String, value: String): IterableOnce[(String, String)] =
      Iterator((value, "1"))
  }

  /** `WordReducerServant.reduce`: sum integer-valued strings — which is
    * exactly what makes it a sound combiner.
    */
  object SumReducer extends Reducer {
    override def reduce(key: String, values: Iterator[String]): IterableOnce[(String, String)] = {
      var sum = 0L
      values.foreach(v => sum += v.toLong)
      Iterator((key, sum.toString))
    }
  }

  def run(spark: SparkSession, conf: JobConf): Unit =
    MapReduceJob.run(spark, conf, TokenMapper, SumReducer)
}
