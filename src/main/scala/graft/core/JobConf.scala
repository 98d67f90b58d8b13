package graft.core

/** The job-configuration surface of the reference engine — its 19
  * `mapred.*` properties (`mapreduce/schedule/MasterServant.java:130-212`)
  * re-expressed as a typed config. CORBA/cluster wiring keys
  * (`mapred.Master.*`, `mapred.Workers.exec-nodes`, servant class names)
  * have no meaning on Spark — class wiring is plain Scala arguments to
  * [[MapReduceJob.run]], and placement belongs to the cluster manager.
  *
  * | reference key                         | here                 |
  * |---------------------------------------|----------------------|
  * | mapred.Input.name                     | input                |
  * | mapred.Input.split-size               | splitSize            |
  * | mapred.Mappers.number                 | (= #splits, derived) |
  * | mapred.Reducers.number                | numReducers          |
  * | mapred.Combine.flag                   | combine              |
  * | mapred.Join.flag / Join.file-name     | joinOutput / output  |
  * | mapred.RecordReader/Writer.buffer-size| io buffering (native)|
  * | mapred.Reporter.file-name / level     | Spark event log / UI |
  */
final case class JobConf(
    input: String,
    output: String,
    /** reduce parallelism; 0 = map-only job (reference O10). */
    numReducers: Int = 1,
    /** input split size in bytes (reference default 2048,
      * `servant/IOFormatServant.java:37`) → `files.maxPartitionBytes`.
      */
    splitSize: Long = 2048L,
    /** run the map-side combine (reference `mapred.Combine.flag`; the
      * combiner defaults to the reducer itself,
      * `schedule/MasterServant.java:198-201` — only sound for
      * associative+commutative reducers, which is the caller's contract
      * exactly as in the reference). The combiner is a partial merge
      * applied 0..N times: on a split whose first
      * [[MapReduceJob.CombineProbe]] records are more than half
      * distinct keys, only those records are combined and the rest pass
      * through; smaller splits are always combined whole.
      */
    combine: Boolean = true,
    /** merge all reducer outputs into a single file (the reference's
      * declared-but-unimplemented `mapred.Join.flag`, SURVEY §2.3).
      */
    joinOutput: Boolean = false,
) {
  require(numReducers >= 0, "numReducers must be >= 0")
  require(splitSize > 0, "splitSize must be positive")
}
