package graft.perfbench

import graft.{QueryRegistry, Tables}
import graft.core.{JobConf, MapReduceJob, TokenFormat, WordCount}
import graft.operators.KeyRouting
import graft.similarity.SimilarityQueries
import graft.text.TextQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal

/** One measured JVM run of one workload. Set-up is timed `setups`
  * times (the first includes JVM start), `warm` units run untimed, then
  * the closed loop starts work units (an MR job, a pass over the query
  * rows, a churn round) while fewer than `seconds` have elapsed,
  * finishing the unit in flight. The correctness gate runs outside the
  * timed window. Raw per-op samples go to `out` as JSON; the metrics
  * are computed from them by run.py.
  *
  * Traced runs (`trace`) run every repeatable op twice, once traced
  * and once not, in alternating order, so the report can state the
  * tracing overhead from paired samples.
  */
object Harness {

  final case class Args(workload: String, seconds: Double, trace: Boolean,
      seed: Long, inputs: String, sf: String, run: String, out: String,
      cores: Int, setups: Int, splitBytes: Long, warm: Int)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    Args(m("workload"), m("seconds").toDouble, m("trace") == "1",
      m("seed").toLong, m("inputs"), m("sf"), m("run"), m("out"),
      m("cores").toInt, m("setups").toInt, m.getOrElse("split", "0").toLong,
      m.getOrElse("warm", "0").toInt)
  }

  final case class Op(kind: String, name: String, secs: Double,
      traced: Boolean, ok: Boolean, pair: Int, value: Long,
      stats: Option[OpStats])

  /** Records ops of the timed window. */
  final class Recorder(a: Args, sc: org.apache.spark.SparkContext) {
    val ops = mutable.ArrayBuffer.empty[Op]
    val errors = mutable.ArrayBuffer.empty[String]
    private var pairs = 0

    private def attempt(f: => Long): (Boolean, Long) =
      try (true, f)
      catch { case NonFatal(e) =>
        errors += s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        (false, 0L)
      }

    private def plain(kind: String, name: String, pair: Int)(f: => Long): Op = {
      val t0 = System.nanoTime
      val (ok, v) = attempt(f)
      val op = Op(kind, name, (System.nanoTime - t0) / 1e9, false, ok, pair, v, None)
      ops += op
      op
    }

    private def traced(kind: String, name: String, pair: Int)(f: => Long): Op = {
      var res = (false, 0L)
      val (_, secs, st) = Tracer.op(sc, s"$kind:$name") { res = attempt(f) }
      val op = Op(kind, name, secs, true, res._1, pair, res._2, Some(st))
      ops += op
      op
    }

    /** One op: traced in traced runs, plain otherwise. */
    def one(kind: String, name: String)(f: => Long): Op =
      if (a.trace) traced(kind, name, -1)(f) else plain(kind, name, -1)(f)

    /** A repeatable op. Traced runs run it plain and traced, alternating
      * which goes first; the traced sample is returned.
      */
    def twice(kind: String, name: String)(f: => Long): Op =
      if (!a.trace) plain(kind, name, -1)(f)
      else {
        pairs += 1
        if (pairs % 2 == 0) { plain(kind, name, pairs)(f); traced(kind, name, pairs)(f) }
        else { val t = traced(kind, name, pairs)(f); plain(kind, name, pairs)(f); t }
      }
  }

  trait Workload {
    /** Program work that belongs to set-up (index builds, warm-up). */
    def setup(s: SparkSession): Unit
    /** Untimed work between set-up and the window; may replace the
      * session (the Verify pass stops it).
      */
    def prepare(s: SparkSession): SparkSession = s
    /** One closed-loop unit: an MR job, a query pass, a churn round. */
    def unit(s: SparkSession, i: Int, rec: Recorder): Unit
    /** Correctness checks on the program's outputs: (ok, detail). */
    def gate(s: SparkSession): (Boolean, String)
    def extra: Map[String, Any] = Map.empty
    /** Harness work inside the loop that is not program work. */
    def untimedS: Double = 0.0
  }

  def noop(df: DataFrame): Long = {
    df.write.mode("overwrite").format("noop").save()
    0L
  }

  private def dirFiles(path: String): Seq[File] = {
    val root = new File(path)
    if (!root.exists) Nil
    else {
      val paths = Files.walk(root.toPath)
      try paths.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path].toFile)
        .filter(f => f.isFile && f.getName.startsWith("part-"))
      finally paths.close()
    }
  }

  // ---- mr_skewed / mr_unique -------------------------------------------

  final class Mr(a: Args) extends Workload {
    val conf = JobConf(input = s"${a.inputs}/corpus.txt",
      output = s"${a.run}/out/job", numReducers = 4,
      splitSize = a.splitBytes, combine = true)
    private var firstLayout: Seq[(String, Long)] = null
    private var layoutOk = true

    private def layout: Seq[(String, Long)] =
      dirFiles(conf.output).map(f => f.getName -> f.length).sortBy(_._1)

    def setup(s: SparkSession): Unit =
      WordCount.run(s, conf.copy(output = s"${a.run}/out/warm"))

    private def job(s: SparkSession): Long = {
      WordCount.run(s, conf)
      val l = layout
      if (firstLayout == null) firstLayout = l
      else if (l != firstLayout) layoutOk = false
      l.map(_._2).sum
    }

    def unit(s: SparkSession, i: Int, rec: Recorder): Unit = {
      if (a.trace) {
        rec.one("scan", "TokenFormat.read")(TokenFormat.read(s, conf).count())
        rec.one("transform", "MapReduceJob.transform")(noop(
          MapReduceJob.transform(s, conf, WordCount.TokenMapper, WordCount.SumReducer)
            .toDF()))
      }
      rec.twice("job", "WordCount.run")(job(s))
    }

    def gate(s: SparkSession): (Boolean, String) =
      if (firstLayout == null) (false, "no job completed")
      else if (!layoutOk) (false, "job outputs differ between repeated jobs")
      else (true, s"${firstLayout.size} output files identical across jobs")

    override def extra = Map("output_dir" -> conf.output,
      "input_bytes" -> new File(conf.input).length)
  }

  // ---- query_mix -------------------------------------------------------

  /** The headline rows (`Query.headline`) plus the two persisted-index
    * probes and the two streaming rows. Fixed here so metric names do
    * not move when the headline flag does.
    */
  val QueryRows: Seq[String] = Seq(
    "mr_wordcount", "q1_pricing_summary", "q3_shipping_priority",
    "q5_local_supplier_volume", "q6_forecast_revenue", "ev_hourly_agg",
    "tx_token_stats", "tx_tfidf", "dd_exact", "dd_minhash_lsh",
    "dd_clean_corpus", "dd_decontaminate", "ss_cosine_topk",
    "ss_ivf_probe", "tx_bm25_probe", "ev_stream_hourly", "ev_stream_sessions")

  final class QueryMix(a: Args) extends Workload {
    private var idx: Seq[String] = Nil
    private var liveRows = 0L

    def setup(s: SparkSession): Unit = {
      val missing = QueryRows.filterNot(QueryRegistry.byName.contains)
      require(missing.isEmpty, s"rows missing from QueryRegistry: $missing")
      idx = Seq(TextQueries.buildTextIndex(s, a.sf),
        SimilarityQueries.buildIvfIndex(s, a.sf))
    }

    def unit(s: SparkSession, i: Int, rec: Recorder): Unit = {
      val t0 = System.nanoTime
      val ops = new scala.util.Random(a.seed * 7919L + i).shuffle(QueryRows).map { r =>
        rec.twice("query", r)(noop(QueryRegistry.byName(r).run(s, a.sf)))
      }
      rec.ops += Op("pass", s"pass$i", (System.nanoTime - t0) / 1e9, a.trace,
        ops.forall(_.ok), -1, ops.size.toLong, None)
    }

    /** graft.Verify, unchanged, is the first warm-up pass: it writes
      * every row's result and its oracle SQL for tools/oracle_check.py,
      * then stops the session, so the window gets a fresh one.
      */
    override def prepare(s: SparkSession): SparkSession = {
      graft.Verify.main(Array(a.sf, s"${a.run}/verify") ++ QueryRows)
      newSession(a)
    }

    def gate(s: SparkSession): (Boolean, String) = {
      liveRows = Tables(s, a.sf).documents.count() + Tables(s, a.sf).embeddings.count()
      (true, "rows are checked by tools/oracle_check.py")
    }

    override def extra = Map("verify_dir" -> s"${a.run}/verify",
      "index" -> indexFootprint(idx, liveRows))
  }

  /** Data files, their bytes and the live rows they serve. */
  def indexFootprint(dirs: Seq[String], liveRows: Long): Map[String, Any] = {
    val fs = dirs.flatMap(dirFiles)
    Map("files" -> fs.size, "bytes" -> fs.map(_.length).sum, "live_rows" -> liveRows)
  }

  // ---- index_churn -----------------------------------------------------

  final class Churn(a: Args) extends Workload {
    private var idx: String = _
    private val rounds = new File(a.inputs).listFiles
      .filter(_.getName.startsWith("round")).map(_.getPath).sorted.toSeq
    private var batches: Seq[Map[String, DataFrame]] = Nil
    private var applied = 0
    private var liveRows = 0L
    private var loadS = 0.0

    /** The `ss_ivf_probe` composition against index `at`. */
    private def ivfProbe(s: SparkSession, at: String): Seq[org.apache.spark.sql.Row] = {
      val cents = SimilarityQueries.loadCentroids(s, at)
      val (probes, cells) = SimilarityQueries.localProbesOf(s,
        SimilarityQueries.collectedQueries(
          Tables(s, a.sf).embeddings.filter(col("vec_id") < 20)), cents)
      val assigned = Tables.readPq(s, s"$at/cells")
        .filter(col("cell").isin(cells.map(Integer.valueOf): _*))
        .select(col("vec_id"), col("embedding"), col("cell"))
      SimilarityQueries.rankTail(assigned, probes).collect().toSeq
    }

    def setup(s: SparkSession): Unit = {
      idx = SimilarityQueries.buildIvfIndex(s, a.sf)
      ivfProbe(s, idx)
    }

    /** Round `i`'s batches as in-memory relations, loaded before the
      * round starts; the load is excluded from the window, so the timed
      * ops do index work only.
      */
    private def batch(s: SparkSession, i: Int): Map[String, DataFrame] = {
      require(i < rounds.size, s"only ${rounds.size} churn rounds generated")
      val t0 = System.nanoTime
      batches :+= Seq("ivf_upsert", "ivf_delete").map { k =>
        val df = s.read.parquet(s"${rounds(i)}/$k.parquet")
        k -> s.createDataFrame(df.collectAsList(), df.schema)
      }.toMap
      loadS += (System.nanoTime - t0) / 1e9
      batches(i)
    }

    override def untimedS: Double = loadS

    def unit(s: SparkSession, i: Int, rec: Recorder): Unit = {
      val b = batch(s, i)
      val t0 = System.nanoTime
      val ops = Seq(
        rec.one("ivf_upsert", "upsertIvfIndex")(
          SimilarityQueries.upsertIvfIndex(s, idx, b("ivf_upsert")).size.toLong),
        // two probes, so a traced run's probe pairs alternate their order
        rec.twice("ivf_probe", "ss_ivf_probe")(ivfProbe(s, idx).size.toLong),
        rec.twice("ivf_probe", "ss_ivf_probe")(ivfProbe(s, idx).size.toLong),
        rec.one("ivf_delete", "deleteFromIvfIndex")(
          SimilarityQueries.deleteFromIvfIndex(s, idx, b("ivf_delete")).size.toLong))
      applied += 1
      rec.ops += Op("round", s"round$i", (System.nanoTime - t0) / 1e9, a.trace,
        ops.forall(_.ok), -1, ops.size.toLong, None)
    }

    /** The churned index must probe exactly like a from-scratch build
      * over the final vector set under the same (fixed) model, its id
      * route must agree with its cells per cell (the `ss_route_audit`
      * invariant), and its cells must hold exactly the expected ids.
      */
    def gate(s: SparkSession): (Boolean, String) = {
      import s.implicits._
      var vecs = Tables(s, a.sf).embeddings.select(col("vec_id"), col("embedding"))
      batches.take(applied).foreach { b =>
        val up = b("ivf_upsert").select(col("vec_id"), col("embedding"))
        vecs = vecs.join(up, Seq("vec_id"), "left_anti").unionByName(up)
          .join(b("ivf_delete"), Seq("vec_id"), "left_anti")
      }
      val want = vecs.select(col("vec_id")).as[Long].collect().toSet
      val rebuilt = s"${a.run}/tmp/rebuilt_ivf_index"
      SimilarityQueries.writeIvfIndex(s, vecs, SimilarityQueries.loadCentroids(s, idx), rebuilt)
      val got = ivfProbe(s, idx)
      val probeOk = got.nonEmpty && got == ivfProbe(s, rebuilt)
      val rt = KeyRouting.byKey(idx, "vec_id")
      rt.ensure(s, s"$idx/cells")
      def perCell(df: DataFrame): Map[Long, Long] =
        df.groupBy(col("cell").cast("long")).count().as[(Long, Long)].collect().toMap
      val cells = Tables.readPq(s, s"$idx/cells")
      val routeOk = perCell(cells) == perCell(s.read.parquet(rt.routeDir))
      val ids = cells.select(col("vec_id")).as[Long].collect()
      val idsOk = ids.length == ids.distinct.length && ids.toSet == want
      liveRows = want.size
      (probeOk && routeOk && idsOk, s"rounds=$applied probe_equals_rebuild=$probeOk " +
        s"(${got.size} rows) route_consistent=$routeOk ids_equal=$idsOk")
    }

    override def extra = Map("rounds" -> applied,
      "index" -> indexFootprint(Seq(idx), liveRows))
  }

  // ---- the run -------------------------------------------------------

  def newSession(a: Args): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.run}/local")
      .config("spark.sql.warehouse.dir", s"${a.run}/warehouse")
    if (a.trace)
      b.config("spark.sql.queryExecutionListeners",
          classOf[TracerQueryListener].getName)
        .config("spark.sql.streaming.streamingQueryListeners",
          classOf[TracerStreamListener].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.core.Sessions.quietBoundedWindowWarnings()
    s
  }

  private def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** Runs one workload; several runs separated by `--then` share one
    * JVM (the build's class-archive training run uses this).
    */
  def main(argv: Array[String]): Unit = {
    val runs = argv.foldLeft(List(List.empty[String])) {
      case (acc, "--then") => Nil :: acc
      case (cur :: rest, x) => (x :: cur) :: rest
      case (Nil, x) => List(List(x))
    }.map(_.reverse.toArray).reverse
    runs.foreach(run)
  }

  def run(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val w: Workload = a.workload match {
      case "mr_skewed" | "mr_unique" => new Mr(a)
      case "query_mix"               => new QueryMix(a)
      case "index_churn"             => new Churn(a)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    var spark: SparkSession = null
    val setupS = (1 to a.setups).map { i =>
      val t0 = System.nanoTime
      if (spark != null) spark.stop()
      // a fresh tmpdir per set-up: index builds are keyed into it, so
      // every set-up builds from scratch
      val tmp = s"${a.run}/tmp/setup$i"
      new File(tmp).mkdirs()
      System.setProperty("java.io.tmpdir", tmp)
      spark = newSession(a)
      w.setup(spark)
      if (i == 1) (System.currentTimeMillis - jvmStart) / 1e3
      else (System.nanoTime - t0) / 1e9
    }
    val tPrep = System.nanoTime
    spark = w.prepare(spark)
    val prepareS = (System.nanoTime - tPrep) / 1e9
    // untimed warm-up units, plain even in traced runs: the first query
    // pass of the fresh session ran 30-50% slower than the third
    val warmRec = new Recorder(a.copy(trace = false), spark.sparkContext)
    (0 until a.warm).foreach(i => w.unit(spark, i, warmRec))
    val rec = new Recorder(a, spark.sparkContext)
    rec.errors ++= warmRec.errors
    val t0 = System.nanoTime
    val untimed0 = w.untimedS
    var units = 0
    def elapsed = (System.nanoTime - t0) / 1e9 - (w.untimedS - untimed0)
    // --seconds 0 runs no unit (the class-archive training run)
    while ((units == 0 && a.seconds > 0) || elapsed < a.seconds) {
      val i = a.warm + units
      // traced runs nest each unit's op spans under a unit span, whose
      // self time is the harness's own work (listener-bus drains included)
      if (a.trace) Tracer.span(s"unit$i")(w.unit(spark, i, rec))
      else w.unit(spark, i, rec)
      units += 1
    }
    val windowS = elapsed
    val rss = peakRssMb
    val tGate = System.nanoTime
    val warmFailed = warmRec.ops.count(!_.ok)
    val (gateOk, gateDetail) =
      if (warmFailed > 0) (false, s"$warmFailed warm-up ops failed")
      else try w.gate(spark)
      catch { case NonFatal(e) => (false, s"gate threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    val gateS = (System.nanoTime - tGate) / 1e9
    val out = Map(
      "workload" -> a.workload, "setup_s" -> setupS, "window_s" -> windowS,
      "units" -> units, "peak_rss_mb" -> rss,
      "prepare_s" -> prepareS, "gate_s" -> gateS,
      "gate" -> Map("ok" -> gateOk, "detail" -> gateDetail),
      "errors" -> rec.errors.toSeq,
      "ops" -> rec.ops.toSeq.map { o =>
        Map("kind" -> o.kind, "name" -> o.name, "s" -> o.secs,
          "traced" -> o.traced, "ok" -> o.ok, "pair" -> o.pair,
          "value" -> o.value) ++ o.stats.map(st => Map("stats" -> st.toMap)).getOrElse(Map.empty)
      },
      "spans" -> (if (a.trace) Tracer.spanRows else Nil)) ++ w.extra
    Files.writeString(Paths.get(a.out), Json(out))
    spark.stop()
  }
}

/** Minimal JSON writer for the harness's maps, sequences and scalars. */
object Json {
  def apply(v: Any): String = v match {
    case null                 => "null"
    case s: String            => quote(s)
    case b: Boolean           => b.toString
    case d: Double            => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float             => apply(f.toDouble)
    case n: Number            => n.toString
    case m: Map[_, _]         => m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_]       => s.map(apply).mkString("[", ",", "]")
    case o: Option[_]         => o.fold("null")(apply)
    case other                => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
