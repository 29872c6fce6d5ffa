package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: one JSON line on stdout AND `target/bench.json`.
  *
  * The driver keeps only the LAST ~2000 chars of stdout and JSON-parses a
  * complete line found inside that window. The 80-query full-precision line
  * is ~4 KB (r3/r4 `parsed: null`), and the r7 shortened per-query map at
  * 111 queries overflowed again. stdout therefore carries ONLY a bounded
  * summary — total, counts, box factor, capped failed/regression lists
  * (~900 chars worst case, independent of query count) — emitted after
  * `spark.stop()` so nothing can print after it; the full-precision
  * per-query map lives in `target/bench.json` (the artifact of record).
  * Root log level is forced to ERROR before the session starts so log noise
  * can't land between the line and process exit.
  *
  * Regression gate: per-query times are compared against
  * `BASELINE_QUERIES.json` (recorded from the prior round's driver bench at
  * the same SF). The gate tests the MINIMUM of the runs — a genuine code
  * regression slows every run, while box contention typically hits a
  * subset, so gating on best-run kills the bouncing false flags measured
  * in round 5 (consecutive same-code suites flagged disjoint query pairs)
  * without hiding a real slowdown. Since round 9 the n repetitions are
  * interleaved as whole-suite passes (suite × n, not query × n): a
  * contention burst then degrades one pass of a query — whose other
  * passes run minutes apart — instead of poisoning all n back-to-back
  * runs, which is what defeated best-of-3 in rounds 5/7/8. The reported per-query number stays the
  * MEDIAN (the honest expected cost). A flagged query (min > 2× the
  * box-normalized baseline AND > 0.3 s over it) is reported in the
  * `regressions` array — visible in the artifact itself, so a silent
  * per-query regression (round 3's unexplained q30) can't hide behind a
  * healthy total.
  *
  * Box normalization: round 5 proved best-of-n alone is not enough —
  * SUSTAINED contention slows all n runs of a contiguous suite block, and
  * the r5 driver gate flagged q19-q22 whose identical code measured
  * 0.89-1.13× baseline on a clean box (SCALE.md round-6 adjudication).
  * A slow BOX shifts every query's ratio together; a slow QUERY shifts
  * only its own. So the gate first estimates the box factor — the median
  * best/baseline ratio over the most run-stable queries (lowest max/min
  * spread across this run's n runs, baseline >= 0.15 s so tiny-time
  * jitter can't dominate) — and scales each baseline by it before
  * applying the 2× test. The factor is clamped to [1, 3]: never stricter
  * than the raw gate on a fast box, and a uniform >3× slowdown still
  * flags (that is no longer "contention" at any plausible level). The
  * factor itself is reported as `box_factor` so an adjudicator can read
  * contention directly off the artifact.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    // Quiet startup noise BEFORE the session exists; setLogLevel only
    // reaches the already-created context.
    org.apache.logging.log4j.core.config.Configurator.setRootLevel(
      org.apache.logging.log4j.Level.ERROR)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    // same loud drift report as Verify; a drifted table should read as
    // one stderr line here, not as a block of -1.000 bench rows
    try Tables.assertSchemas(spark, sfDir)
    catch { case e: IllegalStateException =>
      System.err.println(s"[bench] TESTDATA SCHEMA DRIFT: ${e.getMessage}")
    }
    Sessions.warmup(spark, sfDir)
    // Timed action: a noop-format write evaluates EVERY output column.
    // (.count() lets Catalyst prune unreferenced projections, so map-only
    // queries were timed as little more than a parquet scan.)
    // A failed run is NOT a fast run: failures surface as value -1 and a
    // "failed" list in the JSON, never as a near-zero-time success.
    def runOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Option[Double] = {
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case scala.util.control.NonFatal(_) => false }
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache() // operator-persisted tables don't leak across timings
      // localCheckpoint blocks (CC/pagerank/BPE/IVF-append probes) are NOT
      // CacheManager entries — clearCache leaves them in the block manager,
      // where 111 queries × n runs of accumulation would eventually evict
      // the later queries' own persists. Safe between timings: every run
      // rebuilds its frames from scratch.
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      if (ok) Some(dt) else None
    }
    val nRuns = math.max(1,
      sys.env.get("SPARK_GRAFT_BENCH_RUNS").flatMap(_.toIntOption).getOrElse(3))
    // local iteration aid: SPARK_GRAFT_BENCH_ONLY=q91,q92 times just the
    // named queries (prefix match on the short name). The driver never
    // sets it — full-suite artifacts are unaffected.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) =>
      only.forall(_.exists(p => n == p || n.startsWith(p + "_")))
    }
    // Repetitions are interleaved as WHOLE-SUITE passes: run every selected
    // query once, then repeat the entire suite, nRuns times total. The r8
    // verdict identified back-to-back per-query repetition as the mechanical
    // root of four rounds of phantom flags — a single contention/GC burst
    // landed on all n runs of ONE query and defeated the best-of-n gate by
    // construction. Interleaved, a burst costs one pass of one query (or a
    // contiguous block of single passes), and the per-query best across
    // passes — separated by minutes of other work — stays clean.
    // target/bench.json is (re)written after EVERY pass from the passes
    // completed so far (with a passes_done marker), so an external
    // wall-clock kill mid-suite still leaves per-query data on disk —
    // round 18's 32-core timeout (rc=124) lost the entire perf signal
    // because the artifact was all-or-nothing. stdout stays a single
    // final line; the numbers of a completed run are byte-identical.
    val passBuf =
      scala.collection.mutable.ArrayBuffer.empty[Map[String, Option[Double]]]
    for (p <- 1 to nRuns) {
      passBuf += selected.map { case (name, fn) => name -> runOnce(fn) }.toMap
      writeArtifact(renderLine(selected, passBuf.toSeq, p, sfDir, nRuns))
    }
    val g = gate(selected.map(_._1), passBuf.toSeq, readBaseline())
    g.regressions.foreach { case (q, sec, b) =>
      System.err.println(s"BENCH REGRESSION: $q ${num(sec, 2)}s vs baseline ${num(b, 2)}s")
    }

    // Compact stdout form. Round 7 proved the per-query map does not fit:
    // at 111 queries the shortened map alone is ~1450 chars, and the r7
    // failure run (16 failed + 6 regressions + exceedances) pushed the
    // line past the driver's ~2000-char stdout tail window — `parsed:
    // null` for the third round. stdout therefore carries ONLY the
    // bounded summary — counts, box factor, capped failed/regression
    // lists — and the per-query map lives exclusively in
    // `target/bench.json` (the artifact of record). Worst case (caps all
    // hit) is ~900 chars, bounded independent of query count.
    def short(name: String) = name.takeWhile(_ != '_')
    def capped(items: Seq[String], cap: Int): String =
      (items.take(cap) ++
        (if (items.size > cap) Seq(s"""{"truncated":${items.size - cap}}""") else Nil))
        .mkString("[", ",", "]")
    val regAll = g.regressions.map { case (q, sec, b) =>
      s"""{"q":"${short(q)}","sec":${num(sec, 2)},"base":${num(b, 2)}}"""
    }
    // failed names shortened and capped: a catastrophic all-fail run must
    // still produce a parseable line
    val failedShort = g.failed.map(k => "\"" + short(k) + "\"")
    val medAll = g.medianExceedances.map { case (q, sec, b) =>
      s"""{"q":"${short(q)}","sec":${num(sec, 2)},"base":${num(b, 2)}}"""
    }
    val nOk = g.results.values.count(_ >= 0)
    val compact = s"""{"metric":"total","value":${num(g.total, 2)},"unit":"sec","n_queries":${g.results.size},"n_ok":$nOk,"n_failed":${failedShort.size},"sf":"$sfDir","runs":$nRuns,"action":"noop-write","box_factor":${num(g.boxFactor, 2)},"failed":${capped(failedShort, 10)},"regressions":${capped(regAll, 8)},"median_exceedances":${capped(medAll, 4)},"detail":"target/bench.json"}"""
    spark.stop()
    println(compact)
  }

  // ROOT-locale rendering everywhere a number enters JSON: the f""
  // interpolator formats with the JVM default locale, and a
  // comma-decimal locale would corrupt the one line the driver parses
  private def num(v: Double, digits: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))

  // BASELINE_QUERIES.json is a flat {"queries": {"qNN_name": sec, ...}}
  // map; parse with a regex (no JSON dep needed for a flat numeric map).
  private def readBaseline(): Map[String, Double] = {
    val f = new java.io.File(sys.env.getOrElse(
      "SPARK_GRAFT_BASELINE", "BASELINE_QUERIES.json"))
    if (!f.isFile) Map.empty
    else {
      val txt = scala.io.Source.fromFile(f)
      try "\"(q[0-9][^\"]*)\"\\s*:\\s*([0-9.]+)".r.findAllMatchIn(txt.mkString)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
      finally txt.close()
    }
  }

  // Box factor (see scaladoc): median best/baseline ratio of the 20
  // most run-stable baselined queries, clamped to [1, 3].
  private def computeBoxFactor(allTimes: Seq[(String, Seq[Double])],
                               baseline: Map[String, Double]): Double = {
    val eligible = allTimes.collect {
      case (q, times) if times.nonEmpty && baseline.get(q).exists(_ >= 0.15) =>
        // spread = max/min across this query's runs; 1.0 = perfectly stable
        (times.last / times.head, times.head / baseline(q))
    }
    if (eligible.isEmpty) 1.0
    else {
      val ratios = eligible.sortBy(_._1).take(20).map(_._2).sorted
      math.min(3.0, math.max(1.0, ratios(ratios.size / 2)))
    }
  }

  /** The regression gate over the passes completed so far: per query
    * the MEDIAN of its successful runs (−1 when every run failed), the
    * box factor, the best-run regressions and the median exceedances,
    * each as (query, median s, baseline s) in query order. Both
    * renderings (the `target/bench.json` line and the compact stdout
    * summary) read this one computation, so their thresholds cannot
    * drift apart.
    */
  private[graft] case class Gate(results: Map[String, Double],
                                 boxFactor: Double,
                                 regressions: Seq[(String, Double, Double)],
                                 medianExceedances: Seq[(String, Double, Double)]) {
    def failed: Seq[String] =
      results.toSeq.sorted.collect { case (k, v) if v < 0 => k }
    def total: Double = results.values.filter(_ >= 0).sum
  }

  private[graft] def gate(names: Seq[String],
                          passes: Seq[Map[String, Option[Double]]],
                          baseline: Map[String, Double]): Gate = {
    val allTimes: Seq[(String, Seq[Double])] = names.map { name =>
      name -> passes.flatMap(_.getOrElse(name, None)).sorted
    }
    // median of successful runs; all-failed -> -1 marker
    val results = allTimes.map { case (name, times) =>
      name -> (if (times.isEmpty) -1.0 else times(times.size / 2))
    }.toMap
    // best run per query — the regression gate's input (see scaladoc)
    val best = allTimes.collect {
      case (name, times) if times.nonEmpty => name -> times.head
    }.toMap
    val boxFactor = computeBoxFactor(allTimes, baseline)
    // 2× the box-normalized baseline AND +0.3 s over it, applied to the
    // best run (the gate) or to the median (informational)
    def over(q: String, sec: Double): Boolean = {
      val b = baseline(q) * boxFactor
      sec > 2 * b && sec - b > 0.3
    }
    def flagged(pick: (String, Double) => Double) =
      results.toSeq.sorted.collect {
        case (q, sec) if sec >= 0 && baseline.contains(q) &&
            over(q, pick(q, sec)) => (q, sec, baseline(q))
      }
    // Median-based exceedances — INFORMATIONAL, not a gate. Best-of-n
    // gating is deliberately contention-tolerant, which leaves a blind
    // spot: a query whose best run squeaks under 2× while its median sits
    // well over (round 6's q91 at 3.03× median) never appears in the
    // artifact. This list makes that visible without re-introducing the
    // round-5 false-flag bounce: same thresholds, applied to the MEDIAN.
    Gate(results, boxFactor, flagged((q, _) => best(q)),
      flagged((_, sec) => sec))
  }

  /** The full-precision per-query artifact line from the passes completed
    * so far — the same [[gate]] as the final stdout summary, plus a
    * `passes_done` marker so a partial artifact is self-describing.
    */
  private def renderLine(selected: Seq[(String, _)],
                         passes: Seq[Map[String, Option[Double]]],
                         passesDone: Int, sfDir: String,
                         nRuns: Int): String = {
    val g = gate(selected.map(_._1), passes, readBaseline())
    def triple(t: (String, Double, Double)) =
      s"""{"q":"${t._1}","sec":${t._2},"baseline":${t._3}}"""
    val failed = g.failed.map(k => "\"" + k + "\"")
    val qs = g.results.toSeq.sorted.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    s"""{"metric":"total","value":${g.total},"unit":"sec","queries":$qs,"sf":"$sfDir","runs":$nRuns,"passes_done":$passesDone,"action":"noop-write","box_factor":${num(g.boxFactor, 3)},"failed":${failed.mkString("[", ",", "]")},"regressions":${g.regressions.map(triple).mkString("[", ",", "]")},"median_exceedances":${g.medianExceedances.map(triple).mkString("[", ",", "]")}}"""
  }

  private def writeArtifact(line: String): Unit = {
    val out = new java.io.File("target/bench.json")
    out.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(out)
    try w.println(line) finally w.close()
  }
}
