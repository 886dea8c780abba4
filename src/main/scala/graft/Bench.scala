package graft

/** Benchmark main: times every SparkEntry query against
  * SPARK_GRAFT_SF_DIR. Emits TWO artifacts:
  *  - `BENCH_full.json` (SPARK_GRAFT_BENCH_OUT): the complete record —
  *    every query's 3-run median and min, errors, totals, and the
  *    `window_suspect` list (queries whose median's deciding sample
  *    ran in a pass whose bracketing memory-bandwidth probes deviated
  *    >2× from the run median — the number may be co-tenant weather,
  *    not code).
  *  - ONE stdout JSON line sized to survive a 2000-char tail capture:
  *    `{"metric":"total","unit":"sec","sf":...,"full":"BENCH_full
  *    .json","passes":N,"calib":{...},"queries":{30 slowest medians},
  *    "failed":[names],"n_queries":N,"worst_query":...,"worst":N,
  *    "value":total}` — headline fields LAST so even a truncated
  *    capture keeps them; full error strings live only in the file.
  *
  * Timing design — the gate artifact must be trustworthy:
  *  - Per-query number = MEDIAN of 3 timed runs taken in 3 INTERLEAVED
  *    passes over the whole suite. Back-to-back repeats share any
  *    minutes-long noise window (a concurrent GC cycle, a noisy
  *    neighbor on the host) and their median is still inflated;
  *    interleaving puts a query's samples minutes apart so a sustained
  *    window taxes many queries a little instead of one query 3×, and
  *    the median discards it. (r3 recorded q32 at 10.4s, r4 recorded
  *    q33/q50 at 3.5s/3.2s — all phantom.)
  *  - Pass 1 warms each query untimed immediately before its first
  *    timed run (JIT + codegen + parquet footers). Later passes skip
  *    the warmup: the generated-class cache is raised from its
  *    100-entry default so every query's codegen units survive a full
  *    pass (at the default, 60 queries evict each other and every pass
  *    recompiles everything — q06 once measured 12s of pure
  *    recompilation).
  *  - Storage (cache + localCheckpoint blocks) resets between runs so
  *    each run is cold w.r.t. intermediates and the block manager.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.start(GraftSession.suite)
    // GraftSession.resetStorage's blocking unpersist of locally-
    // checkpointed RDDs emits one "lineage has been truncated" WARN per
    // checkpointed RDD — hundreds per run, and they land on stderr AFTER
    // the headline JSON in a combined-stream tail capture (the r13/r14
    // driver artifacts' 2000-char tails were 100% this spam and parsed
    // to nothing). The unpersist is intentional (storage must reset
    // between timed runs), so silence the whole rdd package to ERROR for
    // the bench JVM.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)

    val only = GraftSession.querySubset
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }

    // Host-calibration probe (r8 verdict: the 46s→71s cross-round bench
    // shift was environmental — r7 code reproduced r8 timings — and
    // cost a judge session to prove). Two fixed-size probes, repeated
    // 3×, min taken (a min only needs one clean sample):
    //  - cpu_sec: compute-bound range-sum — JVM+scheduler+codegen speed,
    //    independent of SF and disk;
    //  - scan_sec: cold-ish scan of the fixed-size `region` table —
    //    parquet footer + task-launch + I/O path.
    // Totals are comparable across rounds ONLY at similar calib values;
    // a uniform total shift at shifted calib is the host, not the code.
    def probeMin(run: () => Unit): Double =
      (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        run()
        (System.nanoTime() - t0) / 1e9
      }.min
    val calibCpu = probeMin(() =>
      spark.range(100000000L).selectExpr("sum(id * 3 + 1)").collect())
    val calibScan = probeMin { () =>
      spark.read.parquet(s"$sfDir/region.parquet").count()
      spark.sqlContext.clearCache()
    }
    // Hypervisor-steal telemetry over the WHOLE timed run: this VM
    // measured 8.7% steal under full load on a quiet neighbor and
    // whole-suite heavy-query inflation up to 7× during bad windows
    // (calib probes at run START looked fine both times — steal is a
    // co-tenant phenomenon, not a constant). steal_pct in the calib
    // block lets a reader attribute a slow artifact to the host
    // without a re-run.
    def cpuStat(): (Long, Long) =
      try {
        val src = scala.io.Source.fromFile("/proc/stat")
        val l = try src.getLines().next() finally src.close()
        val p = l.trim.split("\\s+").drop(1).map(_.toLong)
        (p.sum, if (p.length > 7) p(7) else 0L)
      } catch { case scala.util.control.NonFatal(_) => (0L, 0L) }
    val (statTot0, statSteal0) = cpuStat()
    // Memory-BANDWIDTH probe, once per pass boundary: this host's
    // single-thread copy bandwidth measured swinging 0.6 → 1.8 GB/s
    // minute-to-minute (co-tenant pressure; steal% stays ~0 and the
    // ALU probe stays flat). Shuffle-heavy queries are bandwidth-bound
    // and swing 2-7× with it, so totals are comparable across rounds
    // only at similar mem_gbps — the third leg of the calib triangle.
    // 8M longs = 64 MB per copy (not 256 MB: the probe must never
    // pressure the bench heap), source PATTERN-FILLED once so the
    // copied pages are real memory rather than never-written zero
    // pages, and both arrays are probe-local so they're GC-eligible
    // between boundary probes.
    def probeMemGbps(): Double = {
      val n = 8 * 1024 * 1024
      val src = Array.tabulate(n)(i => i * 0x9E3779B97F4A7C15L)
      val dst = new Array[Long](n)
      (1 to 4).map { _ =>
        val t0 = System.nanoTime()
        System.arraycopy(src, 0, dst, 0, n)
        2.0 * n * 8 / ((System.nanoTime() - t0) / 1e9) / 1e9
      }.max
    }
    // One probe BEFORE each pass plus one at run end: pass i is
    // bracketed by probes i-1 and i, so a bandwidth trough during any
    // pass is visible in at least one bracket. Per-query medians whose
    // deciding sample ran inside a suspect bracket get flagged
    // `window_suspect` in both artifacts (r15 verdict: q182's ×100
    // wall needed a manual attribution paragraph; this makes the
    // verdict machine-readable instead).
    val memProbes = scala.collection.mutable.ArrayBuffer[Double]()

    // per-sample pass attribution rides along so the median's deciding
    // sample can be traced to its bandwidth bracket
    val times =
      scala.collection.mutable.LinkedHashMap[String, List[(Double, Int)]]()
    val errs0 = scala.collection.mutable.LinkedHashMap[String, String]()
    // Rotate the visit order across passes (forward / reversed / rotated
    // by a third): a sustained noise window that overlaps one REGION of
    // the suite then inflates a given query in at most one pass, so the
    // median of its 3 samples discards it. With identical pass orders a
    // window lasting two passes' worth of the same neighborhood beat the
    // median (r5 recorded q42/q43 2.6s/1.6s vs 0.73s/0.67s isolated).
    val third = selected.size / 3
    val passOrders = Seq(selected, selected.reverse,
      selected.drop(third) ++ selected.take(third))
    // Diagnostic knob (scaling runs at sf1.0 take minutes per pass, and
    // a single pass answers "is it ~linear"); the gate always runs the
    // default 3 so medians stay noise-robust.
    val passes = scala.util.Try(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").trim.toInt)
      .getOrElse(3).max(1).min(3)
    for (pass <- 1 to passes) {
      memProbes += probeMemGbps()
      for ((name, fn) <- passOrders(pass - 1) if !errs0.contains(name)) {
        if (pass == 1) {
          // warm THIS query untimed right before its first timed run
          try fn(spark, sfDir).count() catch { case _: Throwable => () }
          GraftSession.resetStorage(spark)
        }
        val t0 = System.nanoTime()
        // a query that throws is recorded as an error marker, never as a
        // plausible wall time (round-3: no silent swallowing); timing
        // covers construction + execution together (iterative operators
        // like q44 legitimately run jobs while the frame is built)
        try {
          fn(spark, sfDir).count()
          val dt = (System.nanoTime() - t0) / 1e9
          times(name) = times.getOrElse(name, Nil) :+ ((dt, pass))
        } catch {
          case e: Throwable => errs0(name) = e.toString.take(200)
        }
        GraftSession.resetStorage(spark)
      }
    }
    memProbes += probeMemGbps()

    // A pass is window-suspect when either of its bracketing bandwidth
    // probes deviates >2× from the run-median probe; a query is
    // window-suspect when the SAMPLE THAT BECAME ITS MEDIAN ran in a
    // suspect pass (its recorded number may be the window, not the
    // code). Flagging, not re-running: at 3 interleaved passes a
    // re-run would land in the same co-tenant weather anyway, and the
    // flag is what makes round-over-round diffs machine-comparable.
    val probeMed = memProbes.sorted.apply(memProbes.size / 2)
    def passSuspect(p: Int): Boolean =
      Seq(memProbes(p - 1), memProbes(p)).exists(g =>
        g < probeMed / 2 || g > probeMed * 2)
    val results = selected.map { case (name, _) =>
      val ts = times.getOrElse(name, Nil)
      val medianSample =
        if (ts.isEmpty) (0.0, 0) else ts.sortBy(_._1).apply(ts.size / 2)
      val minT = if (ts.isEmpty) 0.0 else ts.map(_._1).min
      val suspect = ts.nonEmpty && passSuspect(medianSample._2)
      (name, medianSample._1, minT, errs0.get(name), suspect)
    }
    val ok = results.filter(_._4.isEmpty)
    val qs = ok.map { case (k, v, _, _, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // per-query MIN alongside the median: a min is robust to sustained
    // slowdowns (it only takes ONE clean pass), so median >> min flags a
    // noise-inflated median without a manual re-run
    val qmins = ok.map { case (k, _, m, _, _) => "\"" + k + "\":" + m }
      .mkString("{", ",", "}")
    val suspects = ok.collect { case (k, _, _, _, true) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    // Escape backslash, quote AND control characters: Spark analysis
    // exceptions carry newlines/tabs even after take(200), which would
    // otherwise break the one-line JSON contract.
    def jsonEscape(s: String): String =
      s.flatMap {
        case '\\' => "\\\\"
        case '"'  => "\\\""
        case '\n' => "\\n"
        case '\r' => "\\r"
        case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      }
    val errsJson = results.collect { case (k, _, _, Some(e), _) =>
      "\"" + k + "\":\"" + jsonEscape(e) + "\""
    }.mkString("{", ",", "}")
    val total = if (ok.nonEmpty) ok.map(_._2).sum else 0.0
    val (worstName, worstT) =
      if (ok.isEmpty) ("", 0.0)
      else { val w = ok.maxBy(_._2); (w._1, w._2) }
    // The COMPLETE artifact (all medians + mins) goes to a FILE: the
    // stdout capture is a 2000-char tail, which a 140-query map can
    // never fit (r5-r7 each lost 40-76 per-query numbers to
    // truncation). The file is the artifact of record.
    def r3(d: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, d)
    val (statTot1, statSteal1) = cpuStat()
    val stealPct =
      if (statTot1 > statTot0)
        100.0 * (statSteal1 - statSteal0) / (statTot1 - statTot0)
      else 0.0
    val calibJson =
      s"""{"cpu_sec":${r3(calibCpu)},"scan_sec":${r3(calibScan)},""" +
        s""""steal_pct":${r3(stealPct)},""" +
        s""""mem_gbps":${r3(memProbes.head)},""" +
        s""""mem_gbps_end":${r3(memProbes.last)},""" +
        s""""mem_gbps_passes":${
          memProbes.map(r3).mkString("[", ",", "]")}}"""
    val fullLine = s"""{"metric":"total","unit":"sec","sf":"$sfDir","passes":$passes,"calib":$calibJson,"queries":$qs,"query_mins":$qmins,"window_suspect":$suspects,"errors":$errsJson,"n_queries":${ok.size},"worst_query":"$worstName","worst":$worstT,"value":$total}"""
    // a single-pass diagnostic artifact must not silently overwrite and
    // impersonate the 3-pass gate artifact (the "passes" field records
    // it either way, but a distinct default filename prevents the mixup)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (passes < 3) s"BENCH_full_p$passes.json" else "BENCH_full.json")
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outPath),
        (fullLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"bench: could not write $outPath: $e")
    }
    // The stdout line must PARSE inside the 2000-char tail window (sbt
    // appends ~90 chars of "[success]" noise after it), so it carries
    // the headline plus only the 30 SLOWEST queries at 3-decimal
    // precision (~1.1 KB total) — those dominate the total and are the
    // regression-relevant set; the full map lives in BENCH_full.json
    // ("full" field). Headline fields stay LAST so even a truncated
    // capture keeps them.
    val slow = ok.sortBy(-_._2).take(30)
      .map { case (k, v, _, _, _) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    // stdout carries only the FAILING QUERY NAMES — full error strings
    // (escaped, up to ~200 chars each) live in BENCH_full.json; a few
    // failures would otherwise blow the 2000-char tail budget
    val errNames = results.collect { case (k, _, _, Some(_), _) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    // window_suspect on stdout carries a COUNT (names live in the full
    // artifact): a bad weather window could flag dozens of queries and
    // the tail budget is 2000 chars
    val line = s"""{"metric":"total","unit":"sec","sf":"$sfDir","full":"$outPath","passes":$passes,"calib":$calibJson,"queries":$slow,"failed":$errNames,"n_window_suspect":${ok.count(_._5)},"n_queries":${ok.size},"worst_query":"$worstName","worst":${r3(worstT)},"value":${r3(total)}}"""
    println(line)
    if (line.length > 1800)
      System.err.println(s"bench: WARNING stdout line ${line.length} chars may truncate in a 2000-char tail capture")
    spark.stop()
    // Re-print the headline AFTER spark.stop(): shutdown itself logs
    // (ContextCleaner, block manager teardown), and in a combined
    // stdout+stderr tail capture those lines would otherwise be the
    // last thing the driver sees. A tail parser takes the last JSON
    // line either way, so the duplicate is harmless and the guarantee
    // is absolute: nothing in this JVM prints after this.
    println(line)
  }
}
