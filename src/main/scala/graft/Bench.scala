package graft

/** Benchmark main: times every registry query at the target scale factor
  * and prints one JSON line. A warmup pass at sf0.001 runs every query
  * first so JIT/codegen compilation is not billed to the first timed query
  * (local-mode JVMs start cold; a long-lived cluster wouldn't).
  *
  * Each query runs `SPARK_GRAFT_REPEAT` times (default 3) and reports the
  * MINIMUM — the number closest to the plan's intrinsic cost. Three driver
  * rounds produced 10× single-run outliers under machine load (r1 q44
  * 50 s vs 0.7 s controlled, r2 q22 25 s vs 2.2 s, r4 q14 8.2 s vs 1.1 s);
  * a spike now has to hit the same query three times to survive into the
  * headline number, and the per-run times are emitted under "runs" so a
  * contended window is visible in the artifact itself instead of needing
  * a controlled re-run to diagnose.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

    // Host-load stamp: three driver/builder rounds were spent adjudicating
    // contention-swept artifacts by prose; record the 1/5/15-min load
    // averages (start AND end of the run) plus a single-threaded spin
    // probe AND a fixed-size fsync IO probe so a contended run is
    // machine-detectable in the artifact itself (tools/benchdiff.py warns
    // when two runs' stamps differ >2×). The IO probe covers the spin
    // probe's blind spot: D-state background IO load leaves the CPU spin
    // normal while inflating the IO-heavy fixpoint queries (the r13
    // refresh: loadavg 8.36, spin probe 0.096 s, queries +30-50%).
    import graft.core.HostProbe
    val loadStart = HostProbe.loadavg()
    val probeStart = HostProbe.spinProbe()
    val ioStart = HostProbe.ioProbe()
    val spark = graft.core.Sessions.local("bench", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")

    // A conf-flip A/B (JAVA_TOOL_OPTIONS=-Dspark.graft.…=…) times a
    // different program than the default one. Its line must not reach the
    // default artifacts: tools/benchdiff.py takes the newest
    // BENCH_ISOLATED.json line per query to refute a default-config
    // regression. Such a run names its own file.
    val flipped = spark.sparkContext.getConf.getAll.map(_._1)
      .filter(_.startsWith("spark.graft.")).sorted
    if (flipped.nonEmpty && !sys.env.contains("SPARK_GRAFT_BENCH_FILE")) {
      System.err.println(s"[bench] ${flipped.mkString(", ")} set: a " +
        "conf-flipped run must name its artifact with SPARK_GRAFT_BENCH_FILE")
      spark.stop()
      sys.exit(2)
    }

    // SPARK_GRAFT_ONLY=q93_cluster_sizes,… runs a subset in isolation —
    // the re-measurement protocol for a query flagged slow in a full run
    // (tools/benchdiff.py's caveat: shared-host load and 107-query session
    // history both inflate individual numbers)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])

    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory) {
      SparkEntry.queries
        .filter { case (name, _) => only.isEmpty || only(name) }
        .foreach { case (_, fn) =>
        graft.core.CacheScope.scoped {
          try fn(spark, warmDir).count() catch { case _: Throwable => () }
        }
      }
    }

    // run in name order with each run inside a CacheScope, so each query is
    // timed on its own plan (no cross-query cache pollination) and
    // re-persists never hit "already cached" warnings
    val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "3").toInt.max(1)
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) =>
      val runs = (1 to repeat).map { _ =>
        // the elapsed time is read INSIDE the scope, right after the action
        // returns — the scope's exit unpersist is bookkeeping, not query
        // cost, and must not be billed to the reported time
        graft.core.CacheScope.scoped {
          val t0 = System.nanoTime()
          // a failure must be LOUD: a swallowed exception would be reported
          // as a fast query, hiding a regression as a speedup
          val err =
            try { fn(spark, sfDir).count(); None }
            catch { case e: Throwable =>
              System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
              Some(e.getClass.getSimpleName)
            }
          ((System.nanoTime() - t0) / 1e9, err)
        }
      }
      // any failed run fails the query; time is the min over clean runs
      val err = runs.collectFirst { case (_, Some(e)) => e }
      (name, runs.collect { case (t, None) => t }
        .minOption.getOrElse(0.0), err, runs.map(_._1))
    }
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    def f(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val qs = results.map { case (k, v, _, _) => "\"" + k + "\":" + f(v) }
      .mkString("{", ",", "}")
    val perRun = results.map { case (k, _, _, rs) =>
      "\"" + k + "\":" + rs.map(f).mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, Some(e), _) =>
      "\"" + k + "\":\"" + esc(e) + "\"" }.mkString("{", ",", "}")
    val total = results.collect { case (_, v, None, _) => v }.sum
    val loadEnd = HostProbe.loadavg()
    val load = HostProbe.stampJson(loadStart, probeStart, ioStart,
      loadEnd, HostProbe.spinProbe(), HostProbe.ioProbe())
    val isolated = only.nonEmpty
    // the drift-anchor names ride in the artifact so it self-describes
    // which queries tools/benchdiff.py normalizes host speed on
    val anchors = Seq("q23_itemcf_histogram", "q40_boardstats_pairs",
      "q211_rfm_segments", "q31_simhash_pairs", "q86_hybrid_stored")
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val line = s"""{"metric":"total","value":${f(total)},"unit":"sec","isolated":$isolated,"queries":$qs,"runs":$perRun,"errors":$errs,"loadavg":$load,"anchors":$anchors,"sf":"$sfDir"}"""
    // The driver captures only the tail of stdout; with 75+ queries the
    // per-run arrays push the line past that window (BENCH_r06.json lost
    // q01–q36). Persist the full line to a repo-local file (swept into the
    // round commit) so the artifact is always recoverable, and still print
    // it for the driver's parser.
    //
    // An SPARK_GRAFT_ONLY subset run is the isolated re-measure protocol
    // (r14: it lived only in judge prose) — it must NEVER clobber the
    // full-run BENCH.json; instead it APPENDS one JSON line to
    // BENCH_ISOLATED.json, the adjudication log tools/benchdiff.py reads
    // to machine-refute contended-refresh regressions (min per query
    // across lines wins, the Bench rule).
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_FILE",
      if (isolated) "BENCH_ISOLATED.json" else "BENCH.json")
    try {
      val p = java.nio.file.Paths.get(out)
      if (isolated && !sys.env.contains("SPARK_GRAFT_BENCH_FILE"))
        java.nio.file.Files.write(p, (line + "\n").getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
      else
        java.nio.file.Files.write(p, (line + "\n").getBytes("UTF-8"))
    }
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $out: ${e.getMessage}") }
    println(line)
    spark.stop()
  }
}
