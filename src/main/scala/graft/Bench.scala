package graft

/** Driver-run benchmark: every SparkEntry query executed end-to-end into
  * the noop sink (count() would let Catalyst prune unreferenced
  * projections — noop forces full materialization of every output
  * column), one JSON line out.
  *
  * Optional args are query-name substrings: when present, only matching
  * queries run (dev profiling loop); the driver passes none and gets the
  * full suite. A query that throws is benched at its time-to-failure and
  * reported in an `"errors"` object — failures must be visible in the
  * artifact, not swallowed into a fast-looking total.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors()))
    // min-of-n per query, default 2: single-execution timings were
    // bimodal across rounds — a DIFFERENT query spiked 5-10x each run
    // (q36 54.6s in r5, q39 19.2s in r8, q52 10.2s in a local repro),
    // which reads as a regression when it's a GC pause or an AQE replan.
    // min (not mean) because the question is "what does this plan cost
    // without one-off noise". Malformed values fall back to the default —
    // a typo'd env var must not kill the artifact lines.
    val repeats = sys.env.get("SPARK_GRAFT_BENCH_REPEATS")
      .flatMap(v => scala.util.Try(v.toInt).toOption).filter(_ >= 1).getOrElse(2)
    // DETERMINISTIC INTERLEAVED run order (hash of name), not
    // alphabetical: the registry's names cluster cost families together
    // (q9x = the documents/ML-bound block), and under alphabetical order
    // that family lands at peak accumulated JVM pressure — three rounds
    // of official benches (r11/r12/r14/r16) read 8-21x suite-tail spikes
    // on queries whose isolated min-of-5 is flat (q94 24.6s vs 2.99s,
    // q90 12.7s vs 1.64s, q98 8.2s vs 0.40s in BENCH_r16; COVERAGE.md
    // watch log). Hashing the name spreads each family uniformly across
    // the run so no single GC/JIT pressure window eats one family's
    // readings. Stable across rounds (pure function of the name — new
    // queries insert without reshuffling neighbors' relative order).
    val selected = SparkEntry.queries.toSeq
      .sortBy { case (name, _) =>
        (scala.util.hashing.MurmurHash3.stringHash(name), name)
      }
      .filter { case (name, _) => args.isEmpty || args.exists(name.contains) }
    // Full-suite JIT/codegen warmup at the smallest SF: every selected
    // query runs once on a tiny fixture before anything is timed. The
    // previous single-flagship warmup left each query's first execution
    // paying its own JIT compilation — rounds 3-5 showed isolated 4-12s
    // spikes on sub-second queries (q29: 12.3s cold vs 0.35s warm) that
    // read as regressions. SPARK_GRAFT_BENCH_WARMUP overrides the
    // directory; "0" disables. A missing directory warns instead of
    // silently skipping (a silent skip brings the spikes back with
    // nothing in the output explaining them).
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMUP", "/root/testdata/sf0.001")
    if (warmDir != "0") {
      if (new java.io.File(warmDir).isDirectory)
        selected.foreach { case (_, fn) =>
          try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
          catch { case _: Throwable => () }
          spark.catalog.clearCache()
        }
      else
        System.err.println(
          s"graft.Bench: warmup dir $warmDir missing - timing cold (JIT noise likely)")
    }
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val results = selected.map { case (name, fn) =>
      // per-repeat outcomes: a query is errored only if EVERY repeat
      // failed, and its time is the min over successful repeats when any
      // exist — a transient flake must not mark a working plan broken or
      // leak its time-to-failure into the min.
      def oneRun(): (Double, Option[String]) = {
        val t0 = System.nanoTime()
        val err =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None }
          catch {
            case e: Throwable =>
              // blank out quote/backslash and ALL control chars (<0x20) so
              // the artifact line stays valid JSON whatever the message holds
              Some(Option(e.getMessage).getOrElse(e.getClass.getName)
                .map(c => if (c == '"' || c == '\\' || c < ' ') ' ' else c)
                .take(200))
          }
        // per-query cache hygiene: query builds cache intermediates that
        // are load-bearing within the query but dead after it; without
        // this the full-suite session accumulates storage memory until
        // eviction churn dominates (observed 8x slowdowns late in suite).
        // Sessions.sweep also drops localCheckpoint blocks (dedup
        // components' per-round label frames), which live outside the
        // cache manager and otherwise linger until a GC happens to run
        // the ContextCleaner — the prime suspect for the bimodal
        // late-suite inflation (queries sorting after q46 spiked 5-12x
        // in some rounds and not others).
        Sessions.sweep(spark)
        // GC between queries, ADAPTIVE since r18: the
        // unpersist above only DROPS references — reclamation waits for
        // whenever the JVM collects, so query N+1 can pay query N's
        // garbage as a mid-run pause (the r17 official run's scattered
        // 5-18x spikes on clean plans: q257 9.3s vs 0.80s isolated,
        // q11 15.3s on a trivial project+sort). But an UNCONDITIONAL
        // per-repeat GC is the wrong trade: measured head-to-head at
        // r18 on the full 277-query suite, always-GC cost 385.8s vs
        // 284.8s without (median +0.34s/query — the r13 ~0.1s estimate
        // doesn't hold at today's heap) while preventing only ~6s of
        // spikes in a clean environment. So it collects ONLY
        // under heap pressure (used > 50% of -Xmx after the cache
        // sweep): in a clean run the guard almost never fires and the
        // suite reads like GC-off; in a garbage-accumulating run it
        // fires exactly where the debt would otherwise surface as a
        // mid-query pause attributed to an innocent plan.
        val rt = Runtime.getRuntime
        if (rt.totalMemory() - rt.freeMemory() > rt.maxMemory() / 2) System.gc()
        ((System.nanoTime() - t0) / 1e9, err)
      }
      val runs = scala.collection.mutable.ArrayBuffer.empty[(Double, Option[String])]
      (1 to repeats).foreach(_ => runs += oneRun())
      // Adaptive spike tiebreaker (r22, additions-only): the official
      // r21 run read q336 at 7.7s where the identical tree measured
      // 0.85-1.08s isolated and at 8 cores — a 32-core contention/GC
      // window that min-of-2 cannot shed when it spans both repeats.
      // When the DEFAULT repeats' successful readings are multi-second
      // AND disagree by >1.5x, the plan's cost is ambiguous: spend up to
      // 2 more repeats to let the min escape the window. Timed semantics
      // unchanged (same action, same min-over-successes); an explicit
      // SPARK_GRAFT_BENCH_REPEATS disables the adaptivity so dev A/B
      // runs stay fixed-n.
      if (sys.env.get("SPARK_GRAFT_BENCH_REPEATS").isEmpty) {
        def oks = runs.filter(_._2.isEmpty).map(_._1)
        var extra = 0
        while (extra < 2 && oks.nonEmpty && oks.min > 1.0 &&
            oks.max / oks.min > 1.5) {
          runs += oneRun()
          extra += 1
        }
      }
      val ok = runs.filter(_._2.isEmpty)
      if (ok.isEmpty) errors(name) = runs.last._2.get
      name -> (if (ok.nonEmpty) ok.map(_._1).min else runs.map(_._1).min)
    }
    // keep the artifact lines SHORT: the driver captures only the tail of
    // sbt output, and full-precision doubles pushed q01-q16 out of the
    // capture window in rounds 3-4 ("parsed": null). 3 decimals suffice.
    def f(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f(v) }
      .mkString("{", ",", "}")
    val errs = errors.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // the COMPLETE per-query map also lands in a file: the driver's
    // stdout tail-capture truncates the long line once the suite grows
    // past ~70 queries (BENCH_r14 retained q31-q99 only), so the file
    // is what lets every timing be audited without a dev rerun.
    // Best-effort: a write failure must not kill the stdout artifact.
    // written BOTH to target/ (dev scratch) and to the repo root as
    // bench_full_latest.json: BENCH_rN.json's stdout tail keeps only
    // ~70 of the per-query timings, and target/ is gitignored — the
    // root copy is the committable artifact that lets every timing be
    // audited across rounds without a dev rerun (r18 verdict task 3).
    try {
      val line = (s"""{"metric":"per_query","queries":$qs,"errors":$errs,""" +
        s""""total":${f(total)},"n_queries":${results.size},"sf":"$sfDir"}""" + "\n")
        .getBytes("UTF-8")
      val dir = java.nio.file.Paths.get("target")
      java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.write(dir.resolve("bench_full.json"), line)
      // the committable root artifact only for FULL-suite runs: a
      // dev-time subset invocation must not clobber the 300-query
      // record the round's regression judging reads
      if (args.isEmpty)
        java.nio.file.Files.write(java.nio.file.Paths.get("bench_full_latest.json"), line)
    } catch {
      case e: Throwable =>
        System.err.println(s"graft.Bench: bench_full.json write failed: $e")
    }
    // two lines, long one FIRST: the driver tails output, so anything cut
    // is cut from the FRONT — rounds 1-5 put "value" at the head of one
    // long line and the driver parsed null every round. The short
    // total-only line last is what must survive the capture window.
    println(s"""{"metric":"per_query","queries":$qs,"errors":$errs,"sf":"$sfDir"}""")
    // stop BEFORE the total line: anything SparkContext shutdown prints
    // must land above it, so the total JSON is the process's last stdout
    // line (build.sbt strips sbt's [info] prefix and [success] banner).
    // Try: a shutdown-hook/cleaner error escaping stop() must not eat the
    // total line — an unparseable artifact is worse than an unclean stop.
    // stderr doesn't pollute the parsed stdout, so the failure stays visible
    scala.util.Try(spark.stop()).failed
      .foreach(e => System.err.println(s"graft.Bench: spark.stop failed: $e"))
    println(s"""{"metric":"total","value":${f(total)},"unit":"sec","n_queries":${results.size},"n_errors":${errors.size},"sf":"$sfDir"}""")
    System.out.flush()
  }
}
