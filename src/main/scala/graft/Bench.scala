package graft
import org.apache.spark.sql.SparkSession

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local("graft-bench", Sessions.cpusFromEnv())
    // Headline set = every query except (a) the five micro-batch
    // streaming runs (q32/q33/q41/q62/q69): those measure Structured
    // Streaming machinery (temp staging, checkpoints, state store), not
    // engine throughput — their SEMANTICS are benched via the batch
    // formulations q42/q43/q60/q63 (q69's batch shape is the q11-family
    // broadcast join) and correctness-gated via the streaming runs in
    // Verify; the machinery cost itself is now measured once per round
    // in the separate "streaming" section below, outside the headline
    // total; and (b) q24, the deliberately-quadratic crossJoin oracle
    // for the embedding near-dup relation — its benched scale path is
    // q59 (SRP-LSH bucketed, same relation). q59 is the deliberate
    // STRESS row of the set: a loose 0.4 threshold on a near-random
    // relation maximizes candidate volume by design (the recall gate in
    // DedupSpec is what it buys); the production-regime cost claim is
    // q61 (threshold 0.9, fine buckets), which runs ~5x faster.
    val excluded = Set("q32_stream_hourly", "q33_sessionization",
      "q41_stream_dedup", "q62_stream_join", "q69_stream_enrich",
      // q104/q110 are also real micro-batch runs (stage + 4-batch
      // stream + probe) — they join the streaming section below; their
      // batch twins (IvfTarget/PqIvfTarget append + probe, the
      // identical data paths) are what SimilaritySpec/PqSpec pin and
      // what q39/q108 bench.
      "q104_stream_ivf", "q110_stream_ivfpq",
      // q121 is likewise a real micro-batch run (stage + streamed LSH
      // state); its relation's batch machinery is benched via q21
      // (same banding/buckets, heavier exact-Jaccard verify).
      "q121_stream_neardup",
      // q173 is a real micro-batch run (stage + 4-batch stream +
      // rollup probe) — streaming section; its batch semantics are
      // benched by q164 (same sketch pass + rollup).
      "q173_stream_sketches",
      // q191 is a real micro-batch run (stage + stream + fold) —
      // streaming section; its fold is exactly q179's batch machinery.
      "q191_stream_scd2",
      // q212 is a real micro-batch run (stage + stream + re-sum) —
      // streaming section; its scrub chain is q197's batch machinery.
      "q212_stream_pii",
      // q215 is a real micro-batch run (stage + stream + re-sum) —
      // streaming section; its check compiler is q211's batch
      // machinery.
      "q215_stream_expectations",
      // q219 is a real micro-batch run (stage + stream-built MIH index
      // + takedown + probe) — streaming section; its append/probe
      // machinery is q146's batch build (same band writes).
      "q219_stream_phash_index",
      // q229 is a real micro-batch run (stage + stream-built 256-bit
      // frame index + takedown + probe) — streaming section; its
      // append/probe machinery is q146's band and its scan q226's.
      "q229_stream_frame_index",
      // q233 is a real micro-batch run (base batch apply + 3 streamed
      // coordinated upsert batches + probes) — streaming section; its
      // per-index machinery is q230's batch apply, benched there.
      "q233_stream_upsert",
      "q24_embed_neardup")
    // Decomposition knob (never set by the driver): restrict the
    // headline set to a comma-separated name list, so suite-composition
    // effects (does adding 20 queries to the session slow the original
    // 102?) are measurable against the SAME binary — see SCALE.md's
    // round-12 drift adjudication.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val headline = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (name, _) => excluded(name) }
      .filter { case (name, _) => only.forall(_.contains(name)) }

    def timeOne(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { ops.Ckpt.scope(fn(spark, sfDir).count()); (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        -1.0
      }
    }

    // Warm-up: session init + first codegen compile land outside
    // timings — ADAPTIVE, because the first sentinel below is the
    // load-factor numerator and residual JIT tier-up reads as false
    // load (a fixed 3 reps left checkpoint 0 at 1.8x the late-run
    // floor on a measured-quiet box). Warm until two consecutive runs
    // agree within 25%, capped at 8 reps; whatever drift survives the
    // cap is attributed to load, which is the conservative direction
    // (more lenient suspect thresholds, never more suspects).
    {
      var prev = Double.MaxValue
      var reps = 0
      var stable = false
      while (reps < 8 && !stable) {
        val t0 = System.nanoTime()
        try ops.Ckpt.scope(SparkEntry.queries("q01_scan_topk")(spark, sfDir).count())
        catch { case _: Throwable => () }
        val t = (System.nanoTime() - t0) / 1e9
        stable = t >= prev * 0.75 && t <= prev * 1.25
        prev = t
        reps += 1
      }
    }

    // Load sentinel: re-time a fixed trivial query (q01, a pushdown
    // scan + TakeOrderedAndProject that has never changed across
    // rounds) before the first pass and after every pass. If the box
    // is contended during part of the run, the sentinel timings drift;
    // their max/min ratio becomes the run's load_factor, written into
    // the JSON line so a loaded box is detectable IN the artifact
    // instead of showing up as 21 false "regressions" (round 6). A
    // uniformly-loaded box shows no within-run drift, so the sentinel
    // is also compared against the previous round's committed q01.
    val sentinelFn = SparkEntry.queries("q01_scan_topk")
    // Each checkpoint is a min of two back-to-back runs: sustained box
    // load inflates both, while a one-off hiccup (GC pause, page-cache
    // miss, a JIT tier-up on the very first checkpoint) inflates only
    // one — and a hiccup-driven load_factor on a QUIET box (measured
    // 1.6 from single-run checkpoints) would scale the suspect
    // thresholds into blindness.
    def sentinel(): Double = {
      val a = timeOne("sentinel(q01)", sentinelFn)
      val b = timeOne("sentinel(q01)", sentinelFn)
      if (a < 0 || b < 0) math.max(a, b) else math.min(a, b)
    }

    // Min-of-3 with the repeats INTERLEAVED: pass 1 runs every query,
    // then pass 2, then pass 3, and each query keeps its minimum.
    // Back-to-back repeats (round 6's best-of-2) share a single load
    // spike — both timings inflate together and the min lies; repeats
    // separated by a full pass (~1 min of other work) sample the box
    // at three independent moments, so one quiet moment is enough for
    // an honest min. Failures report as -1 so a broken query can never
    // read as a fast one (-1 survives the min()).
    val passes = 3
    val sentinels = scala.collection.mutable.ArrayBuffer(sentinel())
    val timings = scala.collection.mutable.Map[String, Double]()
    for (_ <- 1 to passes) {
      headline.foreach { case (name, fn) =>
        val t = timeOne(name, fn)
        timings(name) = timings.get(name) match {
          case Some(prev) => math.min(prev, t)
          case None       => t
        }
      }
      sentinels += sentinel()
    }
    val results = headline.map { case (name, _) => name -> timings(name) }

    // Streaming machinery cost. Each run re-stages sources and
    // checkpoints from scratch — that machinery IS the cost being
    // measured, so a min across passes still times a complete cold
    // pipeline; what the min removes is box noise, which round 8 showed
    // to be the noisiest part of the official line (q62: 8.43 s
    // committed vs 11.27 s driver, 34 % apart, while batch rows agreed
    // within the load factor). Two interleaved passes, batch-style, so
    // the repeats sample the box at different moments; a closing
    // sentinel extends the load bracket over the streaming section.
    // Outside the headline total — the batch twins (q42/q43/q60/q63,
    // q11-family for q69) already carry these semantics there — but
    // committed so the engine has a number for what a
    // Trigger.AvailableNow micro-batch pipeline costs at this SF.
    val streamingNames = Seq("q32_stream_hourly", "q41_stream_dedup",
      "q33_sessionization", "q62_stream_join", "q69_stream_enrich",
      "q104_stream_ivf", "q110_stream_ivfpq", "q121_stream_neardup",
      "q173_stream_sketches", "q191_stream_scd2", "q212_stream_pii",
      "q215_stream_expectations", "q219_stream_phash_index",
      "q229_stream_frame_index", "q233_stream_upsert")
      .filter(n => only.forall(_.contains(n)))
    val streamingTimings = scala.collection.mutable.Map[String, Double]()
    for (_ <- 1 to 2) {
      streamingNames.foreach { n =>
        val t = timeOne(n, SparkEntry.queries(n))
        streamingTimings(n) = streamingTimings.get(n) match {
          case Some(prev) => math.min(prev, t)
          case None       => t
        }
      }
      sentinels += sentinel()
    }
    val streaming = streamingNames.map(n => n -> streamingTimings(n))

    val qs = results.map { case (k, v) => JsonStr(k) + ":" + v }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, v) if v < 0 => k }
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    if (failed.nonEmpty)
      System.err.println(s"[bench] ${failed.size} queries failed: ${failed.mkString(",")}")

    // Suspect list: regressions should be flagged BY the build, not
    // found by a reader diffing round artifacts. `bench_latest.json`
    // is the committed full line from the previous round's clean-box
    // run; a query is suspect when it is both >2x slower than last
    // round AND >0.1 s slower in absolute terms (the ratio alone flags
    // 30 ms jitter on sub-0.1 s queries, which is noise) — with both
    // thresholds SCALED by the measured load_factor, so a box that the
    // sentinel proves was N x slower must show an N x-adjusted
    // regression before a query is called suspect.
    val prev: Map[String, Double] =
      try {
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("bench_latest.json")))
        // Timings from a different scale factor are not a baseline: a
        // local sf0.01 shakedown compared against the committed sf0.1
        // line would flag (or mask) everything.
        val sameSf = """"sf":"([^"]+)"""".r.findFirstMatchIn(txt)
          .forall(_.group(1) == sfDir)
        if (!sameSf) Map.empty
        else """"(q\d+[a-z0-9_]*)":(-?\d+(?:\.\d+)?([eE]-?\d+)?)""".r
          .findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      } catch { case _: Throwable => Map.empty }
    // Checkpoint 0 (pre-pass-1) is recorded for transparency but
    // EXCLUDED from the drift: it measures residual engine warm-up by
    // construction (measured 1.8–2.4x the late-run floor on a quiet
    // box, however hard the warm-up loop tries), and a warm-up-driven
    // load_factor scales the suspect thresholds into blindness. The
    // five post-pass checkpoints (three batch, two streaming) are
    // steady-state and bracket every pass; load during any pass shows
    // at its closing checkpoint.
    val goodSentinels = sentinels.drop(1).filter(_ > 0)
    val withinDrift =
      if (goodSentinels.length >= 2) goodSentinels.max / goodSentinels.min else 1.0
    // Cross-round: a box loaded for the WHOLE run drifts nowhere
    // within-run, but its best sentinel still sits above the previous
    // round's committed q01.
    val crossRound = prev.get("q01_scan_topk") match {
      case Some(p) if p > 0 && goodSentinels.nonEmpty =>
        math.max(1.0, goodSentinels.min / p)
      case _ => 1.0
    }
    val loadFactor = math.max(withinDrift, crossRound)
    // crossRound assumes q01 itself never regresses: a genuine slowdown
    // in shared infra (scan path, session init) would read as sustained
    // load and scale EVERY suspect threshold up — self-certifying the
    // regression away. It can't be disambiguated from here (that's what
    // load is: everything slower), so when crossRound exceeds what the
    // within-run drift explains, say so loudly in BOTH channels — the
    // artifact carries the flag for the round reader to adjudicate
    // against the sentinel history instead of trusting load_factor.
    val loadWarning = crossRound > withinDrift * 1.25 && crossRound > 1.25
    if (loadWarning)
      System.err.println(f"[bench] WARNING: best sentinel is $crossRound%.2fx the " +
        f"previous round's q01 but within-run drift is only $withinDrift%.2fx — " +
        "either the box was uniformly loaded for the whole run, or q01's shared " +
        "infra (scan/session) genuinely regressed; suspect thresholds are scaled " +
        "by it, so re-run on a quiet box before trusting an empty suspect list")
    // Streaming rows are in the scan too: bench_latest.json's regex
    // harvest picks their committed timings out of the "streaming"
    // section, so they get the same >2x-at-load-factor discipline as
    // the batch rows (round-8 gap: they had none).
    val suspect = (results ++ streaming).collect {
      case (k, v) if v >= 0 && prev.get(k).exists(p =>
        p > 0 && v > 2 * loadFactor * p && v - p > 0.1 * loadFactor) => k
    }
    if (suspect.nonEmpty)
      System.err.println(s"[bench] SUSPECT (>2x vs previous round at load_factor " +
        f"$loadFactor%.2f): ${suspect.mkString(",")}")

    val streamingJson = streaming.map { case (k, v) => JsonStr(k) + ":" + v }
      .mkString("{", ",", "}")
    val streamingTotal = streaming.collect { case (_, v) if v >= 0 => v }.sum

    // Brokenness must be visible IN the machine-readable line, not only
    // on stderr: a failed query is excluded from the total (its own -1
    // stays in the per-query map), so without the failed list a
    // partially-broken build would read as a FASTER one.
    val failedJson = failed.map(JsonStr(_)).mkString("[", ",", "]")
    val suspectJson = suspect.map(JsonStr(_)).mkString("[", ",", "]")
    val sentinelJson = sentinels.map(_.toString).mkString("[", ",", "]")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","n_failed":${failed.size},""" +
      s""""failed":$failedJson,"suspect":$suspectJson,""" +
      s""""load_factor":$loadFactor,"load_warning":$loadWarning,""" +
      s""""sentinel":$sentinelJson,""" +
      s""""streaming":$streamingJson,"streaming_total":$streamingTotal,""" +
      s""""queries":$qs,"sf":${JsonStr(sfDir)}}"""
    println(line)
    // The driver captures only the TAIL of stdout, which truncated
    // q01–q28 out of BENCH_r05.json ("parsed": null). Persist the full
    // line twice: target/bench.json for the round artifact, and
    // bench_latest.json at the repo root so (a) it gets committed with
    // the round and (b) the next round's suspect comparison above has a
    // complete, parseable baseline.
    for (p <- Seq("target/bench.json", "bench_latest.json")) {
      try {
        val path = java.nio.file.Paths.get(p)
        Option(path.getParent).foreach(java.nio.file.Files.createDirectories(_))
        java.nio.file.Files.write(path,
          (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $p: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
