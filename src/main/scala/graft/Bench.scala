package graft
/** Full sweep of the declared queries on the shipped [[GraftSession]].
  * Timed action (round 14): the query's own physical plan via
  * [[FullExec.count]] — a bare df.count() re-optimizes with all columns
  * pruned and ELIMINATES work-bearing operators outright (78/350 queries
  * lose Join/Window/Aggregate/Generate nodes; see FullExec's scaladoc for
  * the measured q_semdedup case). */
object Bench {
  /** Canary set for contention normalization (round 11): same-HEAD bench
    * totals swing 95–128 s under host contention, so raw totals keep
    * getting re-adjudicated as phantom regressions. These 10 queries are
    * mid-cost (0.28–1.0 s), plan-stable since ≤ r8, spread across operator
    * families (corpus/TPC-H/embedding/event/dedup), and were selected as
    * the lowest round-over-round deviation from the total's own trend on
    * the r8–r10 stamps. Each bench emits the canary sum and a NORMALIZED
    * total = total × (CanaryRefSeconds / canary); regressions gate on the
    * normalized number (BASELINE.md trend table). */
  val Canary: Seq[String] = Seq("q_tfidf", "q_pareto", "q_dedup_embed",
    "q_semdedup", "q_tpch_q18", "q_sparse_sim", "q_watermark_sim",
    "q_ngram_containment", "q_order_gaps", "q_dedup_survivor")

  /** Canary reference costs under the round-14 FullExec action — the
    * same-HEAD re-derivation the action change REQUIRES (a ref stamped
    * under count() does not describe the quantity the exec action
    * measures; four of the ten canaries carry work count() used to
    * skip). Stamped from the round-14 same-HEAD exec-action run
    * (best-of-2 per canary, sf0.1). FIXED from round 14 on; do not
    * re-derive from the current run. Round 13's contention-sampling
    * design is unchanged: the gate reads the MEDIAN of the ten
    * in-sweep factors, single-shot burst samples stay out-of-gate. */
  val CanaryRefSeconds: Double = 6.546
  val CanaryRef: Map[String, Double] = Map(
    "q_tfidf" -> 0.565609, "q_pareto" -> 0.435987,
    "q_dedup_embed" -> 0.223569, "q_semdedup" -> 0.603260,
    "q_tpch_q18" -> 0.478446, "q_sparse_sim" -> 0.676732,
    "q_watermark_sim" -> 0.565214, "q_ngram_containment" -> 1.497796,
    "q_order_gaps" -> 0.545769, "q_dedup_survivor" -> 0.953821)

  /** Interleave cadence: one canary re-sample per this many swept
    * queries — ~20 samples across a 306-query sweep, ~8 s of untimed
    * overhead (samples never count toward the total). */
  val CanarySampleEvery: Int = 15

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder("graft-bench", s"local[$cpus]", cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm the session so timed numbers are steady-state execution, not
    // one-time JVM cost: table counts load parquet footers, then a pass of
    // every query at sf0.001 (~1% of the timed data) compiles each plan's
    // whole-stage codegen and JITs it. At production scale the compile
    // cost is amortized to noise; steady-state is the number that scales.
    Seq("lineitem", "documents", "embeddings", "events")
      .foreach(t => Tables(spark, sfDir, t).count())
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    // Track warm failures: a missing warm dir would silently produce
    // cold-start timings that aren't comparable to warmed runs.
    var warmFailures = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (_, fn) =>
      try FullExec.count(fn(spark, warmDir)) catch { case _: Throwable => warmFailures += 1 }
    }
    // best-of-2 per query (declared as "agg":"min" in the JSON): one timing
    // is hostage to GC pauses and OS scheduling noise — full-run totals
    // swing ±25% on an otherwise idle box — while the min of two runs is a
    // stable steady-state execution-cost estimate (the number that scales).
    // Interleaved canary samples (see CanaryRef doc): (position, query,
    // seconds, factor), collected OUTSIDE the timed results.
    val canarySamples =
      scala.collection.mutable.ArrayBuffer[(Int, String, Double, Double)]()
    var sampleIdx = 0
    var sampleErrors = 0
    def sampleCanary(pos: Int): Unit = {
      val cq = Canary(sampleIdx % Canary.size)
      sampleIdx += 1
      val t0 = System.nanoTime()
      try {
        FullExec.count(SparkEntry.queries(cq)(spark, sfDir))
        val t = (System.nanoTime() - t0) / 1e9
        canarySamples += ((pos, cq, t, t / CanaryRef(cq)))
      } catch {
        // NonFatal only (round-13 advisor): an OOM/interrupt during a
        // sample must propagate, not vanish — a fatal error swallowed
        // here would leave the sweep running in a corrupted JVM. A
        // NonFatal sample failure is dropped from the diagnostics but
        // COUNTED (n_sample_errors in the JSON) so a sample-phase-only
        // failure mode is visible even when the in-sweep run passes.
        case scala.util.control.NonFatal(_) => sampleErrors += 1
      }
    }
    val results = SparkEntry.queries.toSeq.sortBy(_._1).zipWithIndex
      .map { case ((name, fn), pos) =>
      if (pos % CanarySampleEvery == 0) sampleCanary(pos)
      def once(): (Double, Option[String]) = {
        val t0 = System.nanoTime()
        val err = try { FullExec.count(fn(spark, sfDir)); None } catch {
          case e: Throwable => Some(e.toString.takeWhile(_ != '\n').take(200))
        }
        ((System.nanoTime() - t0) / 1e9, err)
      }
      val (t1, e1) = once()
      if (e1.isDefined) (name, t1, e1)
      else {
        val (t2, e2) = once()
        (name, math.min(t1, t2), e2)
      }
    }
    // A crashed query must not masquerade as a timing: null in "queries",
    // message in "errors".
    val qs = results.map { case (k, v, err) =>
      "\"" + k + "\":" + (if (err.isDefined) "null" else v.toString)
    }.mkString("{", ",", "}")
    // JSON-escape including control chars (< 0x20): a tab or CR in an
    // exception message must not break the line-oriented metrics contract.
    def jsonEscape(s: String): String = s.flatMap {
      case '\\' => "\\\\"
      case '"'  => "\\\""
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val errs = results.collect { case (k, _, Some(m)) =>
      "\"" + k + "\":\"" + jsonEscape(m) + "\""
    }.mkString("{", ",", "}")
    val total = results.collect { case (_, v, None) => v }.sum
    val canarySet = Canary.toSet
    // n_canary guards the normalization itself (round-12 advisor fix):
    // an errored/missing canary query used to silently drop out of the
    // canary sum and INFLATE normalized_total. Now the canary count is
    // asserted in the JSON and an incomplete canary set invalidates the
    // normalized number (falls back to raw) instead of skewing it. The
    // complementary blind spot — a uniform engine-wide slowdown scales
    // the canaries too and leaves normalized_total flat — is why
    // BASELINE.md's trend gate reads BOTH columns: normalized against
    // the tight band, raw against a looser contention band.
    val canaryTimes = results.collect {
      case (k, v, None) if canarySet(k) => v }
    val canary = canaryTimes.sum
    val nCanary = canaryTimes.size
    val canaryComplete = nCanary == Canary.size
    val normalized =
      if (canaryComplete && canary > 0) total * (CanaryRefSeconds / canary)
      else total
    // Median contention factor: the GATE number uses only the ten
    // in-sweep best-of-2 canary runs (alphabetically spread through the
    // sweep — ten time samples of the host), each converted to t/ref.
    // Median, not sum: one burst-hit canary dragged the r12 sum up to
    // ±20 % after normalization; the median of ten spread factors
    // ignores it. The single-shot interleaved samples are emitted as
    // BURST DIAGNOSTICS only — measured on this host (first r13 run),
    // single-shot factors read ~1.18 median while best-of-2 reads ~0.86,
    // because the refs are best-of-2 stamps; mixing the two populations
    // into one median would re-bias the gate, so they stay separate.
    def median(xs: Seq[Double]): Double = {
      if (xs.isEmpty) 1.0
      else {
        val s = xs.sorted.toIndexedSeq
        if (s.size % 2 == 1) s(s.size / 2)
        else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
      }
    }
    val inSweepFactors = results.collect {
      case (k, v, None) if canarySet(k) => v / CanaryRef(k) }
    val factorMedian = median(inSweepFactors)
    val normalizedMed =
      if (inSweepFactors.nonEmpty && factorMedian > 0) total / factorMedian
      else total
    val sampleFactors = canarySamples.map(_._4).toSeq
    // ---- burst gate (round 15) ----
    // The round-14 driver run proved the median-of-ten factor gate is
    // blind to INTERMITTENT bursts: contention that lands between the
    // ten in-sweep canaries corrupts contiguous alphabetical windows
    // (361.1 s raw vs a 240.7–251.8 s same-HEAD triple) while the
    // median factor still reads idle — and the two normalization
    // columns then disagree by 1.8×. Two instruments fix the blindness
    // using data the sweep already collects:
    //  1. burst_disagreement = max/min of the two normalized columns
    //     (canary-SUM-scaled vs median-FACTOR-scaled). On clean runs
    //     they agree within ~1 % (r14 triple: 258.4 vs 260.7); a burst
    //     inflates the sum (and the raw total) but not the median, so
    //     the ratio is a run-level corruption alarm. Alert > 1.3.
    //  2. Per-WINDOW factors from the interleaved single-shot samples:
    //     sample k covers timed positions [pos_k, pos_{k+1}). Each
    //     window factor is read RELATIVE to the run's own median sample
    //     factor (single-shot factors are systematically ~1.2× the
    //     best-of-2 refs, so absolute thresholds would misfire); a
    //     window whose relative factor exceeds 2× flags every query
    //     timed inside it. burst_window_seconds prices the damage;
    //     normalized_total_windowed deflates ONLY the flagged windows
    //     (idle windows pass through — no upward rescaling).
    // trend_eligible (the bit BASELINE.md's protocol reads): true iff
    // no alarm fired. A non-eligible run is usable for correctness but
    // must not become a trend row.
    val BurstWindowRelFactor = 2.0
    val BurstDisagreementAlert = 1.3
    val sortedSamples = canarySamples.sortBy(_._1).toSeq
    val sampleMedian = median(sampleFactors)
    val relWindows: Seq[(Int, Double)] = sortedSamples.map {
      case (pos, _, _, fac) =>
        (pos, if (sampleMedian > 0) fac / sampleMedian else 1.0)
    }
    def windowRel(p: Int): Double = {
      val covering = relWindows.takeWhile(_._1 <= p)
      if (covering.isEmpty) 1.0 else covering.last._2
    }
    val nBurstWindows = relWindows.count(_._2 > BurstWindowRelFactor)
    val timedByPos = results.zipWithIndex
    val burstWindowSeconds = timedByPos.collect {
      case ((_, v, None), p) if windowRel(p) > BurstWindowRelFactor => v
    }.sum
    val windowedTotal = timedByPos.collect { case ((_, v, None), p) =>
      val rel = windowRel(p)
      if (rel > BurstWindowRelFactor) v / rel else v
    }.sum
    val burstDisagreement =
      if (math.min(normalized, normalizedMed) > 0)
        math.max(normalized, normalizedMed) / math.min(normalized, normalizedMed)
      else 1.0
    val trendEligible =
      burstDisagreement <= BurstDisagreementAlert && nBurstWindows == 0
    def f4(x: Double) = f"$x%.4f"
    val samplesJson = canarySamples.map { case (pos, q, t, fac) =>
      s"""{"pos":$pos,"q":"$q","sec":${f4(t)},"factor":${f4(fac)}}"""
    }.mkString("[", ",", "]")
    val factorStats =
      s""""canary_factor_median":${f4(factorMedian)},"canary_factor_min":${f4(if (inSweepFactors.isEmpty) 1.0 else inSweepFactors.min)},"canary_factor_max":${f4(if (inSweepFactors.isEmpty) 1.0 else inSweepFactors.max)},"n_factor_samples":${inSweepFactors.size},"sample_factor_median":${f4(sampleMedian)},"n_burst_samples":${sampleFactors.size},"n_sample_errors":$sampleErrors,"normalized_total_med":$normalizedMed,"burst_disagreement":${f4(burstDisagreement)},"n_burst_windows":$nBurstWindows,"burst_window_seconds":${f4(burstWindowSeconds)},"normalized_total_windowed":${f4(windowedTotal)},"trend_eligible":$trendEligible"""
    val fullLine = s"""{"metric":"total","value":$total,"unit":"sec","reps":2,"agg":"min","canary":$canary,"canary_ref":$CanaryRefSeconds,"action":"exec","n_canary":$nCanary,"canary_complete":$canaryComplete,"normalized_total":$normalized,$factorStats,"canary_samples":$samplesJson,"queries":$qs,"errors":$errs,"warm_failures":$warmFailures,"sf":"$sfDir"}"""
    println(fullLine)
    // The full line above is ~4 KB (one entry per query) and has outrun the
    // driver's captured output tail every round (BENCH_r01..r03 all record
    // "parsed": null). Emit a compact summary LAST so it always survives
    // tail truncation and the 2x-of-baseline perf gate can actually evaluate.
    val nErr = results.count(_._3.isDefined)
    println(s"""{"metric":"total_compact","value":$total,"unit":"sec","reps":2,"agg":"min","canary":$canary,"n_canary":$nCanary,"canary_complete":$canaryComplete,"normalized_total":$normalized,$factorStats,"n_queries":${results.size},"n_err":$nErr,"warm_failures":$warmFailures,"sf":"$sfDir"}""")
    // Third compact line: the ~20 slowest queries. The full per-query map
    // above is what regression tracking wants, but it has been truncated by
    // the driver's output tail cap every round; the slow tail is the part
    // that matters for perf triage, so give it its own always-survives line.
    val slowest = results.collect { case (k, v, None) => (k, v) }
      .sortBy(-_._2).take(20)
      .map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    println(s"""{"metric":"slowest","n":20,"unit":"sec","reps":2,"agg":"min","queries":$slowest,"sf":"$sfDir"}""")
    // Fourth line (round 16, additions-only): the shared-artifact build
    // ledger. Session-shared family builds (ANN indexes, graph artifacts)
    // are paid once by the first consumer's rep 1 and then best-of-2 `min`
    // drops them from every per-query figure and the total — the round-15
    // verdict's accounting gap. SessionCache records each winning build's
    // wall-clock; "sec" (not "value": parsers of this output read "value"
    // as the sweep total) sums the builds keyed on the TIMED data dir (the
    // warm pass at sf0.001 builds its own keys, reported but not summed),
    // so a cold-session sweep cost reconstructs as total + build_sec.
    val buildLog = graft.operators.SessionCache.buildLog
    val timedBuilds = buildLog.filter(_._1.contains(sfDir))
    val buildsJson = buildLog.toSeq.sortBy(-_._2).map { case (k, v) =>
      "\"" + jsonEscape(k) + "\":" + f4(v)
    }.mkString("{", ",", "}")
    println(s"""{"metric":"build_sec","sec":${f4(timedBuilds.values.sum)},"unit":"sec","n_builds_timed_dir":${timedBuilds.size},"n_builds_total":${buildLog.size},"note":"first-payer shared-artifact builds excluded from best-of-2 minima; cold-session sweep ~= total + sec","builds":$buildsJson,"sf":"$sfDir"}""")
    // And persist the complete per-query JSON as a file so round-over-round
    // deltas never depend on how much of stdout the driver kept. The forked
    // JVM's cwd is the sbt base directory, so the default lands in-repo and
    // is committed each round.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (fullLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"bench: could not write $outPath: $e")
    }
    spark.stop()
  }
}
