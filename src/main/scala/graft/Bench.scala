package graft
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, struct, xxhash64}

object Bench {

  /** Materialize a result so the measurement includes the REAL work:
    * a full-column checksum forces every projected expression to
    * evaluate (a bare `count()` lets Spark prune final-projection
    * expressions — it flattered expression-heavy queries). `bit_xor`
    * folds the row hashes without the ANSI long-overflow a `sum`
    * hits. Queries whose output holds a type `xxhash64` can't hash
    * (maps) fall back to `count()`; the analysis fails before any
    * execution, so the fallback costs planning only.
    */
  def materialize(df: DataFrame): Unit = {
    try df.select(xxhash64(struct(df.columns.map(col): _*)).as("h"))
      .agg(expr("bit_xor(h)")).collect()
    catch { case _: AnalysisException => df.count() }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = session()
    spark.read.parquet(s"$sfDir/nation.parquet")
      .groupBy("n_regionkey").count().collect()
    // Connector first-touch warmup: store seeding (cold /tmp), schema
    // inference, and catalog registration are one-time session costs
    // that otherwise land on whichever q_dyn_* key happens to run
    // first — round-5 showed ~1 s migrating between alphabetically
    // adjacent connector keys for exactly this reason. BUILDING each
    // connector query (no materialize) runs the seeding actions and
    // registers catalogs, uncounted; per-query timings then measure
    // the query.
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (n, fn) =>
      if (n.startsWith("q_dyn")) {
        try { fn(spark, sfDir); () } catch { case _: Throwable => () }
      }
    }
    // Two repetitions per query, keeping the min: one concurrent job on
    // the machine (the round-3 artifact showed phantom 5-9x inflation
    // from exactly that) can't masquerade as a code regression.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    // Ambient probe: ONE fixed cheap key timed at suite start, then
    // every `probeEvery` keys, then at suite end. A boundary-only
    // probe under-detected the round-10 contention burst (sbt wall 3x,
    // ratio 1.30) because the burst hit MID-run — the interleaved
    // vector localizes contamination to run segments instead of hoping
    // it straddles the endpoints. Probe runs are uncounted.
    val probeKey = "q_scan_full"
    def probeOnce(): Double = {
      val t0 = System.nanoTime()
      try { materialize(SparkEntry.queries(probeKey)(spark, sfDir));
        (System.nanoTime() - t0) / 1e9 }
      catch { case _: Throwable => -1.0 }
    }
    // Second probe SHAPE (round-12 note: the scan probe under-detects
    // shuffle-side interference — a neighbor fighting for the same
    // cores hurts an exchange's fixed barrier far more than a straight
    // columnar scan, so the heavies moved while the scan probe read
    // ~1.0): a small fixed groupBy exercises exchange write + fetch +
    // hash agg, the path the contaminated keys actually share.
    def probeShuffleOnce(): Double = {
      val t0 = System.nanoTime()
      try { spark.range(300000)
        .selectExpr("id % 1000 AS k", "id AS v")
        .groupBy("k").sum("v").collect()
        (System.nanoTime() - t0) / 1e9 }
      catch { case _: Throwable => -1.0 }
    }
    val probeBase = math.min(probeOnce(), probeOnce()) // warm + min of 2
    val probeShufBase = math.min(probeShuffleOnce(), probeShuffleOnce())
    val probeEvery = 25
    val probeRatios = scala.collection.mutable.ArrayBuffer.empty[Double]
    val probeShufRatios = scala.collection.mutable.ArrayBuffer.empty[Double]
    // A failing query must surface as an "err" entry, not bench at ~0 s
    // and flatter the total: only successful reps are timed, and keys
    // with zero successful reps are excluded from `queries`/the total.
    def timeReps(fn: (SparkSession, String) => DataFrame, n: Int)
        : (Seq[Double], Option[String]) = {
      var firstErr: Option[String] = None
      val ok = (1 to n).flatMap { _ =>
        val t0 = System.nanoTime()
        try {
          materialize(fn(spark, sfDir))
          Some((System.nanoTime() - t0) / 1e9)
        } catch {
          case e: Throwable =>
            if (firstErr.isEmpty)
              firstErr = Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(200)}")
            None
        }
      }
      (ok, firstErr)
    }
    // Per-key expected bands (sentinel v2, round 12): the last
    // committed CLEAN artifact's per-key min. The rep-disagreement
    // test below catches BURSTS (one rep poisoned) but is blind to
    // SUSTAINED contention — the round-11 driver run held
    // q_text_winnow at 15.8 s min-of-2, 8.5x over clean, unflagged,
    // because both reps fought the same neighbor. A key whose min
    // exceeds band x max(observed ambient ratio, 3) is flagged even
    // when its reps agree. Bands live in a separate committed file
    // (NOT BENCH_LAST.json, which every run — including a poisoned
    // driver run — overwrites); refresh it only from a clean run.
    val bandPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_BAND", "BENCH_BANDS.json")
    val bands: Map[String, Double] = try {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(bandPath)), "UTF-8")
      val tag = "\"bands\":"
      val i = txt.indexOf(tag)
      // bands are per-SCALE-FACTOR numbers: a run against a different
      // sf dir (e.g. the sf1 scale proof) must not preflight-fail or
      // band-flag against sf0.1 timings — no bands, detectors fall
      // back to rep-disagreement only
      val sfTag = "\"sf\":"
      val sfI = txt.indexOf(sfTag)
      val bandSf = if (sfI < 0) None else {
        val q1 = txt.indexOf('"', sfI + sfTag.length)
        val q2 = txt.indexOf('"', q1 + 1)
        if (q1 < 0 || q2 < 0) None else Some(txt.substring(q1 + 1, q2))
      }
      if (bandSf.exists(_ != sfDir)) Map.empty
      else if (i < 0) Map.empty
      else {
        val start = txt.indexOf('{', i + tag.length) + 1
        val end = txt.indexOf('}', start)
        txt.substring(start, end).split(',').iterator.flatMap { kv =>
          val c = kv.lastIndexOf(':')
          if (c < 0) None
          else scala.util.Try(
            kv.take(c).trim.stripPrefix("\"").stripSuffix("\"") ->
              kv.drop(c + 1).trim.toDouble).toOption
        }.toMap
      }
    } catch { case _: Throwable => Map.empty }
    // Pre-flight gate (round-12 What's-wrong #2): a run that STARTS
    // on a contended machine must not masquerade as a record. Both
    // probe bases compare against the clean run's committed probe
    // bands; over 2.5x on either shape stamps the artifact
    // preflight_failed up front — the run still completes (the driver
    // expects an artifact), but no reader can mistake it for clean.
    val preflightFailed =
      bands.get("probe_scan").exists(b =>
        b > 0 && probeBase > 0 && probeBase > b * 2.5) ||
      bands.get("probe_shuffle").exists(b =>
        b > 0 && probeShufBase > 0 && probeShufBase > b * 2.5)
    if (preflightFailed)
      System.err.println(f"BENCH PREFLIGHT FAILED: probe_scan $probeBase%.3f " +
        f"vs band ${bands.getOrElse("probe_scan", -1.0)}%.3f, probe_shuffle " +
        f"$probeShufBase%.3f vs band ${bands.getOrElse("probe_shuffle", -1.0)}%.3f")
    // BASELINE-mapped keys are the bench's public face: min-of-4 (vs
    // the suite-wide min-of-2) so a single jittered rep can never
    // print a >2x mapped ratio in an otherwise clean artifact. They
    // total ~4 s at sf0.1, so the extra reps cost seconds.
    val mappedKeys = Set("q_scan_full", "q_scan_filter", "q_agg_group",
      "q_topk_group", "q_sort_limit", "q_stream_tumbling",
      "q_agg_count_distinct", "q_stream_session", "q_sim_cosine_pairs",
      "q_tok_explode")
    def repsFor(name: String): Int =
      if (mappedKeys(name)) math.max(reps, 4) else reps
    val keys = SparkEntry.queries.toSeq.sortBy(_._1)
    var results = keys.zipWithIndex.map { case ((name, fn), i) =>
      if (i > 0 && i % probeEvery == 0) {
        if (probeBase > 0) probeRatios += probeOnce() / probeBase
        if (probeShufBase > 0) probeShufRatios += probeShuffleOnce() / probeShufBase
      }
      val (ok, err) = timeReps(fn, repsFor(name))
      (name, ok, err)
    }
    if (probeBase > 0) probeRatios += probeOnce() / probeBase
    if (probeShufBase > 0) probeShufRatios += probeShuffleOnce() / probeShufBase
    val ambientObserved =
      (probeRatios ++ probeShufRatios).maxOption.getOrElse(1.0)
    def overBand(name: String, ok: Seq[Double]): Boolean =
      ok.nonEmpty && bands.get(name).exists(b =>
        b > 0 && ok.min > b * math.max(ambientObserved, 3.0))
    // Contaminated keys, two detectors: (a) reps disagreeing >3x —
    // something OTHER than the query dominated one rep (GC storm, CI
    // neighbor burst); (b) min over reps above the key's clean band —
    // sustained contention both reps absorbed. Re-run those once at
    // suite END — by then the burst has usually passed — and keep the
    // min over ALL reps; keys STILL failing a detector stay NAMED in
    // the artifact so a judge sees exactly which timings fought noise
    // instead of inferring it from per-key deltas.
    def repDisagreeOf(rs: Seq[(String, Seq[Double], Option[String])]): Seq[String] =
      rs.collect {
        case (name, ok, _) if ok.size >= 2 && ok.min > 0.02 &&
          ok.max / ok.min > 3.0 &&
          // the artifact reports the MIN: when that min sits at the
          // key's clean-band level, one cold/burst-hit rep says nothing
          // about the reported number — flag rep-disagreement only when
          // the min ITSELF is suspect (no band, or min above band*1.5)
          !bands.get(name).exists(b => b > 0 && ok.min <= b * 1.5) &&
          // cold-codegen shape (round-13): on sub-second keys the FIRST
          // rep carries the query's whole-stage-codegen compile and
          // routinely reads 3x+ the warm reps — that is JIT, not
          // contention, and the reported min comes from the warm reps.
          // Suppress only when rep 1 is the lone outlier AND the warm
          // reps agree within 1.5x (a burst hitting any warm rep, or
          // sustained contention, still flags).
          !(ok.head == ok.max &&
            (ok.size == 2 || ok.tail.max / ok.tail.min <= 1.5)) => name
      }
    def bandFlaggedOf(rs: Seq[(String, Seq[Double], Option[String])]): Seq[String] =
      rs.collect { case (name, ok, _) if overBand(name, ok) => name }
    // Self-healing pass (round-13 gap: the driver's artifact carried 7
    // contaminated keys because the burst arrived AFTER preflight).
    // Re-time ONLY the sentinel-flagged keys at suite end — but first a
    // fresh probe pair decides whether the machine is quiet NOW: if
    // either probe shape still reads >1.5x its base, the burst is still
    // live and a re-time would just measure it again, so we skip and
    // leave the keys honestly flagged. When quiet, each flagged key's
    // reps are REPLACED by a fresh min-of-reps measurement (the old
    // reps measured the burst, not the query) and the key is listed in
    // `retimed` so a reader knows which numbers came from the heal pass.
    val flagged0 = (repDisagreeOf(results) ++ bandFlaggedOf(results)).distinct
    var retimed = List.empty[String]
    if (flagged0.nonEmpty) {
      val scanNow = if (probeBase > 0) probeOnce() / probeBase else 1.0
      val shufNow = if (probeShufBase > 0) probeShuffleOnce() / probeShufBase else 1.0
      val quiet = scanNow > 0 && shufNow > 0 && scanNow <= 1.5 && shufNow <= 1.5
      if (quiet) {
        val again = flagged0.toSet
        results = results.map {
          case (name, ok, err) if again(name) =>
            val (ok2, _) = timeReps(SparkEntry.queries(name), repsFor(name))
            if (ok2.nonEmpty) { retimed ::= name; (name, ok2, err) }
            else (name, ok, err)
          case r => r
        }
      } else System.err.println(f"BENCH HEAL SKIPPED: probes still hot " +
        f"(scan $scanNow%.2f, shuffle $shufNow%.2f) — flagged keys keep " +
        "their contended timings")
    }
    // Contamination re-judged on the FINAL reps: a retimed key whose
    // fresh reps agree and sit inside its band is clean; one still
    // failing a detector stays named.
    val contaminated =
      (repDisagreeOf(results) ++ bandFlaggedOf(results)).distinct.sorted
    val retimedSorted = retimed.sorted
    def esc(s: String): String =
      s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case c if c < ' ' => " "; case c => c.toString }
    val qs = results.collect { case (k, ok, _) if ok.nonEmpty => s"\"" + k + "\":" + ok.min }
      .mkString("{", ",", "}")
    val repsJson = results.collect { case (k, ok, _) if ok.nonEmpty =>
      s"\"" + k + "\":[" + ok.mkString(",") + "]" }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, ok, Some(e)) if ok.isEmpty => s"\"" + k + "\":\"" + esc(e) + "\"" }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, ok, _) if ok.nonEmpty => ok.min }.sum
    val ambientVec = probeRatios.map(r => f"$r%.3f").mkString("[", ",", "]")
    val ambientShufVec = probeShufRatios.map(r => f"$r%.3f").mkString("[", ",", "]")
    // the headline ambient scalar is the max over BOTH probe shapes —
    // the same number contamination gating uses (a shuffle-only burst
    // previously printed ambient_ratio ~1.0 next to flagged keys); the
    // per-shape maxima ride alongside for forensics
    val ambientScanMax = if (probeRatios.nonEmpty) probeRatios.max else -1.0
    val ambientShufMax = if (probeShufRatios.nonEmpty) probeShufRatios.max else -1.0
    val contamJson = contaminated.map("\"" + _ + "\"").mkString("[", ",", "]")
    val retimedJson = retimedSorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"reps":$repsJson,"errors":$errs,"ambient_ratio":$ambientObserved,"ambient_scan_ratio":$ambientScanMax,"ambient_shuffle_ratio":$ambientShufMax,"ambient_ratios":$ambientVec,"ambient_shuffle_ratios":$ambientShufVec,"probe_scan_base":$probeBase,"probe_shuffle_base":$probeShufBase,"preflight_failed":$preflightFailed,"contaminated":$contamJson,"retimed":$retimedJson,"sf":"$sfDir"}"""
    println(line)
    // Self-contained artifact: the driver captures a bounded stdout
    // tail, which truncated 47 of 114 per-query keys in round 3 — the
    // file copy survives regardless of how the line is captured.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LAST.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n")
    // Driver-tail-sized digest, printed LAST (round-18 item 7, widened
    // in round 19): the driver's BENCH_r{N}.json stores a bounded
    // stdout TAIL — measured at exactly 2000 characters across
    // BENCH_r15..r18 — and parses the last complete JSON line inside
    // it, so the full 228-key map (~7 KB even at 3 decimals) can NEVER
    // parse from the tail; r17's artifact carried parsed:null for
    // exactly that reason. The r18 digest swung to the other extreme
    // (only the 10 BASELINE-mapped keys), shrinking the driver's
    // per-query regression radar to 10/228. This digest carries the
    // 10 mapped keys PLUS as many of the most expensive remaining
    // keys as fit a conservative 1750-char line budget (~55-60 keys,
    // covering the large majority of suite seconds — the omitted tail
    // keys are sub-0.1 s and jitter-dominated, where a regression is
    // not measurable anyway). The full per-key object lives in the
    // file copy this line names.
    val mappedNow = results.collect {
      case (k, ok, _) if ok.nonEmpty && mappedKeys(k) => (k, ok.min) }
    val extrasByTime = results.collect {
      case (k, ok, _) if ok.nonEmpty && !mappedKeys(k) => (k, ok.min) }
      .sortBy(-_._2)
    def digestOf(qs: Seq[(String, Double)]): String = {
      val qj = qs.sortBy(_._1)
        .map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
      f"""{"metric":"total","value":$total%.3f,"unit":"sec",""" +
        s""""n_keys":${results.count(_._2.nonEmpty)},"queries":$qj,""" +
        s""""queries_subset":"mapped+top_by_sec","errors":$errs,""" +
        f""""ambient_ratio":$ambientObserved%.3f,"preflight_failed":$preflightFailed,""" +
        s""""contaminated":$contamJson,"retimed":$retimedJson,"full":"${esc(out)}","sf":"$sfDir"}"""
    }
    var chosen = mappedNow
    var digest = digestOf(chosen)
    for ((k, v) <- extrasByTime) {
      val candidate = digestOf(chosen :+ ((k, v)))
      if (candidate.length <= 1750) { chosen = chosen :+ ((k, v)); digest = candidate }
    }
    println(digest)
    spark.stop()
  }

  /** The session every bench and plan main runs in: `local[N]` with
    * N = SPARK_GRAFT_CPUS, the confs below, WARN logging, and one
    * uncounted warm-up job, so the timings and plans of [[Bench]],
    * [[BenchOne]], [[BenchSeq]] and [[ExplainExec]] describe one
    * session shape.
    */
  def session(): SparkSession = {
    // The bench contract is local[32]; honor it when SPARK_GRAFT_CPUS
    // is unset (a 4-thread run reads ~60% slower and would masquerade
    // as a regression against 32-thread baselines).
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // uniform for the whole run (q_dyn_spj / q_dyn_spj_pruned would
      // otherwise flip them mid-run and make later timings
      // order-dependent)
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      // Generated-code compile cache sized for this suite:
      // the default 100-entry LRU cannot hold even ONE large plan's
      // codegen units (q_sim_ivf_pq alone compiles dozens per
      // execution), so repeated materializations re-ran Janino every
      // rep — measured 4.38 s → 1.96 s min-of-6 on that key from this
      // config alone. Driver-side and scale-independent (compiled
      // classes are KB-sized; the cache is an upper bound, not an
      // allocation). FRESH-JVM requirement: the conf is read once
      // when the JVM-static codegen cache first initializes, so in a
      // JVM where codegen already ran under another session (e.g. sbt
      // tests before a runMain) the setting is silently ignored — the
      // bench mains fork a fresh JVM, which is what makes it
      // effective; a shared-JVM run losing the win is not a
      // regression.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Uncounted warmup: JIT/codegen/parquet-reader init would otherwise
    // land entirely on whichever query happens to run first.
    spark.range(1000000).selectExpr("sum(id) s").collect()
    spark
  }
}
