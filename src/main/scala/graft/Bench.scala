package graft

/** Benchmark main: runs the headline query set on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric":…, "queries":{name:sec}}.
  *
  * Each query is forced through a noop sink (full computation of every
  * output column — `.count()` would let Catalyst prune the project).
  *
  * The headline set covers every operator family at its *scale path*:
  * brute-force ground-truth variants (q_dedup_jaccard_exact,
  * q_dedup_simhash_pairs) are correctness anchors at sf0.01, intentionally
  * O(n²), and excluded here — at 100 TB you only ever run the LSH paths.
  */
object Bench {
  /** Operator-family coverage, one-or-two queries each, scale paths only. */
  val headline: Seq[String] = Seq(
    "q_agg_pricing",           // scan+filter+groupBy (TPC-H Q1 shape)
    "q_agg_unwindowed",        // high-cardinality groupBy
    "q_join_revenue_by_nation",// multi-join w/ broadcast dims
    "q_join_profit_by_nation", // 6-table TPC-H Q9 shape
    "q_filter_project",        // pushdown + pruning
    "q_window_tumble", "q_window_hop", "q_window_session",
    "q_interval_join",         // self interval join
    "q_topk",                  // custom Aggregator
    "q_scalar_math",           // codegen'd expression chain
    "q_json_ops",              // JSON access
    "q_text_stats",            // HOF text statistics
    "q_text_fingerprint",      // rolling-hash fingerprint
    "q_pipeline_quality_dedup",// composed corpus-prep pipeline e2e
    "q_dedup_exact",           // hash groupBy dedup
    "q_dedup_hot_ngrams",      // corpus-wide inverted index (word-count shape)
    "q_minhash_signatures",    // MinHash map-side primitive
    "q_dedup_minhash_lsh",     // full LSH near-dup pipeline (md5, verifiable)
    "q_dedup_clusters",        // near-dup connected components + canonical
    "q_dedup_incremental",     // new-batch-vs-corpus cross dedup (r8)
    "q_curation_token_budget", // per-lang quality-ordered token budget (window)
    "q_curation_token_budget_approx", // histogram-cutoff form (the 100 TB path)
    "q_curation_shard_scalable",      // sub-bucketed shard ranks, no global sort
    "q_curation_topk_group_scalable", // bounded-heap top-k, no per-lang sort
    "q_curation_dsir_scalable",       // DSIR w/ bounded-heap Gumbel resample
    "q_dedup_simhash_banded",  // 64-bit SimHash bucketed band join (hot-guarded)
    "q_dedup_minhash_lsh_fast",// same pipeline on xxhash64 (production path)
    "q_dedup_simhash",         // SimHash signatures
    "q_lsh_signatures",        // hyperplane LSH signatures
    "q_ann_bruteforce",        // cosine top-k baseline
    "q_ann_lsh_bucketed",      // bucketed ANN scale path
    "q_ann_ivf",               // IVF inverted-list ANN scale path
    "q_ann_ivf_train",         // 2 Lloyd rounds of IVF centroid training
    "q_ann_pq_train",          // per-subspace PQ codebook Lloyd rounds
    "q_ann_pq",                // PQ/ADC shortlist + exact re-rank
    "q_ann_ivfpq",             // IVF lists + residual-PQ codes (FAISS shape)
    "q_curation_dsir",         // DSIR importance resampling (hashed n-grams)
    "q_join_asof_bucketed",    // point-in-time join, (key, bucket) sort groups
    "q_quality_perplexity",    // char-trigram LM scoring (broadcast LM)
    "q_quality_nb_score",      // NB train (1 shuffle) + broadcast scoring
    "q_corpus_rollup",         // multi-level stats, one shuffle
    "q_cdc_apply",             // CDC envelope decode + max_by materialization
    "q_events_funnel",         // chained per-step min aggs (no per-user sort)
    "q_events_retention",      // cohort matrix: 3 key-partitioned shuffles
    "q_dedup_span_removal",    // hot-gram join + map-side indexed cut
    // q_embed_neardup is NOT here: O(n²) pairwise cosine is a correctness
    // anchor (like q_dedup_jaccard_exact); its scale path is q_ann_lsh_bucketed
    "q_dedup_paragraph",       // sub-document dedup (hash window + regroup)
    "q_embed_quantize",        // int8 vector codec (pure map-side)
    "q_multimodal_features",   // mapPartitions feature extraction
    "q_multimodal_video",      // GIF demux over STORED bytes (decode-only, r9)
    "q_multimodal_video_encode", // GIF synthesis + LZW encode (the other half)
    "q_sql_agg_having",        // dialect frontend end-to-end
    "q_sql_interval_join",
    "q_sql_join_cross"         // keyless WITHIN join, banded (r14 sf1 find)
  )

  /** The three calibration probe rows — excluded from query totals. */
  private val probeNames = Set("calib", "calib_par", "calib_io")

  /** Parallel CPU probe (r14 VERDICT #2): N raw JVM threads, each running a
    * FIXED per-thread mix-hash loop (150M mul-xor rounds ≈ 0.28 s quiet).
    * Per-thread work is constant, so on a quiet box with ≥N free cores the
    * wall time is flat regardless of N — under CPU oversubscription (other
    * processes stealing cores from the 32-way suite) it inflates by the
    * steal factor. This is the dimension the single-stage Spark `calib`
    * probe missed on the r14 driver box: that probe passed at 1.04× anchor
    * while the full suite ran 1.56× slow. */
  private def parProbe(nThreads: Int): Double = {
    val sink = new java.util.concurrent.atomic.AtomicLong()
    val ts = (0 until nThreads).map { t =>
      new Thread(() => {
        var x = 0x9E3779B97F4A7C15L + t
        var i = 0L
        while (i < 150000000L) { x = (x ^ (x >>> 33)) * 0xFF51AFD7ED558CCDL; i += 1 }
        sink.addAndGet(x) // publish so the loop can't be dead-code-eliminated
      })
    }
    val t0 = System.nanoTime()
    ts.foreach(_.start()); ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** Disk probe (r14 VERDICT #2): 16 × 1 MiB files written to the JVM tmp
    * dir, each fsync'd (`FileChannel.force`) — ≈ 0.12 s quiet. Catches the
    * busy-disk contention that hit the r14 driver's disk-dependent queries
    * (video_encode/clusters/cdc) 3-5× while both CPU probes stayed quiet:
    * shuffle spill, streaming checkpoints, and localCheckpoint all ride the
    * same device as this probe's fsyncs. Files are deleted afterwards. */
  private def ioProbe(): Double = {
    val dir = java.nio.file.Files.createTempDirectory("graft-calib-io")
    val block = new Array[Byte](262144)
    var i = 0
    while (i < block.length) { block(i) = (i * 31).toByte; i += 1 }
    val t0 = System.nanoTime()
    var f = 0
    while (f < 16) {
      val p = dir.resolve(s"probe$f")
      val ch = java.nio.channels.FileChannel.open(p,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      var w = 0
      while (w < 4) { ch.write(java.nio.ByteBuffer.wrap(block)); w += 1 }
      ch.force(true); ch.close()
      f += 1
    }
    val sec = (System.nanoTime() - t0) / 1e9
    f = 0
    while (f < 16) {
      java.nio.file.Files.deleteIfExists(dir.resolve(s"probe$f")); f += 1
    }
    java.nio.file.Files.deleteIfExists(dir)
    sec
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Sessions.cpus(32)
    val spark = Sessions.local(cpus)
    val qs = SparkEntry.queries ++ SparkEntry.benchOnly
    // warmup: touch the scan paths + JIT the write pipeline, untimed
    try qs("q_filter_project")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => }
    // Materialize the persisted video-media fixture OUTSIDE the timed
    // region: constructing the decode query builds it if absent, so the
    // first timed pass of q_multimodal_video would otherwise pay the full
    // GIF synthesis + LZW encode + parquet write it exists to exclude.
    try qs.get("q_multimodal_video").foreach(_(spark, sfDir))
    catch { case _: Throwable => }
    // Interleaved min-of-3: run the FULL headline set end-to-end 3 times
    // and take the per-query MIN across passes. Back-to-back repeats of one
    // query share a single hypervisor-contention window, so their median is
    // still polluted (three rounds of artifacts misreported a 30 s engine
    // as 52-84 s). Interleaving decorrelates the passes in time, and min is
    // the noise-robust statistic for wall time (contention only ever adds).
    // All samples are emitted so variance is visible in the artifact.
    val passes = 3
    // SPARK_GRAFT_BENCH_QUERIES (r13, the sf1 tier's knob): comma list
    // restricting the headline set — BENCH_SF1_r13 runs the ~20 most
    // expensive batch queries at 10× rows without paying for the full
    // set × 3 passes. "nostream" skips the streaming replay too (its sf1
    // drain is a STREAMPROBE concern, not a bench row).
    val only = sys.env.get("SPARK_GRAFT_BENCH_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val noStream = only.exists(_.contains("nostream"))
    val batchNames = headline.filter(qs.contains)
      .filter(n => only.forall(_.contains(n)))

    /** One full min-of-3-interleaved measurement: name → all samples. */
    def measureOnce(): scala.collection.mutable.LinkedHashMap[String, Vector[Double]] = {
      val samples =
        scala.collection.mutable.LinkedHashMap.empty[String, Vector[Double]]
      def record(name: String, sec: Double): Unit =
        samples(name) = samples.getOrElse(name, Vector.empty) :+ sec
      (1 to passes).foreach { _ =>
        // pure-CPU calibration anchor (VERDICT r7 #5): fixed deterministic
        // work — 200M xxhash64 + xor fold — no IO, independent of the SF
        // dir, so cross-round artifacts can be normalized for environment
        // drift (NOTES_r7 measured ±7-13% same-day variance on identical
        // trees). Runs once per pass; reported top-level as `calib`,
        // excluded from `value` so totals stay round-comparable.
        val c0 = System.nanoTime()
        try {
          spark.range(0, 200000000L, 1, cpus)
            .agg(org.apache.spark.sql.functions.expr(
              "bit_xor(xxhash64(id))").as("x"))
            .write.format("noop").mode("overwrite").save()
          record("calib", (System.nanoTime() - c0) / 1e9)
        } catch {
          case e: Throwable => System.err.println(s"[bench] calib: ${e.getMessage}")
        }
        // the two non-Spark contention dimensions (r14 VERDICT #2): raw-
        // thread CPU oversubscription and tmp-dir fsync latency — the r14
        // driver run passed the CPU calib while the suite ran 1.56× slow
        // on what turned out to be exactly these two.
        try record("calib_par", parProbe(cpus))
        catch { case e: Throwable => System.err.println(s"[bench] calib_par: ${e.getMessage}") }
        try record("calib_io", ioProbe())
        catch { case e: Throwable => System.err.println(s"[bench] calib_io: ${e.getMessage}") }
        batchNames.foreach { name =>
          val t0 = System.nanoTime()
          // a FAILED run must not record: its near-zero elapsed time would
          // win the min and understate the query (median tolerated this;
          // min is maximally sensitive to it)
          try {
            qs(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
            record(name, (System.nanoTime() - t0) / 1e9)
          } catch {
            case e: Throwable => System.err.println(s"[bench] $name: ${e.getMessage}")
          } finally {
            spark.catalog.clearCache() // per-query persists are intra-query only
            // put back any AQE sizing a CDC query set (session hygiene —
            // the next query must see the session defaults)
            graft.operators.Cdc.restoreShuffleSizing(spark)
          }
        }
        // streaming replay (the reference's own bench shape: push records
        // through a live topology — hstream-diffflow/bench/throughout-*.hs)
        if (!noStream)
          StreamBench.run(spark, sfDir).foreach { case (k, v) => record(k, v) }
      }
      samples
    }

    // Contention gate (r11 VERDICT #3b): the calib anchor is the
    // quiet-machine value of the fixed CPU-only probe, committed across
    // rounds (r10 driver + judge re-runs both read 0.248). A run whose
    // calib exceeds it by >15% ran on a contended box — its query numbers
    // are uniformly inflated and NOT cross-round comparable. The flag
    // rides the artifact so a contended run self-identifies instead of
    // shadowing quiet evidence.
    // Anchor provenance (r13 ADVICE): the 0.248 default is the COMMITTED
    // quiet value of ONE reference box — the artifact says which anchor it
    // used ("env" = caller-supplied for this host, "default" = the
    // committed cross-box constant) so consumers can discount a
    // default-anchored flag.
    val anchorEnv = sys.env.get("SPARK_GRAFT_CALIB_ANCHOR").map(_.toDouble)
    val calibAnchor = anchorEnv.getOrElse(0.248)
    val anchorSrc = if (anchorEnv.isDefined) "env" else "default"
    // Multi-dimensional gate (r14 VERDICT #2): the r14 driver run passed
    // the CPU band at 1.04× anchor while the whole suite ran 1.56× slow —
    // the contention was CPU oversubscription + a busy disk, neither of
    // which a Spark-stage CPU probe samples. `contended` now trips when
    // ANY dimension exceeds its band. Bands are dimension-specific,
    // set from quiet-box dispersion of the MIN-of-3 statistic: the two CPU
    // probes are tight (1.15× / 1.35× — raw-thread start/steal jitter is
    // wider than a Spark stage's), fsync latency is noisy even quiet
    // (observed 0.11-0.17 s single-sample) so its band is 2.5× — far below
    // the 3-5× inflation the r14 disk contention produced, far above
    // quiet-box noise. Anchors are per-box overridable like the CPU one.
    val parAnchor =
      sys.env.get("SPARK_GRAFT_CALIB_PAR_ANCHOR").map(_.toDouble).getOrElse(0.28)
    val ioAnchor =
      sys.env.get("SPARK_GRAFT_CALIB_IO_ANCHOR").map(_.toDouble).getOrElse(0.12)
    def probeOf(s: scala.collection.Map[String, Vector[Double]], name: String): Double =
      s.get(name).map(_.min.max(1e-9)).getOrElse(0.0)
    def calibOf(s: scala.collection.Map[String, Vector[Double]]): Double =
      probeOf(s, "calib")
    def dimsOf(s: scala.collection.Map[String, Vector[Double]])
        : Seq[(String, Boolean)] = Seq(
      "cpu" -> (calibOf(s) > calibAnchor * 1.15),
      "par" -> (probeOf(s, "calib_par") > parAnchor * 1.35),
      "io" -> (probeOf(s, "calib_io") > ioAnchor * 2.5))
    def isContended(s: scala.collection.Map[String, Vector[Double]]): Boolean =
      dimsOf(s).exists(_._2)

    // Bounded contention auto-retry (r13 VERDICT #1b): when the first
    // attempt's calib exceeds the anchor band, the box was busy — sleep a
    // cooldown and re-measure ONCE, then report whichever attempt ran
    // quieter. Both attempts' summaries ride the artifact so the retry is
    // self-documenting, never silent. SPARK_GRAFT_BENCH_RETRY=0 disables
    // (the sf1 tier and CI smoke runs don't want the extra minutes).
    val retryEnabled = sys.env.getOrElse("SPARK_GRAFT_BENCH_RETRY", "1") != "0"
    val attempts = scala.collection.mutable.ArrayBuffer(measureOnce())
    if (retryEnabled && isContended(attempts.head)) {
      val dims = dimsOf(attempts.head).filter(_._2).map(_._1).mkString(",")
      System.err.println(f"[bench] contended dims [$dims] (calib " +
        f"${calibOf(attempts.head)}%.3f par ${probeOf(attempts.head, "calib_par")}%.3f " +
        f"io ${probeOf(attempts.head, "calib_io")}%.3f) — cooling down 60s, retrying once")
      Thread.sleep(60000)
      attempts += measureOnce()
    }
    def totalOf(s: scala.collection.Map[String, Vector[Double]]): Double =
      s.filterNot(kv => probeNames(kv._1)).values.map(_.min).sum
    // prefer the attempt with the fewest tripped dimensions, tiebreak on
    // the smaller measured total (quieter run)
    val usedIdx = attempts.zipWithIndex.minBy { case (s, _) =>
      (dimsOf(s).count(_._2), totalOf(s)) }._2
    val samples = attempts(usedIdx)

    val all = samples.toSeq.map { case (k, vs) => (k, vs.min, vs) }
    val calibMin = calibOf(samples)
    val parMin = probeOf(samples, "calib_par")
    val ioMin = probeOf(samples, "calib_io")
    val queryRows = all.filterNot(r => probeNames(r._1))
    val qjson = queryRows.map { case (k, v, _) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val sjson = all.map { case (k, _, vs) =>
      "\"" + k + "\":" + vs.map(v => f"$v%.3f").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val total = queryRows.map(_._2).sum
    val contended = isContended(samples)
    // Per-query dispersion (r12 VERDICT #4a): the pass-level calib gate
    // misses a transient that straddles one region of all three
    // interleaved passes. max/min of a query's samples self-identifies
    // exactly that: a clean query's spread sits near 1; a one-pass
    // transient shows >~2.
    val dispersed = samples.toSeq
      .filter { case (k, vs) => !probeNames(k) && vs.nonEmpty && vs.min > 0 }
      .map { case (k, vs) => k -> vs.max / vs.min }
      .filter(_._2 > 2.0)
    val djson = dispersed.map { case (k, v) => "\"" + k + "\":" + f"$v%.2f" }
      .mkString("{", ",", "}")
    // vs_baseline (r13 VERDICT #7): measured/committed per query against
    // the consolidated Baseline map (same numbers as BASELINE.md's table),
    // so the 2× acceptance gate is computable from the artifact alone.
    val baselined = queryRows.flatMap { case (k, v, _) =>
      Baseline.committed.get(k).map(b => (k, v, b)) }
    val vjson = baselined.map { case (k, v, b) =>
      "\"" + k + "\":" + f"${v / b}%.2f" }.mkString("{", ",", "}")
    val vsTotal =
      if (baselined.isEmpty) 0.0
      else baselined.map(_._2).sum / baselined.map(_._3).sum
    def dimsJson(s: scala.collection.Map[String, Vector[Double]]): String =
      dimsOf(s).map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val ajson = attempts.map { s =>
      f"""{"calib":${calibOf(s)}%.3f,"calib_par":${probeOf(s, "calib_par")}%.3f,"calib_io":${probeOf(s, "calib_io")}%.3f,"total":${totalOf(s)}%.3f,"contended":${isContended(s)},"contended_dims":${dimsJson(s)}}"""
    }.mkString("[", ",", "]")
    // The full record: everything a human or the judge wants. NOT the last
    // line — see the minimal-contract note below.
    val full =
      f"""{"metric":"bench_full","value":$total%.3f,"unit":"sec","stat":"min-of-$passes%d-interleaved","calib":$calibMin%.3f,"calib_anchor":$calibAnchor%.3f,"calib_anchor_src":"$anchorSrc","calib_par":$parMin%.3f,"calib_par_anchor":$parAnchor%.3f,"calib_io":$ioMin%.3f,"calib_io_anchor":$ioAnchor%.3f,"contended":$contended,"contended_dims":${dimsJson(samples)},"attempts":$ajson,"attempt_used":$usedIdx,"dispersed":$djson,"vs_baseline":$vjson,"queries":$qjson,"sf":"$sfDir"}"""
    // The MINIMAL machine-first contract (r13 VERDICT #1a): the driver
    // keeps only a ~2000-char tail of stdout and json-parses the FINAL
    // line. BENCH_r13.json came back `parsed: null` because the growing
    // per-query payloads pushed the final line past that window — so the
    // last line now carries NO per-query payload, only the fixed-size
    // totals/contention summary (~300 chars, can never outgrow the tail).
    // Per-query data lives on the earlier bench_full/bench_samples lines
    // and in the SPARK_GRAFT_BENCH_OUT file.
    val contract =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","stat":"min-of-$passes%d-interleaved","calib":$calibMin%.3f,"calib_anchor":$calibAnchor%.3f,"calib_anchor_src":"$anchorSrc","calib_par":$parMin%.3f,"calib_io":$ioMin%.3f,"contended":$contended,"contended_dims":${dimsJson(samples)},"retries":${attempts.size - 1}%d,"attempt_used":$usedIdx,"vs_baseline_total":$vsTotal%.2f,"detail":"bench_full","sf":"$sfDir"}"""
    println(s"""{"metric":"bench_samples","samples":$sjson}""")
    println(full)
    // Belt-and-braces against stdout truncation/shutdown failure (the r5
    // artifact lost its totals line to the tail window): the full result
    // also lands in a file the driver (or a human) can always read.
    // Artifact-hygiene contract (r11 VERDICT #3a): builder quiet-machine
    // runs set SPARK_GRAFT_BENCH_OUT=BENCH_LOCAL_r{N}.json (round-stamped,
    // committed); the env-less default BENCH_LOCAL.json is the scratch
    // path a driver/automation run may overwrite — it can no longer
    // shadow builder evidence, and a contended run flags itself above.
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")),
        (full + "\n" + s"""{"metric":"bench_samples","samples":$sjson}""" +
          "\n" + contract + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable => System.err.println(s"[bench] artifact write: $e") }
    spark.sparkContext.setLogLevel("ERROR")
    // spark.stop() can throw on executor shutdown races; the contract line
    // must be emitted regardless or the whole run's result is lost
    try spark.stop()
    catch { case e: Throwable => System.err.println(s"[bench] stop: $e") }
    finally {
      println(contract)
      System.out.flush()
    }
  }
}
