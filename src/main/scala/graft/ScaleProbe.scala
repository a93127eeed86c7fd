package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-up probe: runs the same plan shapes on 1× and 10× the sf0.1 data
  * (10× = union of ten scans — same bytes-per-row compute, no caching) and
  * prints the wall-time ratio. A plan that "would survive a 100× scale-up"
  * shows ~linear time in rows here (ratio ≈ 10 with fixed parallelism);
  * super-linear ratios flag accidental O(n²) stages or shuffle blowups.
  *
  * Run: `SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.ScaleProbe"`
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(Sessions.cpus(32))
    import spark.implicits._

    def x10(df: DataFrame): DataFrame = (1 to 10).map(_ => df).reduce(_ unionAll _)
    // by-name: shapes that run actions while BUILDING (the iterative CC
    // loop) must have their build time inside the clock too
    def time(plan: => DataFrame): Double = {
      val t0 = System.nanoTime()
      try {
        plan.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } finally spark.catalog.clearCache() // per-shape persists stay intra-probe
    }

    val lineitem = Tables.load(spark, sfDir, "lineitem")
    val docs = Tables.load(spark, sfDir, "documents")

    def aggShape(df: DataFrame) = df
      .filter($"l_shipdate" <= lit("2001-09-01").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(sum($"l_quantity").as("sq"), avg($"l_discount").as("ad"),
        count(lit(1)).as("c"))
    def minhashShape(df: DataFrame) = {
      import graft.functions.PipelineFunctions._
      df.withColumn("hs", shingles3(tokens($"text")))
        .select($"doc_id" +: (0 until 8).map(i => minhash($"hs", i).as(s"m$i")): _*)
    }
    def fingerprintShape(df: DataFrame) = {
      import graft.functions.PipelineFunctions._
      df.select($"doc_id", polyFingerprint(tokens($"text")).as("fp"))
    }
    // 10× corpus of DISTINCT docs (ids offset, text perturbed): a plain x10
    // union would give every doc 9 exact twins and the candidate set would
    // blow up quadratically from the DATA, hiding what the PLAN does
    def x10Distinct(df: DataFrame): DataFrame = (0 until 10).map(i =>
      df.withColumn("doc_id", $"doc_id" + lit(i * 10000000L))
        .withColumn("text", concat($"text", lit(s" probe$i")))).reduce(_ unionAll _)
    // the full banded LSH near-dup pipeline (q_dedup_minhash_lsh_fast's
    // plan shape): signatures -> band explode -> bucket self-join ->
    // candidate dedup -> Jaccard verify
    def lshShape(df: DataFrame) = {
      import graft.functions.PipelineFunctions._
      val sig = df
        .withColumn("wh", transform(tokens($"text"), w => pmod(xxhash64(w), lit(1L << 32))))
        .withColumn("hs", combineShingles3($"wh"))
        .select($"doc_id", $"hs",
          array((0 until 4).map(b =>
            concat_ws("_", lit(b), minhash($"hs", 2 * b), minhash($"hs", 2 * b + 1))): _*)
            .as("bands"))
        .persist()
      // degenerate-doc guard, same as DedupQueries: <3-word docs have empty
      // shingle sets and would all share the sentinel band key in all bands
      val banded = sig.filter(size($"hs") > 0)
        .select($"doc_id", explode($"bands").as("band"))
      val cand = banded.as("a").join(banded.as("b"),
          $"a.band" === $"b.band" && $"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2")).distinct()
      val hs = sig.select($"doc_id", $"hs")
      cand.join(hs.as("h1"), $"d1" === $"h1.doc_id")
        .join(hs.as("h2"), $"d2" === $"h2.doc_id")
        .select($"d1", $"d2", round(jaccard($"h1.hs", $"h2.hs"), 6).as("jac"))
        .filter($"jac" >= 0.5)
    }
    // ~10% near-empty (1-2 word) docs mixed in: without the size(hs) > 0
    // guard all of them share every band key (minhash sentinel) and the
    // candidate self-join goes quadratic in their count; with the guard the
    // probe must stay sublinear.
    def withShorts(df: DataFrame): DataFrame = df.unionAll(
      df.sample(0.1, seed = 42)
        .withColumn("doc_id", $"doc_id" + lit(900000000L))
        .withColumn("text",
          when($"doc_id" % 2 === 0, lit("ok")).otherwise(lit("tiny doc"))))

    // near-dup clustering over the LSH pairs: connected components must
    // scale with the PAIR set (proportional to dups), not the corpus —
    // iteration count is graph diameter, constant across scale
    def clusterShape(df: DataFrame) = {
      val edges = lshShape(df)
        .select(explode(array(
          struct($"d1".as("u"), $"d2".as("v")),
          struct($"d2".as("u"), $"d1".as("v")))).as("e"))
        .select($"e.u", $"e.v")
      graft.operators.Graph.connectedComponents(edges)
    }

    // vocabulary build (q_text_vocab's shape): map-side explode, one
    // partial-agg'd shuffle on token — the classic word-count; must stay
    // linear in corpus size (distinct-doc 10× so df grows too)
    def vocabShape(df: DataFrame) = {
      import graft.functions.PipelineFunctions._
      df.select($"doc_id", explode(tokens($"text")).as("tok"))
        .groupBy($"tok")
        .agg(count(lit(1)).as("tf"), count_distinct($"doc_id").as("df"))
        .filter($"tf" >= 10)
    }
    // 10× corpus where cross-copy texts share (almost) no shingles: each
    // copy rotates the alphabet, so nearly every word differs between
    // copies while TEXT LENGTH and within-copy near-dup structure are
    // preserved exactly — the corpus grows 10× at the SAME dup rate and
    // the SAME per-pair verify cost, which is what a real 10× crawl
    // looks like. (x10Distinct's weak suffix perturbation leaves
    // cross-copy docs as genuine near-dups: harmless when the verify
    // kernel is cheap Jaccard, but an O(len²) verify probe would then
    // measure the quadratic-in-copies dup structure of the DATA, not
    // the plan.)
    def x10Disjoint(df: DataFrame): DataFrame = {
      val alpha = "abcdefghijklmnopqrstuvwxyz"
      (0 until 10).map(i =>
        df.withColumn("doc_id", $"doc_id" + lit(i * 10000000L))
          .withColumn("text",
            translate($"text", alpha, alpha.drop(i) + alpha.take(i))))
        .reduce(_ unionAll _)
    }
    // LSH + edit-distance verify (q_dedup_lsh_editdist's shape): the
    // O(len²) Levenshtein kernel must run on candidate pairs only — time
    // scales with candidates (≈ dups), not the n² pair space
    def editdistShape(df: DataFrame) = {
      import graft.functions.PipelineFunctions._
      val sig = df
        .withColumn("wh", transform(tokens($"text"), w => pmod(xxhash64(w), lit(1L << 32))))
        .withColumn("hs", combineShingles3($"wh"))
        .select($"doc_id", $"text",
          array((0 until 4).map(b =>
            concat_ws("_", lit(b), minhash($"hs", 2 * b), minhash($"hs", 2 * b + 1))): _*)
            .as("bands"), size($"hs").as("nsh"))
        .persist()
      val banded = sig.filter($"nsh" > 0)
        .select($"doc_id", explode($"bands").as("band"))
      val cand = banded.as("a").join(banded.as("b"),
          $"a.band" === $"b.band" && $"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2")).distinct()
      val txt = sig.select($"doc_id", $"text")
      cand.join(txt.as("t1"), $"d1" === $"t1.doc_id")
        .join(txt.as("t2"), $"d2" === $"t2.doc_id")
        .select($"d1", $"d2", levenshtein($"t1.text", $"t2.text").as("dist"),
          greatest(length($"t1.text"), length($"t2.text")).as("mx"))
        .filter($"dist" * 5 <= $"mx")
        .select($"d1", $"d2", $"dist")
    }

    // paragraph-level dedup (q_dedup_paragraph's shape): first-occurrence
    // via partial-aggregated min per paragraph hash (map-side combined —
    // the boilerplate group that grows linearly with the corpus collapses
    // to one row per partition before the shuffle), join back (hot key;
    // AQE-splittable once firsts is materialized — SkewJoinSpec), regroup
    // by doc. Must stay ~linear.
    def paragraphShape(df: DataFrame) = {
      val bp = "this site uses cookies accept our policy to continue reading"
      val aug = when(pmod($"doc_id", lit(4L)) === 0,
        concat($"text", lit(" <p> "), lit(bp))).otherwise($"text")
      val paras = df.select($"doc_id", posexplode(split(aug, " <p> ")))
        .withColumnRenamed("pos", "idx").withColumnRenamed("col", "para")
        .withColumn("h", md5($"para"))
        .withColumn("okey", $"doc_id" * lit(1000000L) + $"idx")
      val firsts = paras.groupBy($"h").agg(min($"okey").as("first_okey"))
      paras.join(firsts, "h")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_paras"),
          sum(when($"okey" =!= $"first_okey", 1L).otherwise(0L)).as("n_removed"))
    }
    // approx token-budget (q_curation_token_budget_approx's shape): the
    // scale-safe curation form — histogram agg (|langs|·101-row shuffle),
    // tiny window, broadcast cutoff filter. No per-language total order;
    // must stay ~linear in corpus size.
    def tokenBudgetApproxShape(df: DataFrame) = {
      import graft.functions.PipelineFunctions._
      import org.apache.spark.sql.expressions.Window
      val w = tokens($"text")
      val d = df.select($"doc_id", $"lang",
        size(tokens($"text")).cast("long").as("n_tokens"),
        floor(round(qualityScore(w), 6) * 100).cast("long").as("qbin"))
      val hist = d.groupBy($"lang", $"qbin").agg(sum($"n_tokens").as("bin_tokens"))
      val desc = Window.partitionBy($"lang").orderBy($"qbin".desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cut = hist
        .withColumn("cum_above", sum($"bin_tokens").over(desc) - $"bin_tokens")
        .filter($"cum_above" < 10000)
        .groupBy($"lang").agg(min($"qbin").as("cut_bin"))
      d.join(broadcast(cut), "lang").filter($"qbin" >= $"cut_bin")
        .select($"doc_id", $"lang", $"n_tokens", $"qbin")
    }
    // sub-bucketed sharding (q_curation_shard_scalable's shape): 128
    // parallel small sorts + relational offset stitch — per-(shard,sub)
    // partitions each grow 10× but there is no per-shard single sort task
    def shardScalableShape(df: DataFrame) = {
      import graft.functions.PipelineFunctions._
      import org.apache.spark.sql.expressions.Window
      val rows = df.select($"doc_id",
        pmod(hash32Chain($"doc_id".cast("string")), lit(16L)).as("shard"),
        pmod(hash32Chain(concat(lit("sub"), $"doc_id".cast("string"))), lit(8L)).as("sub"),
        hash32Chain(concat(lit("ord"), $"doc_id".cast("string"))).as("ord"))
      val counts = rows.groupBy($"shard", $"sub").agg(count(lit(1)).as("n"))
      val perShard = Window.partitionBy($"shard").orderBy($"sub")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val offsets = counts.withColumn("off", sum($"n").over(perShard) - $"n")
        .select($"shard", $"sub", $"off")
      val sub = Window.partitionBy($"shard", $"sub").orderBy($"ord", $"doc_id")
      rows.withColumn("rk", row_number().over(sub).cast("long"))
        .join(broadcast(offsets), Seq("shard", "sub"))
        .select($"doc_id", $"shard", ($"off" + $"rk").as("pos"))
    }
    // int8 quantization (q_embed_quantize's shape): pure map-side codec,
    // zero shuffle — the ratio IS the scan ratio
    def quantizeShape(df: DataFrame) = {
      import graft.functions.PipelineFunctions._
      df.select($"vec_id", vecD($"embedding").as("v"))
        .withColumn("mn", array_min($"v"))
        .withColumn("scale", (array_max($"v") - $"mn") / 255.0)
        .select($"vec_id", aggregate(transform($"v", x =>
          when($"scale" === 0, lit(0L))
            .otherwise(round((x - $"mn") / $"scale", 0).cast("long"))),
          lit(0L), (a, c) => a + c).as("code_sum"))
    }
    val embeds = Tables.load(spark, sfDir, "embeddings")
    def x10Vecs(df: DataFrame): DataFrame = (0 until 10).map(i =>
      df.withColumn("vec_id", $"vec_id" + lit(i * 10000000L))).reduce(_ unionAll _)

    // bucketed as-of join (q_join_asof_bucketed's shape): the user set is
    // FIXED while events grow 10× — each user's history deepens 10×, the
    // exact regime the (key, bucket) sort granularity exists for. Ratio
    // must stay ~linear; the exact per-key form would go superlinear here
    // as every key's single sort task deepens.
    val events = Tables.load(spark, sfDir, "events")
    def x10Events(df: DataFrame): DataFrame = (0 until 10).map(i =>
      df.withColumn("event_id", $"event_id" + lit(i * 100000000L))
        .withColumn("ts", $"ts" + expr(s"INTERVAL $i SECONDS")))
      .reduce(_ unionAll _)
    def asofShape(df: DataFrame) = {
      val clicks = df.filter($"event_type" === "click")
        .select($"event_id", $"user_id", $"ts")
      val purchases = df.filter($"event_type" === "purchase")
        .select($"user_id", $"ts", $"value".as("pv"), $"ts".as("pts"))
      graft.operators.AsofJoin.backwardBucketed(clicks, purchases,
        "user_id", "user_id", "ts", "ts", Seq("pv", "pts"), bucket = 86400L)
    }
    // char-trigram LM scoring (q_quality_perplexity's shape): LM table is
    // bounded (trigram space), so 10× docs = 10× map-side explode + a
    // broadcast probe per trigram — must stay ~linear
    def perplexityShape(df: DataFrame) = {
      import org.apache.spark.sql.expressions.Window
      val d = df.select($"doc_id", $"lang", lower($"text").as("t"))
        .filter(length($"t") >= 3)
        .repartition(spark.sparkContext.defaultParallelism, $"doc_id")
      val tris = d.select($"doc_id", $"lang",
        explode(transform(sequence(lit(1), length($"t") - 2),
          i => $"t".substr(i, lit(3)))).as("tri"))
      val lm = tris.filter($"lang" === "en")
        .groupBy($"tri").agg(count(lit(1)).as("c"))
      val wAll = Window.partitionBy()
      val lmP = lm.withColumn("denom",
          (sum($"c").over(wAll) + count(lit(1)).over(wAll) + 1).cast("double"))
        .select($"tri", round(log(($"c" + 1) / $"denom"), 7)
          .cast("decimal(20,7)").as("lp"))
      tris.join(broadcast(lmP), Seq("tri"), "left")
        .groupBy($"doc_id", $"lang")
        .agg(count(lit(1)).as("n_tri"), sum($"lp").as("sdec"),
          count($"lp").as("n_match"))
    }

    // bounded-heap top-k per language (q_curation_topk_group_scalable's
    // shape): TopKRowsAgg partial-aggregates to ≤ k rows per (partition,
    // lang) before the shuffle — no per-language sort task anywhere; must
    // stay ~linear (the row_number window form deepens one sort task per
    // language by 10× here)
    def topkScalableShape(df: DataFrame) =
      graft.queries.CurationQueries.scoredDocsFrom(df)
        .groupBy($"lang")
        .agg(graft.operators.TopK.topkRows($"q", $"doc_id", $"q", 3).as("top"))
        .select($"lang", posexplode($"top"))
    // DSIR end-to-end with the bounded-heap resample (q_curation_dsir_
    // scalable's shape): hashed n-gram histograms, broadcast log-ratios,
    // then Gumbel top-20 per language via TopKRowsAgg
    def dsirScalableShape(df: DataFrame) =
      graft.queries.CurationQueries.dsirKeyedFrom(df)
        .groupBy($"lang")
        .agg(graft.operators.TopK.topkRows($"key", $"doc_id", $"w", 20).as("top"))
        .select($"lang", posexplode($"top"))
    // banded 64-bit SimHash near-dup (q_dedup_simhash_banded's shape):
    // distinct-doc 10× so candidate growth measures the PLAN — band
    // buckets at uniform occupancy n/65536 keep candidates ≈ n + true
    // pairs, never the n² Hamming scan
    def simhashBandedShape(df: DataFrame) = {
      val sig = graft.queries.DedupQueries.simhashSig(df).persist()
      graft.queries.DedupQueries.simhashBandedPairs(sig, hotThreshold = 1024L)
    }
    // ADVERSARIAL hot band: m synthetic sigs share ONE band-0 value but
    // spread over the other 48 bits (no true near-dups beyond chance).
    // t1x = WITH the 12-bit sub-band refinement, t10x = refinement
    // disabled (threshold ∞) on the SAME corpus — the ratio is the factor
    // the hot bucket's m² candidate join costs over the refined form, the
    // regime the hot-bucket guard exists for (ratio >> 1 proves it).
    def hotSigs(m: Long): DataFrame =
      spark.range(m).select($"id".as("doc_id"), lit(42L).as("sh0"),
        ($"id" * 2654435761L % 65536L).as("sh1"),
        ($"id" * 40503L % 65536L).as("sh2"),
        (($"id" * 65537L + 17L) % 65536L).as("sh3"))
    def hotBandShape(sig: DataFrame, refine: Boolean) =
      graft.queries.DedupQueries.simhashBandedPairs(sig.persist(),
        hotThreshold = if (refine) 256L else Long.MaxValue)

    // CDC materialization (q_cdc_apply's shape): JSON envelope encode →
    // map-side decode → one partial-agg max_by shuffle. 10× with DISTINCT
    // keys, so the final-state group count grows 10× too — the probe
    // measures the shuffle/agg, not same-key combining luck.
    def x10Orders(df: DataFrame): DataFrame = (0 until 10).map(i =>
      df.withColumn("o_orderkey", $"o_orderkey" + lit(i * 1000000000L)))
      .reduce(_ unionAll _)
    def cdcApplyShape(o: DataFrame) =
      graft.operators.Cdc.applyLatest(
        graft.queries.CdcQueries.decodedFrom(o), Seq("o_orderkey"))
    val ordersCdc = Tables.load(spark, sfDir, "orders")

    // 6-table Q9-shaped join (q_join_profit_by_nation's exact amount
    // expression): fact side grows 10×, dims stay fixed. Dims are
    // persisted and materialized OUTSIDE the timed region, and the
    // selective PROMO/region filters are dropped so every fact row
    // survives — otherwise the timed region is dominated by dim
    // load/broadcast overhead and the ratio carries no fact-side signal.
    val partAll = Tables.load(spark, sfDir, "part").persist()
    val suppGeoAll = Tables.load(spark, sfDir, "supplier")
      .join(broadcast(Tables.load(spark, sfDir, "nation")
        .join(broadcast(Tables.load(spark, sfDir, "region")),
          $"n_regionkey" === $"r_regionkey")),
        $"s_nationkey" === $"n_nationkey").persist()
    val ordersAll = Tables.load(spark, sfDir, "orders").persist()
    Seq(partAll, suppGeoAll, ordersAll).foreach(_.count())
    def profitShape(fact: DataFrame) = fact
      .join(broadcast(partAll), $"l_partkey" === $"p_partkey")
      .join(broadcast(suppGeoAll), $"l_suppkey" === $"s_suppkey")
      .join(ordersAll, $"l_orderkey" === $"o_orderkey")
      .groupBy($"n_name", year($"o_orderdate"))
      .agg(count(lit(1)).as("n"), round(sum(round($"l_extendedprice"
        * (lit(1.0) - $"l_discount") - $"p_retailprice" * $"l_quantity" * 0.1,
        4).cast("decimal(38,6)")).cast("double"), 2).as("profit"))

    // CDC hot-key skew: same 1.5M envelopes, but 90% of all changes land
    // on ONE key. applyLatest's claim (Cdc.scala): the combine row is
    // constant-size and max_by partial-aggregates map-side, so a hot key
    // costs the same as a uniform spread — ratio ≈ 1 proves it.
    def hotOrders(df: DataFrame): DataFrame = x10Orders(df)
      .withColumn("o_orderkey",
        when(pmod($"o_orderkey", lit(10L)) =!= 0L, lit(1L))
          .otherwise($"o_orderkey"))

    // second-decade scale: ×100 — one 10× point cannot tell linear from
    // n·log n from quadratic-with-small-constant; two decades can
    def x100(df: DataFrame): DataFrame =
      (1 to 100).map(_ => df).reduce(_ unionAll _)
    def x100Distinct(df: DataFrame): DataFrame = (0 until 100).map(i =>
      df.withColumn("doc_id", $"doc_id" + lit(i * 10000000L))
        .withColumn("text", concat($"text", lit(s" probe$i"))))
      .reduce(_ unionAll _)
    def x100Orders(df: DataFrame): DataFrame = (0 until 100).map(i =>
      df.withColumn("o_orderkey", $"o_orderkey" + lit(i * 1000000000L)))
      .reduce(_ unionAll _)
    // content-DECORRELATED replication: every token suffixed with the
    // replica index, so copies share no content and near-dup structure
    // does not grow quadratically with the replication factor
    def xUnrelated(df: DataFrame, n: Int): DataFrame = (0 until n).map(i =>
      df.withColumn("doc_id", $"doc_id" + lit(i * 10000000L))
        .withColumn("text", concat_ws(" ",
          transform(split($"text", " "), w => concat(w, lit(s"_u$i"))))))
      .reduce(_ unionAll _)

    // incremental cross-corpus dedup: the new batch is every 4th doc of
    // the BASE corpus both times; only the EXISTING side grows (10×
    // distinct docs appended as old-side ids) — time must scale with the
    // increment × band occupancy, never with old×old pairs
    def incrementalShape(df: DataFrame) =
      graft.queries.DedupQueries.incrementalDedupFrom(df)
    def x10OldSide(df: DataFrame): DataFrame = df.unionAll(
      (1 until 10).map(i =>
        df.withColumn("doc_id", $"doc_id" * 4L + 1L + lit(i * 40000000L))
          .withColumn("text", concat($"text", lit(s" probe$i"))))
        .reduce(_ unionAll _))

    // TRUE incremental dedup against a PRE-BUILT SignatureStore: the
    // corpora's signatures are computed and persisted OUTSIDE the clock
    // (a previous crawl already paid for them); the timed path computes
    // signatures for the FIXED batch only, scans the store's thin band
    // table, and reads store signatures for surviving candidates. 10×
    // corpus growth should now cost ≈1× (vs 1.95 when the old side was
    // recomputed per run, r8) — the residual is the band-table scan.
    def buildStore(oldDocs: DataFrame): String = {
      val d = java.nio.file.Files.createTempDirectory("graft_probe_store").toString
      graft.operators.SignatureStore.append(spark, d, "corpus",
        graft.queries.DedupQueries.sigWithBands(oldDocs.select($"doc_id", $"text"))
          .select($"doc_id", $"hs", $"bands"))
      d
    }
    val probeBatch = docs.filter(pmod($"doc_id", lit(4L)) === 0)
      .select($"doc_id", $"text")
    val oldSide = docs.filter(pmod($"doc_id", lit(4L)) =!= 0)
    val store1x = buildStore(oldSide)
    val store10x = buildStore(x10OldSide(docs).filter(pmod($"doc_id", lit(4L)) =!= 0))
    // x10OldSide's extra copies are " probeN"-perturbed NEAR-DUPS of the
    // batch's neighbors, so the candidate set (and verify work) grows
    // ~10× WITH the corpus — a data-shape effect, like the simhash
    // replica corpus. This store grows the corpus with UNRELATED docs
    // (every token replica-suffixed): candidates stay fixed and the only
    // corpus-dependent cost left is the thin band-table scan — the
    // cleanest measurement of "10× corpus ≈ 1× per-crawl cost".
    val store10u = buildStore(oldSide.unionAll(
      (1 until 10).map(i => oldSide
        .withColumn("doc_id", $"doc_id" + lit(i * 10000000L))
        .withColumn("text", concat_ws(" ",
          transform(split($"text", " "), w => concat(w, lit(s"_u$i"))))))
        .reduce(_ unionAll _)))
    def storedShape(store: String) =
      graft.queries.DedupQueries.incrementalDedupStored(spark, store, probeBatch)
    // the SAME corpus appended as TEN per-crawl generations (each chunk's
    // signatures computed once — total sig work equals one append)
    def buildStoreSplit(oldDocs: DataFrame, parts: Int): String = {
      val d = java.nio.file.Files.createTempDirectory("graft_probe_store").toString
      (0 until parts).foreach { i =>
        graft.operators.SignatureStore.append(spark, d, f"crawl$i%02d",
          graft.queries.DedupQueries.sigWithBands(
            oldDocs.filter(pmod($"doc_id", lit(parts.toLong)) === i)
              .select($"doc_id", $"text"))
            .select($"doc_id", $"hs", $"bands"))
      }
      d
    }
    val store10gen = buildStoreSplit(oldSide, 10)

    // connected components on the adversarial CHAIN shape: a 50k-node
    // path has diameter 50k — min-label propagation needs 50k rounds (we
    // time its capped 20-round run; a full run would take days), while
    // the alternating-star algorithm closes it in ~log₂ n rounds. This
    // row is the direct evidence for the r7 "missing #1" fix.
    def chainEdges(n: Long): DataFrame =
      spark.range(n - 1).select($"id".as("u"), ($"id" + lit(1L)).as("v"))

    // warmup
    time(aggShape(lineitem))
    val probes = Seq(
      "agg_600k_vs_6m" -> (time(aggShape(lineitem)), time(aggShape(x10(lineitem)))),
      "minhash_5k_vs_50k" -> (time(minhashShape(docs)), time(minhashShape(x10(docs)))),
      "fingerprint_5k_vs_50k" -> (time(fingerprintShape(docs)), time(fingerprintShape(x10(docs)))),
      "lsh_neardup_5k_vs_50k" -> (time(lshShape(docs)), time(lshShape(x10Distinct(docs)))),
      "lsh_neardup_10pct_short_docs" ->
        (time(lshShape(withShorts(docs))), time(lshShape(withShorts(x10Distinct(docs))))),
      "cluster_cc_5k_vs_50k" ->
        (time(clusterShape(docs)), time(clusterShape(x10Distinct(docs)))),
      "vocab_5k_vs_50k" -> (time(vocabShape(docs)), time(vocabShape(x10Distinct(docs)))),
      "lsh_editdist_5k_vs_50k" ->
        (time(editdistShape(docs)), time(editdistShape(x10Disjoint(docs)))),
      "paragraph_dedup_5k_vs_50k" ->
        (time(paragraphShape(docs)), time(paragraphShape(x10Distinct(docs)))),
      "token_budget_approx_5k_vs_50k" ->
        (time(tokenBudgetApproxShape(docs)),
          time(tokenBudgetApproxShape(x10Distinct(docs)))),
      "shard_scalable_5k_vs_50k" ->
        (time(shardScalableShape(docs)), time(shardScalableShape(x10Distinct(docs)))),
      "quantize_5k_vs_50k" ->
        (time(quantizeShape(embeds)), time(quantizeShape(x10Vecs(embeds)))),
      "asof_bucketed_100k_vs_1m" ->
        (time(asofShape(events)), time(asofShape(x10Events(events)))),
      "perplexity_5k_vs_50k" ->
        (time(perplexityShape(docs)), time(perplexityShape(x10Distinct(docs)))),
      "topk_group_scalable_5k_vs_50k" ->
        (time(topkScalableShape(docs)), time(topkScalableShape(x10Distinct(docs)))),
      "dsir_scalable_5k_vs_50k" ->
        (time(dsirScalableShape(docs)), time(dsirScalableShape(x10Distinct(docs)))),
      "simhash_banded_5k_vs_50k" ->
        (time(simhashBandedShape(docs)), time(simhashBandedShape(x10Distinct(docs)))),
      // m = 50k: the unrefined hot bucket enumerates 1.25G candidate pairs
      // in ONE join task (the dist filter pushes below the pair distinct,
      // so the cost is single-task enumeration, not a shuffle — cheap per
      // pair, quadratic in m and unsplittable). Refined stays ~linear, so
      // the gap grows with m²: ~1× at 5k, measurable here, fatal at the
      // 10M-doc hot buckets a 100 TB corpus produces.
      "simhash_hot_band_refined_vs_unrefined" ->
        (time(hotBandShape(hotSigs(50000L), refine = true)),
          time(hotBandShape(hotSigs(50000L), refine = false))),
      // closed-form NB train (one count shuffle) + broadcast scoring:
      // both passes are ~linear in tokens; the model stays |langs|·256
      // rows at ANY corpus size, so the broadcast never grows
      "nb_train_score_5k_vs_50k" ->
        (time(graft.queries.TextQueries.nbScoreFrom(docs)),
          time(graft.queries.TextQueries.nbScoreFrom(x10Distinct(docs)))),
      // chained per-step min aggs: user set fixed, history 10× deeper —
      // funnels must stay ~linear (no per-user sort/history collection)
      "funnel_100k_vs_1m" ->
        (time(graft.queries.CoreQueries.funnelFrom(events)),
          time(graft.queries.CoreQueries.funnelFrom(x10Events(events)))),
      // duplicated-span removal: hot-gram join + per-doc position sets —
      // ~linear in tokens (hot side stays the injected spans' grams)
      "span_removal_5k_vs_50k" ->
        (time(graft.queries.DedupQueries.spanRemovalFrom(docs)),
          time(graft.queries.DedupQueries.spanRemovalFrom(x10Distinct(docs)))),
      // IVF-PQ: codes 10×, probed lists 10× deeper, shortlist re-rank
      // fixed per query — candidate work scales with list depth only
      "ivfpq_4k_vs_40k" ->
        (time(graft.queries.SimilarityQueries.ivfpqFrom(
          graft.queries.SimilarityQueries.normVecsFrom(embeds))),
          time(graft.queries.SimilarityQueries.ivfpqFrom(
            graft.queries.SimilarityQueries.normVecsFrom(x10Vecs(embeds))))),
      "cdc_apply_150k_vs_1m5" ->
        (time(cdcApplyShape(ordersCdc)), time(cdcApplyShape(x10Orders(ordersCdc)))),
      // hot-vs-uniform at the SAME 1.5M envelopes — skew costs nothing
      // when the combine row is constant-size (ratio ≈ 1)
      "cdc_apply_hot_key_vs_uniform_1m5" ->
        (time(cdcApplyShape(x10Orders(ordersCdc))),
          time(cdcApplyShape(hotOrders(ordersCdc)))),
      "profit_join_600k_vs_6m" ->
        (time(profitShape(lineitem)), time(profitShape(x10(lineitem)))),
      "incremental_dedup_fixed_batch_10x_corpus" ->
        (time(incrementalShape(docs)), time(incrementalShape(x10OldSide(docs)))),
      "incremental_dedup_prebuilt_store_10x_corpus" ->
        (time(storedShape(store1x)), time(storedShape(store10x))),
      "incremental_dedup_prebuilt_store_10x_unrelated" ->
        (time(storedShape(store1x)), time(storedShape(store10u))),
      // generation amortization: the SAME corpus as 10 per-crawl leaves,
      // probed before and after compaction folds them into one — ratio
      // ≤ ~1 shows probe cost is bounded by compaction, not crawl count
      "incremental_dedup_store_10gen_vs_compacted" -> {
        val t10g = time(storedShape(store10gen))
        graft.operators.SignatureStore.compact(spark, store10gen)
        (t10g, time(storedShape(store10gen)))
      })

    // ×100 second-decade rows for the five load-bearing shapes: both
    // per-decade ratios should stay ≤ ~linear (10× with fixed parallelism)
    val probes100 = Seq(
      ("agg_600k_6m_60m",
        time(aggShape(lineitem)), time(aggShape(x10(lineitem))),
        time(aggShape(x100(lineitem)))),
      ("minhash_5k_50k_500k",
        time(minhashShape(docs)), time(minhashShape(x10Distinct(docs))),
        time(minhashShape(x100Distinct(docs)))),
      ("simhash_banded_5k_50k_500k",
        time(simhashBandedShape(docs)),
        time(simhashBandedShape(x10Distinct(docs))),
        time(simhashBandedShape(x100Distinct(docs)))),
      // r8's ratio100 = 12.02 diagnosed (SimhashDiag, NOTES_r9): the
      // xNDistinct replicas differ by ONE token, so SimHash moves ≤ a few
      // bits and every doc's N replicas are GENUINE near-dups — output
      // pairs grow ~N² (299 → 181k → 20.0M measured), which any correct
      // detector must pay. This row decorrelates the copies (every token
      // suffixed per replica → no shared content): candidate growth is
      // ~linear and the PLAN's ratio100 should sit ≤ ~10.
      ("simhash_banded_unrelated_5k_50k_500k",
        time(simhashBandedShape(docs)),
        time(simhashBandedShape(xUnrelated(docs, 10))),
        time(simhashBandedShape(xUnrelated(docs, 100)))),
      ("cdc_apply_150k_1m5_15m",
        time(cdcApplyShape(ordersCdc)), time(cdcApplyShape(x10Orders(ordersCdc))),
        time(cdcApplyShape(x100Orders(ordersCdc)))),
      ("profit_join_600k_6m_60m",
        time(profitShape(lineitem)), time(profitShape(x10(lineitem))),
        time(profitShape(x100(lineitem)))))

    // chain-shaped connected components: rounds + seconds, both algorithms
    val ccN = 50000L
    val tTp0 = System.nanoTime()
    val (tpLabels, tpRounds, tpConv) =
      graft.operators.Graph.connectedComponentsWithRounds(chainEdges(ccN), 60)
    val tpSecs = (System.nanoTime() - tTp0) / 1e9
    val tpOk = tpLabels.filter(tpLabels("lbl") =!= 0L).isEmpty
    tpLabels.unpersist()
    val chainSym = chainEdges(ccN)
    val tMl0 = System.nanoTime()
    val (mlLabels, mlRounds, mlConv) = graft.operators.Graph
      .minLabelPropagation(chainSym.unionAll(
        chainSym.select($"v".as("u"), $"u".as("v"))), maxIter = 20)
    val mlSecs = (System.nanoTime() - tMl0) / 1e9
    mlLabels.unpersist()

    // probes are strict (Seq, not view): all timing is done — release the
    // persisted profit-join relations before emitting
    Seq(partAll, suppGeoAll, ordersAll).foreach(_.unpersist())
    val qjson = probes.map { case (name, (t1, t10)) =>
      f""""$name":{"t1x":$t1%.3f,"t10x":$t10%.3f,"ratio":${t10 / t1}%.2f}"""
    }.mkString("{", ",", "}")
    val qjson100 = probes100.map { case (name, t1, t10, t100) =>
      // marginal ratio (r10 VERDICT #7): (t100−t10)/(t10−t1) compares the
      // INCREMENTAL cost of each decade, cancelling the fixed JVM/stage
      // constant that dominates sub-second t1x rows and inflates the raw
      // ratio on provably linear plans (a perfectly linear plan with
      // fixed cost c has marginal exactly 10, raw (10a+c)/(a+c) < 10 but
      // raw ratio100 ≈ anything when c ≫ a). NaN-guarded: a negative or
      // ~zero denominator (timing noise at tiny t) reports as null.
      val denom = t10 - t1
      val marginal =
        if (denom > 0.05) f"${(t100 - t10) / denom}%.2f" else "null"
      f""""$name":{"t1x":$t1%.3f,"t10x":$t10%.3f,"t100x":$t100%.3f,""" +
        f""""ratio10":${t10 / t1}%.2f,"ratio100":${t100 / t10}%.2f,""" +
        s""""marginal100":$marginal}"""
    }.mkString("{", ",", "}")
    val ccjson =
      f"""{"nodes":$ccN,"twophase_rounds":$tpRounds,""" +
        f""""twophase_converged":$tpConv,"twophase_correct":$tpOk,""" +
        f""""twophase_secs":$tpSecs%.3f,"minlabel_rounds":$mlRounds,""" +
        f""""minlabel_converged":$mlConv,"minlabel_secs":$mlSecs%.3f}"""
    println(s"""{"metric":"scaleprobe","probes":$qjson,""" +
      s""""probes100":$qjson100,"cc_chain":$ccjson,"sf":"$sfDir"}""")
    spark.stop()
  }
}
