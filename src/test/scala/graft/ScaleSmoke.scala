package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measured scale-up smoke (test scope, run by hand):
  * `sbt "Test/runMain graft.ScaleSmoke [factor] [name-filter]"` — replicates
  * the sf0.1 fixture tables `factor`x (default 10) with disjoint id spaces
  * and times the heavy driver queries at 1x vs the replica, printing the
  * wall-time ratio per query. Numbers land in SURVEY.md §7.4 (round 3: the
  * d5 sketch-vs-brute table in §7.4b; round 10: the heavy-entry table in
  * §7.4e).
  *
  * Replication shape: ids (orders, docs, vectors, users) are offset per
  * replica so distinct-key cardinality scales with the factor — the honest
  * "10x more data" scenario for HLL/joins — while text and embedding
  * payloads stay identical, so every document/vector becomes a planted
  * factor-way duplicate group: deliberately dedup-hostile (LSH buckets,
  * k-means cells, and span groups all swell by the factor).
  */
object ScaleSmoke {

  private val IdOffset = 1000000000L

  private def replicate(
      s: SparkSession, src: String, out: String, factor: Int): Unit = {
    def rep(name: String, df: DataFrame, idCols: Seq[String],
        one: Boolean = false): Unit = {
      val u = (0 until factor).map { k =>
        idCols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(k * IdOffset)))
      }.reduce(_ unionByName _)
      (if (one) u.coalesce(1) else u).write.parquet(s"$out/$name.parquet")
    }
    // Tables streamed through fixtureStreamDir (events st1-st5/st8,
    // documents st6/st10, embeddings st7) must be single FILES like the
    // fixture: the file-stream staging symlinks `$dir/<t>.parquet` and a
    // symlinked DIRECTORY yields an empty stream (no files listed at the
    // top level), which surfaces as an empty-sink schema-inference error.
    def asFile(name: String): Unit = {
      val part = new java.io.File(s"$out/${name}__dir.parquet").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$out/$name.parquet"))
    }
    rep("lineitem", Tables.lineitem(s, src), Seq("l_orderkey"))
    rep("documents__dir", Tables.documents(s, src), Seq("doc_id"), one = true)
    asFile("documents")
    rep("embeddings__dir", Tables.embeddings(s, src), Seq("vec_id"), one = true)
    asFile("embeddings")
    // events.ts physical type drifts across fixture regens: replicate
    // through the raw read (nanosAsLong set for the ns-era shape), leaving
    // ts untouched.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    rep("events__dir", s.read.parquet(s"$src/events.parquet"),
      Seq("event_id", "user_id"), one = true)
    asFile("events")
    // Dimension tables stay 1x (facts outgrow dims in any real corpus):
    // symlink them so every SparkEntry query can run against the replica.
    Seq("region", "nation", "customer", "supplier", "part", "orders")
      .foreach { t =>
        java.nio.file.Files.createSymbolicLink(
          java.nio.file.Paths.get(s"$out/$t.parquet"),
          java.nio.file.Paths.get(s"$src/$t.parquet"))
      }
  }

  /** The round-7-9 heavy entries (VERDICT r9 #1) plus the round-10
    * additions (d2/d3/p7/t10) and round-11's (PQ, post-append dedup),
    * timed through the same public surface the driver runs.
    */
  private val Heavy = Seq(
    "q48_countmin_sketch", "q52_hll_merge", "p11_corpus_prep",
    "d9_semantic_dedup", "d10_repeated_spans", "d11_minhash_error",
    "st4_stream_attribution", "p12_domain_filter",
    "d2_minhash_lsh", "d3_ngram_jaccard", "p7_bloom_decontaminate",
    "t10_bm25", "s15_two_stage_rerank", "s16_hybrid_rrf",
    "s17_ann_deletes", "s18_pq_adc", "st10_stream_dedup_postappend",
    "s19_pq_recall", "p14_epoch_shuffle", "kv10_point_get",
    "m7_token_budget", "q53_gap_fill", "q54_funnel", "q55_retention",
    "q56_rolling_anomaly", "d14_containment", "p15_soft_dedup",
    "s20_maxsim", "st11_stream_attribution_outer",
    // round-11 second batch (q60 omitted: it reads only orders, which the
    // replica keeps at 1x — the ratio would measure the symlink, not the op)
    "u9_native_hll_agg", "q58_copurchase", "q59_scd2_build",
    "q61_pagerank", "t11_collocations",
    // third batch (kv12/u10 omitted: dimension-only inputs stay 1x)
    "m8_perceptual_hash", "q62_cumulative_distinct",
    "st12_stream_additive_counts", "d15_sorted_neighborhood",
    // fourth batch (kv13 omitted: customer input stays 1x-symlinked)
    "q63_triangles", "p16_length_batching", "m9_scene_detect",
    "t12_lexical_diversity", "q64_markov_transitions",
    "st13_stream_rollup",
    // fifth batch
    "q65_semi_additive", "m10_vad_segments", "p17_curriculum",
    "s21_ivfpq",
    // sixth batch (q66 omitted: orders stays 1x-symlinked)
    "t13_rake_keyphrases", "st14_stream_ann_ingest",
    // seventh batch (kv14 omitted: nation stays 1x-symlinked)
    "p18_dataset_card", "d16_canonical_pick", "u11_rule_dot_rewrite",
    // eighth batch (q67 omitted: orders stays 1x-symlinked)
    "t14_ngram_novelty", "p19_prune_curve", "s22_nprobe_sweep",
    // ninth batch (q68/kv15 omitted: customer/nation stay 1x-symlinked)
    "m11_modality_card",
    // tenth batch (kv16 omitted: customer stays 1x-symlinked)
    "t15_heaps_law",
    // twelfth batch
    "st15_stream_dlq", "t16_lang_confusion", "s23_range_search",
    // thirteenth batch (kv17 omitted: dimension inputs stay 1x)
    "q69_sliding_hll",
    // fourteenth batch (q70 omitted: lineitem replicas measure the
    // format write, not the union read)
    "d17_tfidf_verify",
    // fifteenth batch (u13 omitted: nation stays 1x-symlinked)
    "p20_repeat_budget",
    // sixteenth batch
    "q71_nearest_event", "s24_centroid_shift",
    // seventeenth batch
    "q72_interval_coverage", "t17_burstiness",
    // round-12 batch (q66/q74 omitted: orders stays 1x-symlinked; u14-u16/
    // st16/kv18 omitted: dimension-only or fixed-slice inputs)
    "q73_sliding_exact_panes", "p21_cluster_split",
    "m12_interleaved_pack", "t18_zipf_fit",
    "q75_scd2_lookup", "d18_version_diff", "s25_filtered_ann",
    // round-13 batch (st18/st19/kv gc omitted: dimension-only or
    // store-lifecycle)
    "s26_filtered_probe_k",
    "d19_incremental_dedup", "s27_index_integrity", "q76_latest_per_key",
    // round-13 second batch (kv19/u18 omitted: dimension-only inputs)
    "d20_prefix_filter_join", "p22_semantic_decon", "q77_ohlc_bars",
    "s28_knn_graph",
    // round-13 third batch (kv19/u18/u19 omitted: dimension-only inputs)
    "d21_banding_sweep", "t19_kl_drift", "p23_decon_matrix", "d22_release_manifest", "m13_container_audit",
    // round-14 batch (q78/q79/q81 omitted: customer/orders stay
    // 1x-symlinked; u22-u25/st20/st21/kv20/s29 omitted: store-lifecycle)
    "q80_weighted_median", "d23_phash_near_dup", "d24_line_dedup",
    "t20_bigram_surprisal", "s30_knn_join", "m14_pair_admission",
    "p24_mixture_plan", "p25_quality_funnel", "s31_matryoshka_recall",
    // q82 omitted: customer/orders stay 1x-symlinked
    "q83_zorder_pruning", "m15_pair_alignment",
    // round-15 batch (u27/u28/q84/kv21/st22 omitted: dimension-only or
    // store/layout-lifecycle; t21/t22 train on a fixed slice whose
    // replicas change the rules, measured separately if ever needed)
    "d25_exact_substr", "p26_substr_drop_policy", "s32_knn_join_fallback",
    // round-16 batch (s34/q85/u29/st22 omitted: store/layout-lifecycle
    // on fixed-slice or content-addressed stores; t24 omitted like
    // t21/t22 — replicas change the trained rules)
    "d26_substr_scrub", "p27_post_dedup_mixture",
    // round-16 continuation batch (u30/q86 omitted: dimension-only
    // inputs — embeddings codes / customer tree; st23 omitted:
    // stream-machinery floor dominates)
    "t25_sequence_packing", "s36_sq8_recall", "d27_winnowing", "t27_memorization_risk",
    "p28_rule_ablation",
    // round-16 widening batch (u32/u36/u37/st24/st25 omitted:
    // store-lifecycle, syntax-only, or stream-machinery floor)
    "q87_kmv_overlap", "t26_fim_transform", "u33_bloom_runtime_join", "s37_topk_exec_knn",
    "u34_sql_udf_inline", "u35_variant_json", "u38_aqe_skew_join",
    "p29_ngram_decon", "m17_aspect_batching", "q88_grouped_topk",
    "u39_observe_metrics",
    // round-17 batch (u44-u53/st26/st27 omitted: dimension-only inputs,
    // store-lifecycle verbs, or stream-machinery floor; t22/t24 omitted
    // like t21 — replicas change the trained rules)
    "t28_repetition_signals", "p30_quality_sweep", "p31_seeded_shuffle",
    "m18_gain_normalize",
    // r18: t29 joined once its doc->bin assignment became fold-emitted
    "t29_packing_purity",
    // r18: graph-ANN walks (index builds content-addressed per replica dir)
    "s38_nsw_search", "s39_nsw_incremental",
    // r18 widening (u59 omitted: store-lifecycle; st28: stream floor)
    "t30_novelty_decay", "m19_downsample_audit", "p32_checkpoint_resume",
    // r19: NSW lifecycle + escalation + filtered serving (chain builds
    // warmed like s38/s39; u62-u69 omitted: store-lifecycle /
    // planning-time verbs)
    "s40_nsw_delete_fold", "s41_nsw_escalation", "s42_nsw_filtered")

  private def time(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  private def runOnce(s: SparkSession, name: String, dir: String): Double =
    time(SparkEntry.queries(name)(s, dir)
      .write.format("noop").mode("overwrite").save())

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val filter = args.drop(1).headOption.getOrElse("")
    // optional 3rd arg: reuse an existing replica dir (skip replication —
    // re-measuring after a noisy first pass shouldn't pay the write again)
    val reuse = args.drop(2).headOption
    val spark = Bench.session("32")
    import spark.implicits._
    spark.sparkContext.setLogLevel("ERROR")

    val base = "/root/testdata/sf0.1"
    val dir = reuse.getOrElse {
      val d = java.nio.file.Files.createTempDirectory("graft-smoke").toString
      replicate(spark, base, d, factor)
      d
    }
    println(s"replica sf0.1 x$factor at $dir")

    // comma-separated substring filter: "q48,d11" runs just those
    val parts = filter.split(",").filter(_.nonEmpty).toSeq
    def matches(name: String) = parts.isEmpty || parts.exists(name.contains)
    val entries = Heavy.filter(matches)
    if (entries.nonEmpty) {
      // WARM-INDEX DISCIPLINE (r13, VERDICT r12 #6): the persisted
      // ANN/IVF indexes are content-addressed by fixture dir, and the 1x
      // warm pass below only builds the 1x ones — a replica-cold
      // index-backed entry then times INGEST, not the op (the s3/r10 and
      // s25/r12 attribution, re-learned twice). Build the replica's
      // indexes here, reported as build_sec and EXCLUDED from per-op
      // ratios; every later s-family replica timing is a warm lookup.
      if (entries.exists(_.startsWith("s"))) {
        val bLsh = time(operators.AnnIndex.locate(spark, dir))
        val bIvf = time(operators.AnnIndex.locateIvf(spark, dir))
        println(f"replica index build_sec: lsh $bLsh%.1f ivf $bIvf%.1f " +
          "(excluded from per-op lookup ratios)")
      }
      if (entries.exists(_.startsWith("s39"))) {
        val b = time(operators.Similarity.publishedNswGraphIncr(spark, dir))
        println(f"replica nsw incr graph build_sec: $b%.1f " +
          "(excluded from the walk ratio)")
      }
      if (entries.exists(_.startsWith("s40"))) {
        val b = time(operators.Similarity.publishedNswGraphDel(spark, dir))
        println(f"replica nsw del/fold chain build_sec: $b%.1f " +
          "(excluded from the walk ratio)")
      }
      if (entries.exists(n => n.startsWith("s38") || n.startsWith("s41") ||
          n.startsWith("s42"))) {
        // the NSW graph is the same INGEST-cost artifact (content-
        // addressed CommitMarker publish) — warm it like lsh/ivf so the
        // timed entry is the walk, not the build
        val bNsw = time(operators.Similarity.publishedNswGraph(spark, dir))
        println(f"replica nsw graph build_sec: $bNsw%.1f " +
          "(excluded from the walk ratio)")
      }
      // Warm pass at 1x (JIT + codegen + fixture-catalog cache), then the
      // timed pair. min-of-two at each scale would be better but the smoke
      // is hand-run; the ±25% box noise note from CLAUDE.md applies.
      entries.foreach(runOnce(spark, _, base))
      println(f"${"query"}%-24s ${s"t(1x)"}%8s ${s"t(${factor}x)"}%8s ratio")
      entries.foreach { name =>
        val t1 = runOnce(spark, name, base)
        val tN = runOnce(spark, name, dir)
        println(f"$name%-24s $t1%7.1fs $tN%7.1fs ${tN / t1}%5.1fx")
      }
    }

    if (matches("s2_ann_lsh")) {
      // ANN lookup vs corpus growth: build (ingest) both indexes in a warm
      // pass, then time the LOOKUP alone at each scale. Partition pruning
      // should hold the lookup ~flat while the corpus grows by the factor —
      // the property that makes the persisted index the 100 TB path.
      runOnce(spark, "s2_ann_lsh", base); runOnce(spark, "s2_ann_lsh", dir)
      val t1 = runOnce(spark, "s2_ann_lsh", base)
      val tN = runOnce(spark, "s2_ann_lsh", dir)
      println(f"s2 lookup (index warm)   $t1%7.1fs $tN%7.1fs ${tN / t1}%5.1fx")
    }

    if (matches("d5_embed_neardup")) {
      // Round-3 comparison kept verbatim: sketch-prefilter d5 vs the
      // round-1 brute-force shape on the replicated embeddings.
      val t0 = System.nanoTime()
      val pairs = operators.Dedup.embedNearDup(spark, dir).count()
      println(f"sketch-prefilter d5: $pairs pairs in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
      val t1 = System.nanoTime()
      val brute = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
        .select(
          graft.functions.VectorFunctions
            .dot(col("a.embedding"), col("b.embedding")).as("cos"))
        .filter($"cos" >= 0.45).count()
      println(f"round-1 brute force:  $brute pairs in ${(System.nanoTime() - t1) / 1e9}%.1f s")
    }
    spark.stop()
  }
}
