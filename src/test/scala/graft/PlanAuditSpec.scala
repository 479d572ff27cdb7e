package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards the scale-critical physical-plan properties: filter pushdown to
  * parquet, broadcast of dimension tables, no cartesian products where a
  * broadcast-hash or sort-merge join is expected.
  */
class PlanAuditSpec extends AnyFunSuite {
  import TestSpark._

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("u27 stats-driven broadcast: the pot dim is the broadcast BUILD side with no hint (r15)") {
    // the query is hint-free; the only way the pot side broadcasts is the
    // connector's SupportsReportStatistics sizeInBytes report
    Scratch.withDir("graft-potstats") { dir =>
      val joined =
        graft.operators.Extensibility.statsBroadcastBuild(spark, sf, dir)
      import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
      import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
      val plan = joined.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      val bhj = plan.collectFirst { case j: BroadcastHashJoinExec => j }
        .getOrElse(fail(s"no BroadcastHashJoin planned:\n$plan"))
      val build = bhj.buildSide match {
        case BuildLeft  => bhj.left
        case BuildRight => bhj.right
      }
      assert(build.toString.contains("PotV2Scan"),
        s"the pot relation is not the broadcast build side:\n$plan")
    }
  }

  test("s32 kNN fallback join: cohort-local equi-joins; the one NLJ is the broadcast-probe price tag (r15)") {
    val p = plan("s32_knn_join_fallback")
    assert(!p.contains("CartesianProduct"), s"all-pairs shape in s32:\n$p")
    // candidate generation (radius 0 AND the ring-1 escalation) is
    // sig-equality — bucket-local, never probes x corpus
    assert(p.contains("BroadcastHashJoin [sig") ||
      p.contains("[sig#"), s"sig equi-join missing:\n$p")
    // exactly one nested-loop: the exact-baseline measurement with the
    // probe batch broadcast (the priced audit half, not the lookup path)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size === 1,
      s"expected exactly the one broadcast-probe measurement NLJ:\n$p")
  }

  test("q84 z-order layout: the secondary-dimension read opens 8 of 32 buckets via partition pruning (r15)") {
    Scratch.withDir("graft-zorder") { root =>
      val pruned =
        graft.operators.Aggregates.zorderLayoutBuild(spark, sf, root)
      // the derived bucket set is a literal PARTITION filter, resolved
      // at file listing — q83's predicted fraction made physical
      val plan0 = pruned.queryExecution.executedPlan
      val p = plan0.toString
      assert(p.contains("PartitionFilters") && p.contains("zb#"),
        s"zb partition filter missing:\n$p")
      // structural arithmetic: b in [64,127] pins b7=0, b6=1; a7/a6/b5
      // free -> exactly 8 of the 32 bucket boxes overlap
      assert(graft.operators.ZOrderLayout.bucketsForBRange(64, 127)
        .size === 8)
      // ground truth: the scan's numFiles metric (post-pruning) vs the
      // part-files on disk (.inputFiles would report the pre-pruning
      // listing — useless as evidence)
      pruned.collect()
      val scan = plan0.collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.getOrElse(fail(s"no file scan in plan:\n$p"))
      val opened = scan.metrics("numFiles").value
      import scala.jdk.CollectionConverters._
      val full = java.nio.file.Files.walk(
        java.nio.file.Paths.get(s"$root/zl")).iterator().asScala
        .count(f => f.getFileName.toString.startsWith("part-"))
      assert(opened * 2 <= full,
        s"z-order pruning opened $opened of $full files")
    }
  }

  test("q85 persisted store z-order: both dims' range reads prune at file listing across separate queries (r16)") {
    val t = graft.operators.Aggregates.storeZorderTable(spark, sf)
    // structural arithmetic: 3 dims x 8 bits, bucketBits=6 pins 2 bits
    // of each dim -> a quarter-domain range admits 16 of 64 boxes
    assert(graft.operators.ZOrderLayout
      .bucketsForRangeN(1, 3, 64, 127, 6).size === 16)
    assert(graft.operators.ZOrderLayout
      .bucketsForRangeN(2, 3, 0, 63, 6).size === 16)
    // 2-dim equivalence: the N-dim derivation at n=2 IS bucketsForBRange
    assert(graft.operators.ZOrderLayout.bucketsForRangeN(1, 2, 64, 127, 5)
      === graft.operators.ZOrderLayout.bucketsForBRange(64, 127))
    Seq(("b", 64, 127), ("c", 0, 63)).foreach { case (dim, lo, hi) =>
      val pruned = t.readClustered(dim, lo, hi)
      val plan0 = pruned.queryExecution.executedPlan
      val p = plan0.toString
      assert(p.contains("PartitionFilters") && p.contains("zb#"),
        s"zb partition filter missing for dim $dim:\n$p")
      pruned.collect()
      val scan = plan0.collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.getOrElse(fail(s"no file scan in plan:\n$p"))
      val opened = scan.metrics("numFiles").value
      // ground truth numFiles vs the layout's on-disk part files: a
      // separate-query read of the PERSISTED artifact must open under
      // half the files (16/64 boxes structurally; occupancy-dependent)
      val dataDir = pruned.inputFiles.head
        .replaceAll("/zb=.*", "")
      import scala.jdk.CollectionConverters._
      val full = java.nio.file.Files.walk(java.nio.file.Paths.get(
        new java.net.URI(dataDir).getPath)).iterator().asScala
        .count(f => f.getFileName.toString.startsWith("part-"))
      assert(opened * 2 <= full,
        s"persisted z-order pruning on $dim opened $opened of $full files")
    }
  }

  test("d25/p26 exact-substring: hash-keyed equi-joins only, 8-byte exchange key, no cartesian (r15/r16)") {
    Seq("d25_exact_substr", "p26_substr_drop_policy").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"all-pairs shape in $q:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"nested-loop crept into $q:\n$p")
      // r16: the seed fetch is an equi-join on xxhash64(wkey) — the
      // exchange carries the 8-byte LongType key, never the ~50-byte
      // window string (the r15-verdict exchange-width item)
      assert(p.contains("wk#"), s"hashed window-key join missing from $q:\n$p")
      assert(!p.contains("wkey"),
        s"$q still shuffles the raw 8-token window string:\n$p")
      val exchanges = p.linesIterator
        .filter(l => l.contains("Exchange hashpartitioning(wk#"))
        .toSeq
      assert(exchanges.nonEmpty,
        s"expected the shared-window count exchange keyed on wk:\n$p")
      exchanges.foreach(l => assert(l.contains("wk#") && l.contains("L,"),
        s"wk exchange key is not the 8-byte LongType hash: $l"))
    }
  }

  test("s33 IVF-PQ kNN join: cell-cohort equi-join + broadcast LUTs, never probes x corpus (r15)") {
    val p = plan("s33_ivfpq_knn_join")
    assert(!p.contains("CartesianProduct"), s"all-pairs shape in s33:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"nested-loop crept into s33:\n$p")
    assert(p.contains("cell"), s"cell cohort join missing:\n$p")
  }

  test("s34 IVF-PQ fallback join: cell-cohort equi-join at both radii, occupancy-table starvation, never probes x corpus (r16)") {
    val p = plan("s34_ivfpq_knn_fallback")
    assert(!p.contains("CartesianProduct"), s"all-pairs shape in s34:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"nested-loop crept into s34:\n$p")
    // the widened probe set joins the SAME cell-keyed corpus relation —
    // escalation must not introduce a non-equi shape
    assert(p.contains("cell"), s"cell cohort join missing:\n$p")
  }

  test("t23 perplexity split: tercile via DistRank — every Window is bucket-partitioned, none global (r15)") {
    val p = plan("t23_perplexity_split")
    val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windows.nonEmpty, s"expected DistRank's bucketed window:\n$p")
    windows.foreach(l => assert(l.contains("__drk_b"),
      s"t23 grew an UNPARTITIONED window for the global tercile: $l"))
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q2 filter/project pushes predicates into the parquet scan") {
    val p = plan("q2_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull"), p)
    assert(p.contains("In(o_orderstatus"), p)
  }

  test("q3 join revenue broadcasts the dimension tables") {
    val p = plan("q3_join_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q1 aggregation uses partial (map-side) hash aggregation") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial_"), p)
  }

  test("q21 order-by-limit compiles to TakeOrderedAndProject (no global sort)") {
    val p = plan("q21_orderby_limit")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("u4 merge hint produces a sort-merge join") {
    val p = plan("u4_join_mergehint")
    assert(p.contains("SortMergeJoin"), p)
  }

  test("s1 brute-force top-k broadcasts the query vector") {
    val p = plan("s1_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("kv2 delete is a broadcast left-anti join") {
    val p = plan("kv2_delete_anti")
    assert(p.contains("LeftAnti"), p)
  }

  test("d5 near-dup pairs via equi-join, popcount prefilter before exact dot") {
    val p = plan("d5_embed_neardup")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    val joinLine = p.linesIterator
      .find(l => l.contains("MergeJoin") || l.contains("ShuffledHashJoin"))
      .getOrElse(fail(s"no shuffled equi-join in d5 plan:\n$p"))
    // cheap conjuncts must short-circuit ahead of the full-precision dot
    assert(joinLine.indexOf("bit_count") >= 0 &&
      joinLine.indexOf("floatdot") > joinLine.indexOf("bit_count"),
      s"dot not behind the popcount prefilter: $joinLine")
  }

  test("s2 ANN lookup prunes to its signature bucket at the partition level") {
    val p = plan("s2_ann_lsh")
    assert("PartitionFilters: \\[[^\\]]*sigp".r.findFirstIn(p).isDefined,
      s"no sigp partition filter in scan:\n$p")
  }

  test("s14 adaptive probe keeps the final scan partition-pruned to its rings") {
    val p = plan("s14_ann_probe_adaptive")
    assert("PartitionFilters: \\[[^\\]]*sigp".r.findFirstIn(p).isDefined,
      s"no sigp partition filter in scan:\n$p")
  }

  test("s4 IVF lookup prunes to its probed cells at the partition level") {
    val p = plan("s4_ann_ivf")
    assert("PartitionFilters: \\[[^\\]]*cellp".r.findFirstIn(p).isDefined,
      s"no cellp partition filter in scan:\n$p")
  }

  test("s7 batched ANN prunes index partitions dynamically from the query batch") {
    val p = plan("s7_ann_batch")
    assert("PartitionFilters: \\[[^\\]]*dynamicpruning".r.findFirstIn(p).isDefined,
      s"no dynamic partition pruning on the index scan:\n${p.take(3000)}")
  }

  test("q44 range join runs as a bucket equi-join, not a nested loop") {
    // The interval-containment predicate must ride on a hash equi-join over
    // the bucket key (the scale path); a BNLJ/cartesian here means the
    // bucketing rewrite regressed to the naive O(n*m) form.
    val p = plan("q44_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p)
  }

  test("d7 banded near-dup has no nested-loop or cartesian join") {
    val p = plan("d7_embed_banded")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q47 lateral top-k decorrelates to a ranked window join, no nested loop") {
    val p = plan("q47_lateral_topk")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Window"), s"no window rewrite of the lateral limit:\n$p")
  }

  test("q48 count-min estimate joins the BROADCAST counter table") {
    val p = plan("q48_countmin_sketch")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("p12 domain filter broadcasts the centroid; corpus side stays map-side") {
    val p = plan("p12_domain_filter")
    // the 1-row centroid reaches the corpus via broadcast, never a shuffle
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // exactly one exchange: the 64-row seed-dim aggregate. The corpus scan
    // feeds the dot + threshold with no shuffle of its own.
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 1, s"corpus must not shuffle, found $exchanges exchanges:\n$p")
  }

  test("s11 incremental lookup prunes partitions in every generation") {
    val p = plan("s11_ann_incremental")
    val prunedScans = "PartitionFilters: \\[[^\\]]*sigp".r.findAllIn(p).size
    assert(prunedScans >= 2,
      s"expected sigp partition filters on both generation scans:\n$p")
  }

  test("s17 delete-resolving lookup prunes the data AND tombstone scans") {
    val p = plan("s17_ann_deletes")
    // the probe filter must reach the insert generation's scan directly and
    // the tombstone generation's scan through the sigp equi-join constraint
    // — otherwise every lookup lists every bucket's tombstone files
    val prunedScans = "PartitionFilters: \\[[^\\]]*sigp".r.findAllIn(p).size
    assert(prunedScans >= 2,
      s"expected sigp partition filters on data and tombstone scans:\n$p")
  }

  test("q52 builds sketches from map-side partial maxes over column-pruned scans") {
    val p = plan("q52_hll_merge")
    // registers combine via partial_max before any exchange (the merge is
    // map-side associative — the property the query exists to prove)
    assert(p.contains("partial_max"), p)
    // the direct branch needs only the key column; the grouped branch two
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint>"), p)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_returnflag:string>"), p)
  }

  test("ANN query-vector point lookup reads the BASE table with a pushed vec_id filter") {
    // The s2/s3/s11/s12 lookups fetch the query vector via queryPoint —
    // never by filtering the partitioned index, which would list every
    // bucket's files per lookup at corpus scale.
    val p = graft.operators.Similarity.queryPointDf(spark, sf)
      .queryExecution.executedPlan.toString
    assert("PushedFilters: \\[[^\\]]*EqualTo\\(vec_id,0\\)".r.findFirstIn(p).isDefined,
      s"vec_id point predicate not pushed to parquet:\n$p")
    assert(p.contains("embeddings.parquet"),
      s"query vector not read from the base embeddings table:\n$p")
  }

  test("s12 filtered ANN composes partition pruning with label pushdown") {
    val p = plan("s12_ann_filtered")
    assert("PartitionFilters: \\[[^\\]]*sigp".r.findFirstIn(p).isDefined,
      s"no sigp partition filter in scan:\n$p")
    assert("PushedFilters: \\[[^\\]]*In\\(label".r.findFirstIn(p).isDefined,
      s"label predicate not pushed to parquet:\n$p")
  }

  test("p11 composed corpus prep scans the corpus exactly once") {
    val p = plan("p11_corpus_prep")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans === 1, s"expected one documents scan, got $scans:\n$p")
    assert(p.contains("Filter"), s"gate filter missing from the plan:\n$p")
  }

  test("t10 BM25 scores in two corpus scans with a broadcast idf table") {
    val p = plan("t10_bm25")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans === 2, s"expected two documents scans (stats+score), got $scans:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"idf join not broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-100 not TakeOrdered:\n$p")
  }

  test("s15 two-stage rerank broadcasts the candidate set, both stages TakeOrdered") {
    val p = plan("s15_two_stage_rerank")
    assert(p.contains("BroadcastHashJoin"), s"candidate fetch not broadcast:\n$p")
    val topk = "TakeOrderedAndProject".r.findAllIn(p).size
    assert(topk >= 2, s"expected TakeOrdered in both stages, got $topk:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in plan:\n$p")
  }

  test("s16 hybrid RRF bounds both legs before fusion, no cartesian") {
    val p = plan("s16_hybrid_rrf")
    // three TakeOrdered: bm25 top-100, vector top-100, fused top-20 —
    // the full-outer fusion join never sees more than 100 rows per side
    val topk = "TakeOrderedAndProject".r.findAllIn(p).size
    assert(topk >= 3, s"expected 3 bounded TakeOrdered stages, got $topk:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in plan:\n$p")
  }

  test("q18 range frame windows per (status, split), not per status alone") {
    val p = plan("q18_window_range")
    assert("windowspecdefinition\\(o_orderstatus#\\d+, _split".r
      .findFirstIn(p).isDefined, p)
    assert("hashpartitioning\\(o_orderstatus#\\d+, _split".r
      .findFirstIn(p).isDefined, p)
  }

  test("distributed rank: the six former single-partition sorts rank within buckets") {
    // p17/p19/p20/q66/q67/t15 once computed NTILE/row_number through
    // Window.orderBy with no partition key — the whole corpus through one
    // task. They now go through DistRank (monotone value-range buckets +
    // broadcast cumulative offsets); this pins the physical shape. The
    // blanket no-unpartitioned-Window guard over ALL queries lives in
    // QueriesSpec's per-query loop (one construction per JVM).
    for (q <- Seq("p17_curriculum", "p19_prune_curve", "p20_repeat_budget",
        "q66_histograms", "q67_revenue_concentration", "t15_heaps_law")) {
      val p = plan(q)
      assert("hashpartitioning\\(__drk_b".r.findFirstIn(p).isDefined,
        s"$q rank window not partitioned by the DistRank bucket:\n$p")
      assert(p.contains("BroadcastHashJoin"),
        s"$q bucket offsets not broadcast:\n$p")
    }
  }

  test("s25 filtered ANN keeps the candidate scan partition-pruned to its probe buckets") {
    val p = plan("s25_filtered_ann")
    assert("PartitionFilters: \\[[^\\]]*sigp".r.findFirstIn(p).isDefined,
      s"no sigp partition filter in the filtered-candidate scan:\n$p")
    // the metadata predicate rides the SAME scan stage as the prune —
    // label must appear as a data filter, not a post-rank re-filter
    assert("PushedFilters: \\[[^\\]]*label".r.findFirstIn(p).isDefined ||
      "Filter [^\\n]*label".r.findFirstIn(p).isDefined, p)
  }

  test("s26 probe-until-k keeps ring scans partition-pruned with the label predicate pushed") {
    val p = plan("s26_filtered_probe_k")
    assert("PartitionFilters: \\[[^\\]]*sigp".r.findFirstIn(p).isDefined,
      s"no sigp partition filter in the expanded-ring candidate scan:\n$p")
    // the predicate must ride the pruned scan stage (pre-filter), not a
    // post-rank re-filter — the whole point of composing s14 with s25
    assert("PushedFilters: \\[[^\\]]*label".r.findFirstIn(p).isDefined ||
      "Filter [^\\n]*label".r.findFirstIn(p).isDefined, p)
    // and it must return a FULL page where the fixed probe set starves
    val rows = SparkEntry.queries("s26_filtered_probe_k")(spark, sf).count()
    assert(rows === 10L, s"probe-until-k still starved: $rows rows")
  }

  test("d19 incremental dedup probes the old-corpus band index by equi-join, cap ahead of the probe") {
    val p = plan("d19_incremental_dedup")
    assert(!p.contains("CartesianProduct"), s"all-pairs shape in d19:\n$p")
    // the boilerplate-bucket cap must gate the index BEFORE the new-shard
    // probe joins it — an uncapped bucket would fan the probe out by the
    // bucket size (the d2 discipline)
    val capIdx = p.indexOf(s"bn#")
    assert(capIdx >= 0 && p.contains("<= " + operators.Dedup.LshBucketCap),
      s"bucket cap not in the old-index build:\n$p")
  }

  test("q76 LWW compaction is one max-struct aggregation: partial agg, no per-key window sort") {
    val p = plan("q76_latest_per_key")
    assert(!p.contains("Window"), s"q76 fell back to a window:\n$p")
    assert(p.contains("partial_max"), s"no map-side combine in q76:\n$p")
    assert("Scan parquet".r.findAllIn(p).size === 1,
      s"expected exactly one events scan:\n$p")
  }

  test("s27 index audit reads only (vec_id, sig) — the embedding payload is pruned from the scan") {
    val p = plan("s27_index_integrity")
    val read = "ReadSchema: [^\\n]*".r.findFirstIn(p).getOrElse(fail(s"no ReadSchema:\n$p"))
    assert(!read.contains("embedding"), s"audit scan reads the payload: $read")
    assert(read.contains("vec_id") && read.contains("sig"), read)
  }

  test("d23 phash near-dup: banded equi-join only — never an all-pairs hamming scan") {
    val p = plan("d23_phash_near_dup")
    assert(!p.contains("CartesianProduct"), s"all-pairs shape in d23:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"nested-loop hamming scan in d23:\n$p")
    // the candidate join is keyed on (band index, band value)
    assert(p.contains("i#") && p.contains("band#"),
      s"band keys missing from the d23 join:\n$p")
  }

  test("d20 prefix-filter join: equi-joins only, the pigeonhole prefix bound gates the index") {
    val p = plan("d20_prefix_filter_join")
    assert(!p.contains("CartesianProduct"), s"all-pairs shape in d20:\n$p")
    assert(p.contains("div 5"), s"prefix bound missing from d20 plan:\n$p")
    // r14: the rarest-first prefix is an array-sort aggregation (the
    // sort_array folds into the aggregate's result expressions; its
    // sliced output is what the plan shows), not a sort-based window —
    // no Window operator anywhere in the plan
    assert(!p.contains("Window"), s"window stage crept back into d20:\n$p")
    assert(p.contains("slice(ranked"), s"array-sort prefix missing:\n$p")
    assert(p.contains("array_intersect"), s"exact verify missing:\n$p")
  }

  test("p22 semantic decon broadcasts the benchmark; popcount prefilter short-circuits before the dot") {
    val p = plan("p22_semantic_decon")
    val joinLine = p.linesIterator
      .find(_.contains("BroadcastNestedLoopJoin"))
      .getOrElse(fail(s"benchmark side not broadcast:\n$p"))
    assert(joinLine.indexOf("bit_count") >= 0 &&
      joinLine.indexOf("floatdot") > joinLine.indexOf("bit_count"),
      s"dot not behind the popcount prefilter: $joinLine")
  }

  test("q77 OHLC bars are one partial aggregation: no window, single events scan") {
    val p = plan("q77_ohlc_bars")
    assert(!p.contains("Window"), s"q77 fell back to a window:\n$p")
    assert(p.contains("partial_min") && p.contains("partial_max"), p)
    assert("Scan parquet".r.findAllIn(p).size === 1,
      s"expected exactly one events scan:\n$p")
  }

  test("s28 kNN graph: bucket-local equi-join, top-k via WindowGroupLimit (no full rank materialization)") {
    val p = plan("s28_knn_graph")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"kNN graph degenerated to all-pairs:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"per-vector top-3 not group-limited before the window sort:\n$p")
  }

  test("s31 matryoshka: both rankings are distributed top-k (TakeOrdered), never a corpus sort") {
    val p = plan("s31_matryoshka_recall")
    assert("TakeOrderedAndProject".r.findAllIn(p).size >= 2,
      s"expected two TakeOrdered rankings (full + prefix):\n$p")
    assert(!p.contains("Exchange rangepartitioning(score"),
      s"full ranking degenerated into a corpus range-sort:\n$p")
    assert(!p.contains("Exchange rangepartitioning(p_score"),
      s"prefix ranking degenerated into a corpus range-sort:\n$p")
  }

  test("q82 join IVM: maintenance joins are delta-scoped — no second full view build") {
    val p = plan("q82_join_ivm")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q82 grew a pair scan:\n$p")
    // exactly ONE full orders-customer join may exist (the stored-view
    // stand-in); the refresh side must join through the affected-key
    // semi-join, so a second unrestricted o⋈c would show as a third
    // SortMergeJoin/BroadcastHashJoin on the custkey equality
    assert(p.contains("LeftSemi"), s"affected-key semi-join missing:\n$p")
    assert(p.contains("LeftAnti"), s"kept-rows anti-join missing:\n$p")
    // r20: Ora.dsum rides fixed_point_sum — the pin is the map-side
    // PARTIAL aggregate existing, whichever sum implements it
    assert(p.contains("partial_sum") || p.contains("partial_fixed_point_sum"),
      s"rollup lost its map-side partial:\n$p")
  }

  test("q83 z-order study: one corpus scan, two cascaded hash aggs, no window, no join") {
    val p = plan("q83_zorder_pruning")
    assert("Scan parquet".r.findAllIn(p).size === 1,
      s"layout study re-scanned the corpus:\n$p")
    assert(!p.contains("Window"), s"q83 grew a window:\n$p")
    assert(!p.contains("Join"), s"q83 grew a join:\n$p")
    assert(p.contains("partial_min") && p.contains("partial_max"),
      s"bucket boxes lost their map-side partials:\n$p")
  }

  test("m15 pair alignment: keyed embedding join, in-row signs — no window, no pair scan") {
    val p = plan("m15_pair_alignment")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"m15 degenerated to all-pairs:\n$p")
    assert(!p.contains("Window"), s"m15 grew a window:\n$p")
  }

  test("d24 line dedup: keyed exchanges only — no window, no cartesian, partial df aggregation") {
    val p = plan("d24_line_dedup")
    assert(!p.contains("Window"), s"d24 grew a window:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"d24 degenerated to a pair scan:\n$p")
    assert(p.contains("partial_count(distinct"),
      s"line-frequency pass lost its map-side partial:\n$p")
  }

  test("s30 kNN join: probes meet only their signature cohort, never probes x corpus") {
    val p = plan("s30_knn_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"kNN join degenerated to all-pairs:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"per-probe top-3 not group-limited before the window sort:\n$p")
  }

  test("q80 weighted median: supplier-keyed window, map-side partial total, no cartesian") {
    val p = plan("q80_weighted_median")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q80 grew a pair scan:\n$p")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"total-weight aggregate lost its map-side partial:\n$p")
  }

  test("m14 pair admission: dup edges stay banded (equi-join), verdict join keyed") {
    val p = plan("m14_pair_admission")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"m14 degenerated to all-pairs:\n$p")
  }

  test("t20 bigram surprisal: in-row bigram assembly, LM joins keyed, only the scalar totals broadcast") {
    val p = plan("t20_bigram_surprisal")
    assert(!p.contains("CartesianProduct"), s"t20 grew a cartesian:\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      s"only the 1-row (total, v) scalar may be a BNLJ:\n$p")
    assert(!p.contains("Window"), s"t20 grew a window:\n$p")
  }

  test("q81 group mode: no window, cascaded hash aggregations with map-side partials") {
    val p = plan("q81_group_mode")
    assert(!p.contains("Window"), s"q81 grew a window — mode is two hash aggs:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q81 grew a pair scan:\n$p")
    assert(p.contains("partial_count"),
      s"(segment, priority) count lost its map-side partial:\n$p")
    assert(p.contains("partial_min"),
      s"per-segment struct argmin lost its map-side partial:\n$p")
  }

  test("p24 mixture plan: one token aggregation, only the 1-row totals broadcast, no window") {
    val p = plan("p24_mixture_plan")
    assert(!p.contains("Window"), s"p24 grew a window:\n$p")
    assert(!p.contains("CartesianProduct"), s"p24 grew a cartesian on data:\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      s"only the 1-row totals may be a BNLJ:\n$p")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"per-source inventory lost its map-side partial:\n$p")
  }

  test("p25 quality funnel: fully lazy — exactly ONE corpus scan, cascade is a broadcast join on the tiny frames (r15)") {
    val p = plan("p25_quality_funnel")
    // r15 retired the eager driver collect: the whole funnel is one lazy
    // plan — a single corpus aggregation (the ≤6-row first-fail
    // histogram) broadcast under the 5-row rule frame; plan-building and
    // explain cost nothing
    assert("Scan parquet".r.findAllIn(p).size === 1,
      s"the funnel must scan the corpus exactly once:\n$p")
    assert(!p.contains("Window"), s"p25 grew a window:\n$p")
    assert(p.contains("LocalTableScan"),
      s"expected the 5-row rule frame:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      s"cascade join is not broadcast:\n$p")
  }

  test("d22 manifest is one scan + one partial object aggregation, digest buffers shard-bounded") {
    val p = plan("d22_release_manifest")
    assert("Scan parquet".r.findAllIn(p).size === 1, p)
    assert(p.contains("partial_collect_list"),
      s"no map-side combine on the digest buffer:\n$p")
    assert(!p.contains("Window"), p)
  }

  test("t19 KL drift: the corpus pays one token aggregation, the matrix runs on the grid") {
    val p = plan("t19_kl_drift")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), s"t19 grew a window:\n$p")
    assert(p.contains("partial_sum"), p)
  }

  test("p23 verdict matrix: every join keyed (benchmark semi-join included), no all-pairs") {
    val p = plan("p23_decon_matrix")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin") ||
      // the one allowed loop join is p22's broadcast-benchmark leg
      p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).size <= 1,
      s"unexpected loop joins in p23:\n$p")
  }

  test("d21 banding sweep: pair universe from the bucketed pass, no corpus cartesian") {
    val p = plan("d21_banding_sweep")
    assert(!p.contains("CartesianProduct"), s"all-pairs shape in d21:\n$p")
  }

  test("m12 interleaved packing windows per (mime, source) lane — never one global pack") {
    val p = plan("m12_interleaved_pack")
    assert("hashpartitioning\\(mime#\\d+, source#\\d+".r.findFirstIn(p).isDefined,
      s"packing window not lane-partitioned:\n$p")
  }

  test("q75 SCD2 lookup is a user-keyed equi-join with the interval as residual, no BNLJ") {
    val p = plan("q75_scd2_lookup")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"temporal join degenerated to a loop join:\n$p")
    val joinLine = p.linesIterator
      .find(l => l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin")
        || l.contains("BroadcastHashJoin"))
      .getOrElse(fail(s"no equi-join in q75 plan:\n$p"))
    assert(joinLine.contains("user_id") || joinLine.contains("d_uid"), joinLine)
  }

  test("q73 sliding exact distinct pays event scale once: a single events scan, pane-keyed after") {
    val p = plan("q73_sliding_exact_panes")
    // q69's exact leg scans events twice and re-explodes events into all
    // 4 covering windows; the pane-run construction must collapse to
    // (user, pane) off ONE scan and explode only at run granularity
    assert("Scan parquet".r.findAllIn(p).size === 1,
      s"expected exactly one events scan:\n$p")
    assert("hashpartitioning\\(user_id#\\d+".r.findFirstIn(p).isDefined,
      s"run window not user-keyed:\n$p")
    assert(p.contains("sequence("), s"no run-granular explode:\n$p")
  }

  test("p14 epoch shuffle ranks within (epoch, bucket) — never one window per epoch") {
    val p = plan("p14_epoch_shuffle")
    // the row_number window must be keyed by BOTH epoch and the hash
    // prefix bucket (3x256 parallel partitions); an epoch-only window
    // would serialize each epoch through one partition at 100 TB
    assert("hashpartitioning\\(epoch#\\d+L?, b#\\d+".r.findFirstIn(p).isDefined,
      s"rank window not partitioned by (epoch, b):\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"bucket offsets not broadcast:\n$p")
  }

  test("q56 rolling anomaly: one user-keyed exchange, all three frame aggs in one Window") {
    val p = plan("q56_rolling_anomaly")
    assert("hashpartitioning\\(user_id#\\d+L?".r.findFirstIn(p).isDefined, p)
    // count + both sums must share the single windowspecdefinition pass —
    // three Window operators would sort the partition three times
    assert(p.sliding("Window [".length).count(_ == "Window [") == 1,
      s"expected exactly one Window operator:\n$p")
    assert(p.contains("PushedFilters"), p)
  }

  test("s20 MaxSim is one corpus scan + broadcast query, no shuffle") {
    val p = plan("s20_maxsim")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("ShuffleExchange") &&
      !p.contains("Exchange hashpartitioning"),
      s"MaxSim scan must not shuffle:\n$p")
    assert(p.contains("Not(EqualTo(vec_id,0))"),
      s"probe-exclusion filter not pushed to the scan:\n$p")
  }

  test("u9 native HLL is a single ObjectHashAggregate pair (one exchange)") {
    val p = plan("u9_native_hll_agg")
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("partial_hll_sketch") || p.contains("partial_hllsketch") ||
      p.contains("hll_sketch"), p)
    // exactly one hash exchange (the group-by); the only other exchange is
    // the output-order rangepartitioning
    assert(p.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning") == 1,
      s"expected one hash exchange:\n$p")
  }

  test("q58 co-purchase: equi-join pair build, broadcast marginals, no cartesian on data") {
    val p = plan("q58_copurchase")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q59 SCD2: both window layers + run agg ride ONE user-keyed exchange") {
    val p = plan("q59_scd2_build")
    // windows over (user_id) and (user_id, state) plus the run groupBy must
    // not each re-shuffle: Spark plans them over a single hashpartitioning
    // of user_id (the state/grp keys are subsumed by sorting, and the
    // grp aggregation is partial over the same exchange)
    val n = p.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning")
    assert(n <= 2, s"expected <=2 hash exchanges, got $n:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q61 pagerank: persisted edge list reused across supersteps, no cartesian") {
    val p = plan("q61_pagerank")
    assert(p.contains("InMemoryTableScan"),
      s"edges must come from the persisted relation:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q63 triangles: persisted edges, keyed equi-joins only, semi-join close") {
    val p = plan("q63_triangles")
    assert(p.contains("InMemoryTableScan"),
      s"edge list must come from the persisted relation:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("LeftSemi"), s"closing edge must be a semi join:\n$p")
  }

  test("p16 length batching: window + batch agg ride one bucket-keyed exchange") {
    val p = plan("p16_length_batching")
    // the row_number window partitions by bucket; the (bucket, batch_id)
    // aggregation is clustered by the same bucket key — one hash exchange
    // total (the trailing rangepartitioning is the ORDER BY)
    val n = p.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning")
    assert(n <= 1, s"expected <=1 hash exchange, got $n:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("m9 scene detect: lag window + scene agg share the media_id exchange") {
    val p = plan("m9_scene_detect")
    val n = p.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning")
    assert(n <= 1, s"expected <=1 hash exchange, got $n:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q65 semi-additive: keyed windows only, no single-partition stage") {
    val p = plan("q65_semi_additive")
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(!p.contains("CartesianProduct"), p)
    // (user_id, day) window + day agg: at most the two keyed exchanges
    val n = p.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning")
    assert(n <= 2, s"expected <=2 hash exchanges, got $n:\n$p")
  }

  test("m10 VAD: totals + islands windows share one media_id exchange") {
    val p = plan("m10_vad_segments")
    val n = p.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning")
    assert(n <= 1, s"expected <=1 hash exchange, got $n:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("p17 curriculum: the two global windows ride one single-partition exchange") {
    val p = plan("p17_curriculum")
    // ntile + row_number are both global (driver-contract total order) —
    // they must chain on ONE SinglePartition exchange, not two
    val n = p.sliding("Exchange SinglePartition".length)
      .count(_ == "Exchange SinglePartition")
    assert(n <= 1, s"expected <=1 single-partition exchange, got $n:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("s21 IVF-PQ: shortlist is TakeOrdered, rerank joins broadcast") {
    val p = plan("s21_ivfpq")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q66 histograms: equi-width side has no single-partition exchange") {
    val p = plan("q66_histograms")
    // the NTILE leg is the contracted global order; the width leg must
    // stay a plain partial-agg groupBy — exactly one SinglePartition
    // exchange in the whole plan (the depth window), none for width
    val n = p.sliding("Exchange SinglePartition".length)
      .count(_ == "Exchange SinglePartition")
    assert(n <= 1, s"expected <=1 single-partition exchange, got $n:\n$p")
    assert(p.contains("partial_"), p)
  }

  test("t13 RAKE: token relation joins stay keyed, no cartesian") {
    val p = plan("t13_rake_keyphrases")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("d16 canonical pick broadcasts the near-dup cluster relation") {
    val p = plan("d16_canonical_pick")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("p18 dataset card: fp window + card agg, no single-partition stage") {
    val p = plan("p18_dataset_card")
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(p.contains("partial_"), p)
  }

  test("t14 novelty: shingle-keyed agg + join, no pair expansion joins") {
    val p = plan("t14_ngram_novelty")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("s22 sweep: every point is TakeOrdered over the one assigned relation") {
    val p = plan("s22_nprobe_sweep")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("p19/q67 decile curves: corpus work is one partial agg, curve windows are 10-row") {
    for (name <- Seq("p19_prune_curve", "q67_revenue_concentration")) {
      val p = plan(name)
      // the NTILE assignment + the 10-row cumsum are the only global stages
      val n = p.sliding("Exchange SinglePartition".length)
        .count(_ == "Exchange SinglePartition")
      assert(n <= 2, s"$name: expected <=2 single-partition exchanges, got $n:\n$p")
      assert(p.contains("partial_"), p)
    }
  }

  test("q68 IVM: base + delta partial aggs merge, no single-partition stage") {
    val p = plan("q68_incremental_view")
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("m11 modality card is one mime-keyed partial agg") {
    val p = plan("m11_modality_card")
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t16 confusion matrix: keyed aggs + broadcast totals join") {
    val p = plan("t16_lang_confusion")
    assert(p.contains("partial_"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("s23 range search: filter-shaped (no TakeOrdered), keyed label join") {
    val p = plan("s23_range_search")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q69 sliding HLL: the pane->window explode runs over registers, not events") {
    val p = plan("q69_sliding_hll")
    assert(!p.contains("CartesianProduct"), p)
    // the register path: rho agg (pane,b) -> explode -> (w,b) agg -> w agg
    assert(p.contains("partial_"), p)
    // Generate (the explode) must sit ABOVE a HashAggregate (pane
    // registers), i.e. the est-branch explode consumes aggregated rows
    val lines = p.linesIterator.toSeq
    val genIdx = lines.indexWhere(_.contains("Generate explode"))
    assert(genIdx >= 0, p)
    assert(lines.drop(genIdx).exists(_.contains("HashAggregate")),
      s"explode must consume the pane-register aggregate:\n$p")
  }

  test("d17 tf-idf verify: fetch joins keyed, no corpus pair scan") {
    val p = plan("d17_tfidf_verify")
    assert(!p.contains("CartesianProduct"), p)
    // nested loops may appear ONLY as the 1-row n_docs scalar cross join
    // (replicated once per use of the weighted-term subtree); every
    // BNLJ build side must be that single-row aggregate, never a table
    p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin"))
      .foreach(l => assert(l.contains("Cross"), s"non-scalar BNLJ:\n$l\n$p"))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("q71 nearest-event: bucketed equi join, no nested loop") {
    val p = plan("q71_nearest_event")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("s24 centroid shift: one corpus-sized partial agg, tiny self-join") {
    val p = plan("s24_centroid_shift")
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q72 interval coverage: both windows + aggs ride the user_id exchange") {
    val p = plan("q72_interval_coverage")
    val n = p.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning")
    assert(n <= 1, s"expected <=1 hash exchange, got $n:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t17 burstiness: keyed rollups, TakeOrdered top-20") {
    val p = plan("t17_burstiness")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("partial_"), p)
  }

  test("kv10-style point get scans one bucket; full get scans many") {
    // lib-level twin of the BucketedPotSpec assertion, kept here with the
    // other plan audits: the pruned read's file set is a single bucket dir
    val root = java.nio.file.Files.createTempDirectory("graft-pa-pg").toString
    val t = graft.kv.BucketedPotTable(spark, root, "t", 16)
    import spark.implicits._
    t.upsert((1 to 100).map(i => (s"k$i", i)).toDF("key", "v"))
    val pointDirs = t.get("k5").inputFiles
      .map(_.replaceFirst("/[^/]*$", "")).distinct
    assert(pointDirs.length === 1, pointDirs.mkString(","))
    assert(t.get().inputFiles
      .map(_.replaceFirst("/[^/]*$", "")).distinct.length > 1)
  }

  test("q88 grouped top-k (r16): two-phase custom exec — partial heap " +
    "before ONE hash exchange, final after; bit-equal to the window form") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sf)
      .select($"source", $"lang", $"doc_id", $"n_chars")
      .repartition(5) // multiple map partitions: the partial phase is real
    val topk = graft.plans.GroupedTopK.topKPerGroup(docs, 3,
      Seq("source", "lang"), Seq(("n_chars", false), ("doc_id", true)))
    val p = topk.queryExecution.executedPlan.toString
    assert("GroupedTopK \\[".r.findAllIn(p).length >= 2,
      s"expected partial+final GroupedTopKExec:\n$p")
    // the exec prints (..., k, mode, partial): ", 3, RowNumberK, true"
    // = partial phase
    assert(p.contains(", 3, RowNumberK, true") &&
      p.contains(", 3, RowNumberK, false"), p)
    assert(p.contains("Exchange hashpartitioning(source"),
      s"no group-key exchange between the phases:\n$p")
    // the exchange input is the PARTIAL side (bounded rows), pinned by
    // plan nesting: the final (partial=false) exec sits ABOVE it
    assert(p.indexOf(", 3, RowNumberK, false") <
        p.indexOf("Exchange hashpartitioning(source"),
      s"final phase must sit above the exchange:\n$p")
    // value equality with the flat window form, including ties
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source", $"lang")
      .orderBy($"n_chars".desc, $"doc_id")
    val expected = docs
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter($"rn" <= 3).drop("rn")
      .orderBy($"source", $"lang", $"n_chars".desc, $"doc_id")
      .collect().toSeq
    val got = topk
      .orderBy($"source", $"lang", $"n_chars".desc, $"doc_id")
      .collect().toSeq
    assert(got === expected,
      s"grouped top-k diverges from the window form: ${got.take(5)}")
  }

  test("t27 memorization risk (r17): the df exchange keys on the 8-byte " +
    "xxhash64(gram), never the 20-token gram string") {
    val p = plan("t27_memorization_risk")
    assert(p.contains("hashpartitioning(gh#"),
      s"df exchange does not key on the gram hash:\n$p")
    assert(!p.contains("hashpartitioning(gram#"),
      s"raw gram string rides an exchange:\n$p")
    // the string itself dies map-side: no exchange row schema carries it
    val exchanges = "Exchange [^\\n]*".r.findAllIn(p).toSeq
    assert(exchanges.nonEmpty && exchanges.forall(!_.contains("gram#")),
      s"gram string survives into an exchange:\n${exchanges.mkString("\n")}")
  }

  test("GroupedTopK partial phase flushes on memory pressure (r17): group " +
    "cardinality >> budget emits+clears heaps, counted in the metric, " +
    "bit-equal to the window form") {
    import spark.implicits._
    import org.apache.spark.sql.functions.row_number
    // 5000 groups against a budget of 64: the partial map MUST flush many
    // times per partition; correctness is free because the fold is
    // algebraic (top-k of top-k's is top-k — final phase re-merges chunks)
    spark.conf.set("spark.graft.topk.partialMaxGroups", "64")
    // AQE wraps the partial exec in a ShuffleQueryStage leaf, which hides
    // it from plan.collect — turn it off so the metric is reachable
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = spark.range(0, 20000, 1, 5)
        .selectExpr("id % 5000 as g", "id as v")
      val topk = graft.plans.GroupedTopK.topKPerGroup(
        df, 2, Seq("g"), Seq(("v", false)))
      // execute topk's OWN QueryExecution (an .orderBy would build a new
      // one whose metrics never tick); sort driver-side for comparison
      def sorted(rows: Array[org.apache.spark.sql.Row]) =
        rows.toSeq.sortBy(r => (r.getLong(0), -r.getLong(1)))
      val got = sorted(topk.collect())
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"g").orderBy($"v".desc)
      val expected = sorted(df.withColumn("rn", row_number().over(w))
        .filter($"rn" <= 2).drop("rn").collect())
      assert(got === expected,
        "flush-on-pressure changed the answer — the fold is not re-folding")
      // the flush actually happened: pinned via the partial exec's metric
      val phys = topk.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      val flushes = phys.collect {
        case e: graft.plans.GroupedTopKExec if e.partial =>
          e.metrics("partialFlushes").value
      }.sum
      assert(flushes > 0,
        s"expected partial-phase flushes at 5000 groups vs budget 64:\n$phys")
    } finally {
      spark.conf.unset("spark.graft.topk.partialMaxGroups")
      spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
    }
  }

  test("GroupedTopK rank/dense_rank modes (r17): boundary ties of the " +
    "k-th survive (RankK) / first k distinct keys survive (DenseRankK), " +
    "bit-equal to the window forms on a tie-heavy fixture") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{dense_rank, rank}
    // tie-heavy: score = id % 7 gives dense tie groups per partition key
    val df = spark.range(0, 3000, 1, 4)
      .selectExpr("id % 11 as g", "id % 7 as score", "id as doc")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"g").orderBy($"score".desc)
    def sortAll(d: org.apache.spark.sql.DataFrame) =
      d.orderBy($"g", $"score".desc, $"doc").collect().toSeq
    val gotRank = graft.plans.GroupedTopK.topKPerGroup(
      df, 3, Seq("g"), Seq(("score", false)), graft.plans.RankK)
    val expRank = df.withColumn("r", rank().over(w))
      .filter($"r" <= 3).drop("r")
    assert(sortAll(gotRank) === sortAll(expRank),
      "RankK diverges from the rank() window form")
    val gotDense = graft.plans.GroupedTopK.topKPerGroup(
      df, 3, Seq("g"), Seq(("score", false)), graft.plans.DenseRankK)
    val expDense = df.withColumn("r", dense_rank().over(w))
      .filter($"r" <= 3).drop("r")
    assert(sortAll(gotDense) === sortAll(expDense),
      "DenseRankK diverges from the dense_rank() window form")
    // rank mode output EXCEEDS k on ties — it keeps ties of the k-th
    val oneGroup = gotRank.filter($"g" === 0).count()
    assert(oneGroup > 3, s"expected boundary ties kept, got $oneGroup rows")
  }

  test("t29 packing purity: doc->bin assignment is a keyed equi-join — " +
    "no join carries a range residual, no loop join (r18)") {
    val p = plan("t29_packing_purity")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"loop join in t29:\n$p")
    // r17's shape joined docs to the bin frame on doc_id BETWEEN
    // first_doc AND last_doc — a >=/<= residual on the join row. The
    // fold-emitted assignment makes every join pure-equi: no join line
    // may carry an inequality.
    val joinLines = p.linesIterator.filter(_.contains("Join")).toList
    assert(joinLines.nonEmpty, s"no join found in t29 plan:\n$p")
    joinLines.foreach { l =>
      assert(!l.contains(">=") && !l.contains("<=") &&
        !l.contains("first_doc") && !l.contains("last_doc"),
        s"range residual survived on a t29 join:\n$l")
    }
  }

  test("s38 NSW search: expansion joins are keyed against the persisted " +
    "adjacency; the only loop joins are the broadcast entry seed and the " +
    "priced exact-recall reference (r18)") {
    val p = plan("s38_nsw_search")
    assert(!p.contains("CartesianProduct"), s"cartesian in s38:\n$p")
    // broadcast loop joins: entries seed + the exact price-tag leg — the
    // walk itself must stay keyed (every adj/codes expansion an equi-join)
    val loops = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(loops <= 2, s"expected <=2 broadcast loop joins, got $loops:\n$p")
    // probe-partitioned windows only, never a global rank
    assert(!"Window \\[.*\\], \\[\\]".r.findFirstIn(p).isDefined,
      s"unpartitioned window in s38:\n$p")
    // the walk reads the PUBLISHED artifact, not a recomputed self-join
    assert(p.contains("Scan parquet"), s"no persisted-graph scan:\n$p")
  }

  test("p31 seeded shuffle: order fingerprint is a streamed chained digest " +
    "— no collect_list buffer, shard exchange + within-partition sort (r18)") {
    val p = plan("p31_seeded_shuffle")
    assert(!p.contains("collect_list") && !p.contains("sort_array"),
      s"whole-shard aggregation buffer survived in p31:\n$p")
    assert(p.contains("MapPartitions") || p.contains("SerializeFromObject"),
      s"expected the mapPartitions digest fold:\n$p")
    assert("hashpartitioning\\(shard#\\d+".r.findFirstIn(p).isDefined,
      s"no shard exchange in p31:\n$p")
    // the shard-local sort (global=false), never a corpus-global one
    assert("Sort \\[shard#\\d+\\w* ASC NULLS FIRST, skey#\\d+ ASC NULLS FIRST\\], false"
      .r.findFirstIn(p).isDefined,
      s"expected a NON-GLOBAL (shard, skey) sort:\n$p")
  }
}
