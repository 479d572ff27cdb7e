package graft

import graft.operators.{Dedup, Scale}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ScaleSpec extends AnyFunSuite {
  import TestSpark._

  /** Write a synthetic documents table and return its dir (so the capped
    * dedup operators can be driven through their real Tables entry point).
    */
  private def syntheticDocsDir(): String = {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-scale").toString
    val boiler = (100 to 249).map(i =>
      (i.toLong, "all rights reserved template legal notice", "en", "synth", 41L))
    val trio = (1 to 3).map(i =>
      (i.toLong, "unique special document content words here", "en", "synth", 42L))
    val pair = (4 to 5).map(i =>
      (i.toLong, "alpha beta gamma delta epsilon zeta eta theta", "en", "synth", 46L))
    val noise = (10 to 19).map(i => // fully disjoint word sets: no shared shingles
      (i.toLong, s"filler$i text$i number$i with$i distinct$i words$i", "en", "synth", 40L))
    (boiler ++ trio ++ pair ++ noise)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("d3 df cap drops boilerplate-identical docs, keeps genuine near-dups") {
    // 150 byte-identical boilerplate docs would contribute C(150,2)=11175
    // quadratic join rows on every one of their shingles; the df cap (50)
    // removes those shingles entirely (exact duplicates are d1's job), so
    // the join stays bounded and only genuine near-dup pairs survive.
    val dir = syntheticDocsDir()
    val rows = Dedup.ngramJaccard(spark, dir)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = Set((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L))
    assert(rows.toSet === expected,
      s"expected only the genuine near-dup pairs, got ${rows.toSet}")
  }

  test("d10 repeated spans: exact-duplicate docs show 100% span duplication") {
    import spark.implicits._
    val d = "/root/testdata/sf0.1" // sf0.01 has no byte-identical doc pair
    val out = Dedup.repeatedSpans(spark, d)
      .select($"doc_id", $"n_spans", $"dup_spans", $"dup_pct").collect()
    // invariants on every row
    out.foreach { r =>
      assert(r.getLong(2) <= r.getInt(1).toLong, s"dup_spans > n_spans: $r")
      assert(r.getLong(3) >= 0 && r.getLong(3) <= 100, s"dup_pct range: $r")
    }
    // a byte-identical copy shares EVERY span with its twin: any doc whose
    // exact md5 fingerprint occurs >= 2 times (and that is long enough to
    // have spans) must report dup_pct = 100
    val dupDocs = Tables.documents(spark, d)
      .groupBy(md5($"text").as("fp")).agg(collect_list($"doc_id").as("ids"))
      .filter(size($"ids") >= 2)
      .select(explode($"ids").as("doc_id"))
      .collect().map(_.getLong(0)).toSet
    val pctOf = out.map(r => r.getLong(0) -> r.getLong(3)).toMap
    val bad = dupDocs.filter(id => pctOf.get(id).exists(_ != 100L))
    assert(bad.isEmpty, s"exact-dup docs without full span coverage: $bad")
    assert(dupDocs.exists(pctOf.contains), "fixture has no exact-dup docs with spans")
  }

  test("d3 df cap is a count-agg prefilter: no reducer holds an uncapped doc list") {
    // The boilerplate shingle (df=150) must be dropped by the cheap
    // groupBy(h).count() aggregate + LeftSemi join BEFORE collect_set runs,
    // so the only aggregation buffers holding doc-id lists are df-capped.
    // Guard the plan shape: a LeftSemi join feeds the collect_set, and the
    // two h-keyed shuffles of docSh collapse into one ReusedExchange.
    val dir = syntheticDocsDir()
    // Structural (not string-order) check on the optimized logical plan:
    // the aggregate that builds doc-id lists (collect_set) must have the
    // df-cap LeftSemi join in its SUBTREE — i.e. the cheap count filter ran
    // before any doc list is buffered. (Locally the small `ok` side
    // broadcasts, so the probe never shuffles; at scale it degrades to a
    // shuffle join — either way the logical shape below is what guarantees
    // bounded reducer memory.)
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val optimized = Dedup.ngramJaccard(spark, dir).queryExecution.optimizedPlan
    val collectSetAggs = optimized.collect {
      case a: Aggregate if a.aggregateExpressions.exists(
        _.exists(_.isInstanceOf[
          org.apache.spark.sql.catalyst.expressions.aggregate.CollectSet])) => a
    }
    assert(collectSetAggs.nonEmpty, s"bucket build missing from plan:\n$optimized")
    collectSetAggs.foreach { agg =>
      val semis = agg.child.collect { case j: Join if j.joinType == LeftSemi => j }
      assert(semis.nonEmpty,
        s"collect_set aggregate is not fed by the df-cap LeftSemi join:\n$agg")
    }
  }

  test("d2 LSH bucket cap drops degenerate buckets, keeps genuine near-dups") {
    // the 150 identical docs share every band signature -> bucket size 150
    // > cap 100 -> dropped (quadratic in-bucket pair expansion); the size-3
    // and size-2 buckets stay.
    val dir = syntheticDocsDir()
    val rows = Dedup.minhashLsh(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = Set((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L))
    assert(rows.toSet === expected,
      s"expected only the genuine near-dup pairs, got ${rows.toSet}")
  }

  test("d6 clusters assign each near-dup component its min doc_id") {
    val dir = syntheticDocsDir()
    val rows = Dedup.neardupClusters(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rows === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L),
      s"unexpected clusters: $rows")
  }

  test("d5 sketch prefilter: full recall on fixture, <12% of pairs reach the dot") {
    import spark.implicits._
    val rows = Tables.embeddings(spark, sf)
      .select($"vec_id",
        graft.functions.BitSketch.sketch($"embedding", Dedup.SketchPlanes).as("sk"),
        $"embedding".cast("array<double>").as("emb"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getSeq[Double](2).toArray))
      .sortBy(_._1)
    var candidates = 0L
    var pairs = 0L
    var missed = 0L
    var brute = Set.empty[(Long, Long)]
    for (i <- rows.indices; j <- (i + 1) until rows.length) {
      val (ia, ska, ea) = rows(i)
      val (ib, skb, eb) = rows(j)
      val ham = ska.zip(skb).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
      var dot = 0.0
      var k = 0
      while (k < ea.length) { dot += ea(k) * eb(k); k += 1 }
      pairs += 1
      if (ham <= Dedup.SketchHammingMax) candidates += 1
      if (dot >= 0.45) {
        brute += ((ia min ib, ia max ib))
        if (ham > Dedup.SketchHammingMax) missed += 1
      }
    }
    assert(missed === 0, s"prefilter dropped $missed true pairs")
    assert(candidates.toDouble / pairs < 0.12,
      s"prefilter too weak: $candidates/$pairs pairs survive")
    // and the operator's output is exactly the brute-force result
    val got = Dedup.embedNearDup(spark, sf)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === brute, s"operator != brute force: got ${got.size}, want ${brute.size}")
  }

  test("d7 16-bit bands at 10x: full recall on planted near-dups, sub-quadratic candidates") {
    import spark.implicits._
    // 10x the sf0.1 embeddings corpus: 20k seeded random unit vectors, with
    // 50 planted near-dup pairs (copy + small noise -> cos ~ 0.999, the
    // true near-duplicate-embedding regime). 16-bit bands must (a) surface
    // every planted pair and (b) generate candidates orders of magnitude
    // below all-pairs — the claim that makes banding the 100 TB path.
    val rnd = new scala.util.Random(20260812L)
    def unit(): Array[Float] = {
      val v = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val base = Array.fill(20000)(unit())
    val planted = (0 until 50).map { i =>
      val src = base(i * 17)
      val noisy = src.map(x => x + (rnd.nextGaussian() * 0.02).toFloat)
      val n = math.sqrt(noisy.map(x => x.toDouble * x).sum)
      (20000L + i, noisy.map(x => (x / n).toFloat), i * 17L)
    }
    val all = base.zipWithIndex.map { case (v, i) => (i.toLong, v) } ++
      planted.map { case (id, v, _) => (id, v) }
    val e = all.toSeq.toDF("vec_id", "embedding")
      .select($"vec_id",
        graft.functions.BitSketch.sketch($"embedding", Dedup.SketchPlanes).as("sk"))
    val cands = Dedup.sketchBandPairs(e, bandBits = 16, cap = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = planted.map { case (id, _, srcId) => (srcId, id) }.toSet
    val missed = expected -- cands
    assert(missed.isEmpty, s"banding missed ${missed.size} planted near-dup pairs")
    val allPairs = 20050L * 20049 / 2
    assert(cands.size < allPairs / 100,
      s"candidate set not sub-quadratic: ${cands.size} of $allPairs pairs")
  }

  test("s4 IVF trained centroids: balanced cells and full recall@10 at sf0.1") {
    import graft.operators.{AnnIndex, Similarity}
    val d = "/root/testdata/sf0.1"
    // cell balance: the one-round-Lloyd-trained cells must not produce a
    // hot cell (a skewed cell defeats the partition pruning that IS the
    // index)
    val counts = AnnIndex.readIvf(spark, d)
      .groupBy("cellp").count().collect().map(_.getLong(1))
    assert(counts.length === AnnIndex.IvfCentroids)
    val mean = counts.sum.toDouble / counts.length
    assert(counts.max <= 2 * mean,
      s"hot IVF cell: max ${counts.max} vs mean $mean")
    // recall: the same joins s6 oracle-checks — IVF top-2-cell probing
    // must not lose any of the exact top-10 on this corpus
    val rec = Similarity.annRecall(spark, d).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(rec("s4_ann_ivf") === 10,
      s"s4 recall@10 dropped: ${rec("s4_ann_ivf")}/10")
  }

  test("salted join is row-identical to the plain join under heavy skew") {
    import spark.implicits._
    // 90% of fact rows share one hot key
    val big = (1 to 5000).map(i =>
      (if (i % 10 == 0) s"k${i % 7}" else "HOT", i.toLong)).toDF("key", "id")
    val small = Seq(("HOT", "h"), ("k0", "a"), ("k3", "b")).toDF("key", "name")

    val plain = big.join(small, "key").select("key", "id", "name")
    val salted = Scale.saltedJoin(big, small, "key", saltFactor = 8,
      bigUniqueCol = "id").select("key", "id", "name")

    assert(salted.count() === plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("co-bucketed tables join without any shuffle exchange") {
    // a session of its own: the conf set below reaches no other test
    val spark = TestSpark.spark.newSession()
    import spark.implicits._
    // in-memory catalog forgets tables across sessions but their managed
    // locations persist — clean both before writing
    Seq("orders_b", "lineitem_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        import scala.reflect.io.Directory
        new Directory(loc).deleteRecursively()
      }
    }
    val o = Tables.orders(spark, sf).select($"o_orderkey", $"o_totalprice")
    val l = Tables.lineitem(spark, sf).select($"l_orderkey", $"l_quantity")
    Scale.writeBucketed(o, "orders_b", "o_orderkey", 4)
    Scale.writeBucketed(l.withColumnRenamed("l_orderkey", "o_orderkey"),
      "lineitem_b", "o_orderkey", 4)

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val joined = spark.table("orders_b")
      .join(spark.table("lineitem_b"), "o_orderkey")
    val exec = joined.queryExecution.executedPlan
    val shuffles = exec.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.isEmpty,
      s"expected shuffle-free co-located join, got:\n${exec.treeString}")
    // and it still computes the right thing
    val expected = Tables.orders(spark, sf).join(
      Tables.lineitem(spark, sf),
      col("o_orderkey") === col("l_orderkey")).count()
    assert(joined.count() === expected)
  }

  test("q63 degree-ordered orientation is row-identical to id-order at sf0.1") {
    // The scaladoc's 100 TB claim, converted to tested fact: orienting
    // edges by (degree, id) instead of id bounds hub wedge fan-out and
    // must change NOTHING about the output — the triangle set is
    // invariant under any consistent total order.
    val big = "/root/testdata/sf0.1"
    val idOrder = operators.Graph
      .trianglesOriented(spark, big, degreeOrder = false).collect().toSeq
    val degOrder = operators.Graph
      .trianglesOriented(spark, big, degreeOrder = true).collect().toSeq
    assert(degOrder === idOrder)
  }
}
