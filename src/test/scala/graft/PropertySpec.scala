package graft

import graft.functions.VectorFunctions
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck-generated property tests (SURVEY.md §5: "ScalaTest + ScalaCheck
  * property tests") — deterministic seeds so failures reproduce.
  */
class PropertySpec extends AnyFunSuite {
  import TestSpark._

  private val params = Gen.Parameters.default

  private def samples[T](g: Gen[T], n: Int, seed0: Long): Seq[T] = {
    var seed = Seed(seed0)
    (1 to n).map { _ =>
      val v = g.pureApply(params, seed)
      seed = seed.next
      v
    }
  }

  private val vecGen: Gen[Array[Float]] =
    Gen.listOfN(16, Gen.chooseNum(-2.0f, 2.0f)).map(_.toArray)

  test("property: FloatDot equals strict left-to-right reference for arbitrary vectors") {
    import spark.implicits._
    val pairs = samples(Gen.zip(vecGen, vecGen), 20, 42L)
    val df = pairs.map { case (a, b) => (a.toSeq, b.toSeq) }.toDF("a", "b")
      .select(VectorFunctions.dot(
        col("a").cast("array<float>"), col("b").cast("array<float>")).as("d"))
    val got = df.collect().map(_.getDouble(0))
    pairs.zip(got).foreach { case ((a, b), g) =>
      var acc = 0.0
      var i = 0
      while (i < math.min(a.length, b.length)) {
        acc += a(i).toDouble * b(i).toDouble; i += 1
      }
      assert(java.lang.Double.doubleToLongBits(g) ===
        java.lang.Double.doubleToLongBits(acc))
    }
  }

  test("property: ShingleHashes equals the composed xxhash64 pipeline for arbitrary texts") {
    import spark.implicits._
    // words of letters/digits/unicode joined by RUNS of spaces (1-3), plus
    // optional leading/trailing spaces — the token-boundary shapes that
    // would break a tokenizer that diverges from split(text, ' ')
    val wordGen = Gen.oneOf(
      Gen.stringOfN(3, Gen.alphaNumChar),
      Gen.oneOf("wörd", "ünïcode", "日本語", "", "x"),
      Gen.stringOfN(1, Gen.alphaChar))
    val textGen = for {
      words <- Gen.listOfN(8, wordGen)
      seps <- Gen.listOfN(7, Gen.chooseNum(1, 3).map(" " * _))
      lead <- Gen.oneOf("", " ")
      trail <- Gen.oneOf("", " ", "  ")
    } yield lead + words.zipAll(seps, "", "").map { case (w, s) => w + s }.mkString + trail
    val texts = samples(textGen, 40, 20260812L)
    val rows = texts.toDF("text")
      .select(
        expr("""array_sort(array_distinct(transform(
          |  sequence(0, size(split(text, ' ')) - 3),
          |  i -> xxhash64(split(text, ' ')[i], split(text, ' ')[i+1],
          |               split(text, ' ')[i+2]))))""".stripMargin).as("want"),
        graft.functions.ShingleHashes.shingleHashes(col("text"), 3).as("got"))
      .collect()
    rows.zip(texts).foreach { case (r, t) =>
      assert(r.getSeq[Long](0) === r.getSeq[Long](1),
        s"fused hashes diverge on ${t.map(c => if (c == ' ') '_' else c)}")
    }
  }

  test("property: salted join equals plain join for arbitrary key distributions") {
    import spark.implicits._
    val rowsGen = Gen.listOfN(60,
      Gen.zip(Gen.oneOf("a", "b", "HOT", "c"), Gen.chooseNum(0L, 1000L)))
    samples(rowsGen, 5, 7L).foreach { rows =>
      val big = rows.zipWithIndex
        .map { case ((k, v), i) => (k, v, i.toLong) }
        .toDF("key", "v", "id")
      val small = Seq(("HOT", 1), ("a", 2)).toDF("key", "w")
      val plain = big.join(small, "key").select("key", "v", "id", "w")
      val salted = operators.Scale
        .saltedJoin(big, small, "key", 4, "id").select("key", "v", "id", "w")
      assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
    }
  }

  test("property: p13 split assignment is stable under corpus growth and reorder") {
    // the claim behind the p13 scaladoc: membership is a pure function of
    // doc_id, so a document's split never changes when the corpus is
    // subset (incremental build), grown, or adversarially re-ordered —
    // the reproducibility property sample()/randomSplit() lack.
    import spark.implicits._
    def assign(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
      operators.Pipeline.splitAssignOf(df)
        .select($"doc_id", $"split").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    val docs = Tables.documents(spark, sf)
    val full = assign(docs)
    assert(full.nonEmpty && full.values.toSet == Set("train", "val", "test"))
    val subset = assign(docs.filter($"doc_id" % 2 === 0))
    subset.foreach { case (id, sp) => assert(full(id) == sp,
      s"doc $id moved from ${full(id)} to $sp when the corpus shrank") }
    val reordered = assign(docs.orderBy($"doc_id".desc).repartition(17))
    assert(reordered === full, "re-ordering the corpus moved a document")
  }

  test("property: p12 domain filter is invariant to corpus partitioning") {
    // the claim behind the p12 scaladoc: the DECIMAL(38,6) centroid mean is
    // order-independent, so ANY cluster layout (different partition counts,
    // different row orders per partition) produces the identical filtered
    // set — bit-for-bit scores included. Exercised by re-running the same
    // shape over adversarially repartitioned input.
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    def run(mangle: DataFrame => DataFrame): Seq[(Long, Double)] =
      operators.Pipeline.domainFilterOf(mangle(Tables.embeddings(spark, sf)))
        .collect().map(r => (r.getLong(0), r.getDouble(2))).sorted.toSeq
    val layouts = Seq[DataFrame => DataFrame](
      identity,
      _.repartition(1),
      _.repartition(17),
      _.orderBy($"vec_id".desc).repartition(5))
    val results = layouts.map(run)
    assert(results.head.nonEmpty)
    results.tail.foreach(r => assert(r === results.head,
      "partition layout changed the filtered set or a score bit"))
  }

  test("property: p14 epoch shuffle is a permutation per epoch, distinct across epochs, layout-invariant") {
    // the claims behind the p14 scaladoc: (a) within an epoch, pos is
    // exactly 1..N (a permutation — the bucketed rank construction never
    // gaps or collides); (b) epochs are DIFFERENT permutations (the hash
    // seeds by epoch); (c) the order is a pure function of (corpus,
    // epoch) — adversarial repartition/reorder cannot move a document.
    import spark.implicits._
    def run(mangle: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
        : Map[Long, Seq[(Long, Long)]] = {
      val base = mangle(Tables.documents(spark, sf))
      // run the op's own plan over the mangled base via a temp-view swap
      operators.Pipeline.epochShuffleOf(base)
        .select($"epoch", $"pos", $"doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .groupBy(_._1)
        .map { case (e, rows) => e -> rows.map(t => (t._2, t._3)).sorted.toSeq }
    }
    val full = run(identity)
    assert(full.keySet === Set(1L, 2L, 3L))
    val n = full(1L).size
    full.values.foreach(rows => assert(rows.map(_._1) === (1L to n)))
    // different epochs permute differently
    val ord1 = full(1L).map(_._2)
    val ord2 = full(2L).map(_._2)
    assert(ord1 !== ord2, "epoch 1 and 2 produced the same order")
    // layout invariance
    val mangled = run(_.orderBy($"doc_id".desc).repartition(13))
    assert(mangled === full, "repartitioning the corpus changed the order")
  }

  test("property: q56 anomaly algebra is internally consistent") {
    import spark.implicits._
    val rows = operators.Windows.rollingAnomaly(spark, sf)
      .select($"n_prior", $"dev2", $"nvar9", $"is_anomaly").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, dev2, nvar9, anom) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))
      assert(n >= operators.Windows.AnomMinPrior &&
        n <= operators.Windows.AnomFrame)
      // n*q - s^2 >= 0 is Cauchy-Schwarz over the frame — a negative value
      // would mean the integer algebra (or the frame) is wrong
      assert(nvar9 >= 0L, "negative frame variance")
      assert(dev2 >= 0L)
      assert(anom === (dev2 > nvar9))
    }
  }

  test("property: d14 containment pairs respect the threshold and d3 coherence") {
    import spark.implicits._
    val pairs = operators.Dedup.containment(spark, sf)
      .select($"doc_a", $"doc_b", $"na", $"nb", $"c", $"cont_pct",
        $"subset_only").collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      val (na, nb, c, pct, subset) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getBoolean(6))
      assert(c <= math.min(na, nb), "intersection exceeds a set size")
      assert(pct >= operators.Dedup.ContainmentMinPct && pct <= 100L)
      assert(pct === c * 100 / math.min(na, nb))
      // subset_only == (jaccard < 0.8), cross-multiplied like the op
      assert(subset === (c * 5 < (na + nb - c) * 4))
    }
    // every full-duplicate d3 pair with containment >= 90 must be in d14
    val d3 = operators.Dedup.ngramJaccard(spark, sf)
      .select($"doc_a", $"doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val d14 = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    d14.intersect(d3).foreach { p =>
      val r = pairs.find(x => (x.getLong(0), x.getLong(1)) == p).get
      assert(!r.getBoolean(6), "a d3 (jaccard>=0.8) pair flagged subset_only")
    }
  }

  test("property: p15 soft-dedup weights and keep decisions are exact") {
    import spark.implicits._
    val rows = operators.Pipeline.softDedup(spark, sf)
      .select($"doc_id", $"cluster_id", $"csize", $"weight_ppm", $"coin",
        $"kept").collect()
    assert(rows.nonEmpty)
    val byCluster = rows.groupBy(_.getLong(1))
    byCluster.foreach { case (_, members) =>
      val sz = members.head.getLong(2)
      assert(members.length.toLong === sz, "csize != actual member count")
      members.foreach(m => assert(m.getLong(2) === sz))
    }
    rows.foreach { r =>
      val (sz, ppm, coin, kept) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))
      assert(ppm === 1000000L / sz)
      assert(coin >= 0L && coin < (1L << 24))
      assert(kept === (coin * coin < operators.Pipeline.SoftDedupCoinSq / sz))
      if (sz == 1L) assert(kept, "a singleton was dropped")
    }
    // soft dedup must not hard-delete whole clusters' mass in expectation:
    // weights over a cluster sum to ~1e6 (csize * (1e6 div csize))
    byCluster.foreach { case (_, members) =>
      val total = members.map(_.getLong(3)).sum
      val sz = members.head.getLong(2)
      assert(total === sz * (1000000L / sz))
    }
  }

  test("property: s20 MaxSim matches an exact in-driver replay") {
    import spark.implicits._
    val got = operators.Similarity.maxSimTopK(spark, sf)
      .select($"vec_id", $"maxsim").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length === 10)
    assert(got.map(_._2).toSeq === got.map(_._2).sortBy(-_).toSeq)
    // exact replay: quantize, slice into 4 tokens, sum-of-max integer dots
    val vecs = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1048576.0).toLong).toArray))
      .toMap
    val qtoks = vecs(0L).grouped(16).toArray
    def score(v: Array[Long]): Long = {
      val dtoks = v.grouped(16).toArray
      qtoks.map(qt => dtoks.map(dt =>
        qt.zip(dt).map { case (a, b) => a * b }.sum).max).sum
    }
    val expect = vecs.toSeq.filter(_._1 != 0L)
      .map { case (id, v) => (id, score(v)) }
      .sortBy { case (id, sc) => (-sc, id) }
      .take(10)
    assert(got.toSeq === expect)
  }

  test("property: q54 funnel stages are consistent and windowed") {
    import spark.implicits._
    val rows = operators.TimeWindows.funnel(spark, sf)
      .select($"user_id", $"view_s", $"click_s", $"purchase_s", $"stages")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (v, c, p, st) = (r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getLong(4))
      assert(st == 1 + c.size + p.size)
      if (p.isDefined) assert(c.isDefined, "purchase stage without click stage")
      c.foreach { cs => assert(cs > v && cs <= v + 7 * 24 * 3600) }
      p.foreach { ps => assert(c.exists(ps > _) && ps <= v + 7 * 24 * 3600) }
    }
  }

  test("property: q63 per-node triangle counts match a brute-force recount") {
    import spark.implicits._
    val edges = operators.Aggregates.basketPairs(spark, sf)
      .select($"pa", $"pb").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    // brute force: for each oriented edge (a,b), walk b's successors
    val cnt = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    edges.foreach { case (a, b) =>
      adj.getOrElse(b, Set.empty).foreach { c =>
        if (edges.contains((a, c))) {
          cnt(a) += 1; cnt(b) += 1; cnt(c) += 1
        }
      }
    }
    val got = operators.Graph.triangles(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === cnt.toMap)
    assert(got.values.sum % 3 === 0L)
  }

  test("property: p16 batches respect bucket bounds, size cap, exact waste") {
    import spark.implicits._
    val rows = operators.Pipeline.lengthBatching(spark, sf).collect()
    assert(rows.nonEmpty)
    val totalDocs = Tables.documents(spark, sf).count()
    assert(rows.map(_.getLong(2)).sum === totalDocs)
    rows.foreach { r =>
      val (bucket, n, mx, sm, waste) = (r.getLong(0), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))
      assert(n >= 1 && n <= 16)
      assert(mx >= bucket * 64 && mx < (bucket + 1) * 64,
        s"max_tok $mx outside bucket $bucket")
      assert(waste === n * mx - sm && waste >= 0)
    }
  }

  test("property: m9 scenes tile each video's non-empty frames consecutively") {
    import spark.implicits._
    val rows = multimodal.Multimodal.sceneDetect(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (mediaId, scenes) =>
      val sorted = scenes.sortBy(_.getLong(1))
      // scene ids are consecutive from 0
      assert(sorted.map(_.getLong(1)).toSeq === sorted.indices.map(_.toLong))
      // spans are ordered and non-overlapping; frame count matches span
      // (non-empty frames are contiguous in the fixture: len >= f)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a.getInt(3) < b.getInt(2))
        case _ =>
      }
      sorted.foreach { sc =>
        assert(sc.getLong(4) === (sc.getInt(3) - sc.getInt(2) + 1).toLong)
        assert(sc.getLong(5) > 0L)
      }
      val f = 1 + mediaId % 30
      assert(sorted.map(_.getLong(4)).sum === f)
    }
  }

  test("property: q68 IVM merge equals full recompute for arbitrary mutation sets") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{coalesce, count, lit, sum}
    val segs = Seq("A", "B", "C")
    val baseGen = Gen.listOfN(40, for {
      k <- Gen.chooseNum(1L, 60L)
      c <- Gen.chooseNum(-5000L, 5000L)
      s <- Gen.oneOf(segs)
    } yield (k, c, s)).map(_.distinctBy(_._1))
    samples(baseGen, 8, 0xC0FFEE).zipWithIndex.foreach { case (rows, i) =>
      val before = rows.toDF("key", "cents", "seg")
      // mutation set: delete k%7==i%7, update k%3==i%3 (new cents/seg),
      // insert 3 fresh keys
      val delMod = i % 7
      val updMod = i % 3
      val del = rows.filter(_._1 % 7 == delMod)
      val upd = rows.filter(r => r._1 % 3 == updMod && r._1 % 7 != delMod)
        .map { case (k, c, s) => (k, c + 111L, segs((s.head - 'A' + 1) % 3)) }
      val ins = (1 to 3).map(j => (1000L + i * 10 + j, j * 7L, segs(j % 3)))
      val minus = (del ++ rows.filter(r => r._1 % 3 == updMod && r._1 % 7 != delMod))
        .map { case (k, c, s) => (-1L, c, s) }
      val plus = (upd ++ ins).map { case (_, c, s) => (1L, c, s) }
      val baseAgg = before.groupBy($"seg")
        .agg(count(lit(1)).as("bn"), sum($"cents").as("bc"))
      val maintained = graft.operators.Kv.maintainAgg(spark, baseAgg,
          (minus ++ plus).toDF("sign", "cents", "seg"))
        .orderBy($"seg").collect().toSeq
      val after = rows.filter(r => r._1 % 7 != delMod)
        .map { case (k, c, s) =>
          if (k % 3 == updMod) (k, c + 111L, segs((s.head - 'A' + 1) % 3))
          else (k, c, s) } ++ ins
      val direct = after.toDF("key", "cents", "seg").groupBy($"seg")
        .agg(count(lit(1)).as("n_customers"), sum($"cents").as("cents_total"))
        .orderBy($"seg").collect().toSeq
      assert(maintained === direct, s"sample $i")
    }
  }

  test("property: d16 canonical pick keeps exactly the longest doc per cluster") {
    import spark.implicits._
    val rows = operators.Dedup.canonicalPick(spark, sf).collect()
    assert(rows.nonEmpty)
    val lens = Tables.documents(spark, sf)
      .select($"doc_id", $"n_chars").as[(Long, Long)].collect().toMap
    rows.groupBy(_.getLong(1)).foreach { case (cluster, members) =>
      val keeps = members.filter(_.getBoolean(3))
      assert(keeps.length === 1, s"cluster $cluster must keep exactly one")
      val keeper = keeps.head.getLong(0)
      // every member names the keeper as canonical
      assert(members.forall(_.getLong(2) == keeper))
      // the keeper maximizes (n_chars, -doc_id)
      val best = members.map(_.getLong(0))
        .maxBy(id => (lens(id), -id))
      assert(keeper === best, s"cluster $cluster")
    }
  }

  test("property: p21 cluster split has ZERO near-dup leakage where p13's per-doc split leaks") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def leaks(assign: org.apache.spark.sql.DataFrame): Long =
      operators.Dedup.minhashLsh(spark, sf)
        .join(assign.select(col("doc_id").as("doc_a"),
          col("split").as("split_a")), "doc_a")
        .join(assign.select(col("doc_id").as("doc_b"),
          col("split").as("split_b")), "doc_b")
        .filter(col("split_a") =!= col("split_b")).count()
    val perDoc = operators.Pipeline
      .splitAssignOf(Tables.documents(spark, sf)).select($"doc_id", $"split")
    val perCluster = operators.Pipeline
      .clusterSplit(spark, sf).select($"doc_id", $"split")
    assert(leaks(perCluster) === 0L,
      "cluster-coherent split leaked a near-dup pair across splits")
    // the contrast that makes p21 non-vacuous: the per-doc coin DOES leak
    // on this fixture (d12's finding), so zero above is a property of the
    // construction, not of the data
    assert(leaks(perDoc) > 0L, "fixture no longer exhibits p13 leakage")
  }

  test("property: DistRank row_number/NTILE are bit-identical to the flat window on adversarial shapes") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // shapes chosen to stress the range split and the offsets: uniform,
    // one dominant tie value, two far clusters (empty middle ranges), tiny
    // N < k, negatives, doubles with sub-ulp spreads, one value only, one
    // row, and no rows
    val shapes: Seq[(String, Seq[(Double, Long)])] = Seq(
      "uniform" -> (1 to 997).map(i => (i * 3.7, i.toLong)),
      "massive-ties" -> (1 to 500).map(i =>
        (if (i % 50 == 0) i.toDouble else 42.0, i.toLong)),
      "two-clusters" -> ((1 to 300).map(i => (i * 1.0, i.toLong)) ++
        (1 to 300).map(i => (1e9 + i, 1000L + i))),
      "tiny" -> (1 to 7).map(i => (i * 1.0, i.toLong)),
      "negatives" -> (1 to 400).map(i => ((i - 200) * 0.25, i.toLong)),
      "subulp" -> (1 to 256).map(i =>
        (1.0 + java.lang.Double.MIN_VALUE * i, i.toLong)),
      "all-equal" -> (1 to 300).map(i => (5.0, i.toLong)),
      "one-row" -> Seq((1.0, 1L)),
      "empty" -> Seq.empty[(Double, Long)])
    for ((label, rows) <- shapes; desc <- Seq(false, true)) {
      val df = rows.toDF("v", "id")
      val ord = if (desc) Seq($"v".desc, $"id") else Seq($"v", $"id")
      val flatRn = df.withColumn("rn",
          row_number().over(Window.orderBy(ord: _*)).cast("long"))
        .select($"id", $"rn").as[(Long, Long)].collect().toMap
      val distRn = operators.DistRank
        .withRowNumber(df, "rn", $"v", desc, Seq($"id"))
        .select($"id", $"rn").as[(Long, Long)].collect().toMap
      assert(distRn === flatRn, s"row_number $label desc=$desc")
      for (k <- Seq(4, 10)) {
        val flatNt = df.withColumn("nt",
            ntile(k).over(Window.orderBy(ord: _*)))
          .select($"id", $"nt").as[(Long, Int)].collect().toMap
        val distNt = operators.DistRank
          .withNtile(df, k, "nt", $"v", desc, Seq($"id"))
          .select($"id", $"nt").as[(Long, Int)].collect().toMap
        assert(distNt === flatNt, s"ntile($k) $label desc=$desc")
      }
    }
  }

  test("property: skewBucket sub-splits heavy ties on a STRING tie column — spread AND bit-equality") {
    // heavy tied values with a string first tie column must still spread
    // over many range partitions (the sampler sees the tie column) and
    // stay bit-identical to the flat window. Keys include multi-byte
    // prefixes, shared prefixes and different lengths (prefix < extension
    // ordering).
    withRangeSession { s =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val rows = (1 to 2000).map { i =>
        val v = if (i % 10 == 0) i.toDouble else 42.0
        val key = (i % 7) match {
          case 0 => f"doc$i%05d"
          case 1 => f"a$i%06d"
          case 2 => f"zz$i%04d-tail"
          case 3 => "p"                   // short key (prefix of case 4)
          case 4 => f"p$i%05d"
          case 5 => f"müll$i%04d"         // multi-byte UTF-8
          case _ => f"$i%07d"
        }
        (v, key + f"#$i%05d", i.toLong)   // unique via suffix
      }
      val df = rows.toDF("v", "k", "id")
      // the production shape: one key family (shared prefix + digits)
      val docs = (1 to 2000).map { i =>
        (if (i % 10 == 0) i.toDouble else 42.0, f"doc$i%05d", i.toLong)
      }.toDF("v", "k", "id")
      for (desc <- Seq(false, true)) {
        val spreadDocs = tiedPartitions(operators.DistRank
          .withRowNumber(docs, "rn", $"v", desc, Seq($"k")))
        assert(spreadDocs >= 3,
          s"doc-key string ties sit in $spreadDocs partition(s) (desc=$desc)")
        // the adversarial multi-family shape: the spread AND bit-equality
        // must hold however heterogeneous the tie keys are
        val dist = operators.DistRank
          .withRowNumber(df, "rn", $"v", desc, Seq($"k"))
        val tiedP = tiedPartitions(dist)
        assert(tiedP >= 3,
          s"string-tied rows sit in $tiedP partition(s) (desc=$desc)")
        val ord = if (desc) Seq($"v".desc, $"k") else Seq($"v", $"k")
        val flat = df.withColumn("rn",
            row_number().over(Window.orderBy(ord: _*)).cast("long"))
          .select($"id", $"rn").as[(Long, Long)].collect().toMap
        val distRn = dist.select($"id", $"rn").as[(Long, Long)].collect().toMap
        assert(distRn === flat, s"string-tie rank diverged (desc=$desc)")
      }
    }
  }

  test("property: skewBucket spreads a 90%-one-value distribution across many buckets") {
    // uniform range buckets collapse under tied/peaked leading values; the
    // range partitioner samples the full key, so 90% of rows sharing one
    // value must still spread over several partitions on their tie column
    withRangeSession { s =>
      import s.implicits._
      val df = (1 to 2000).map(i =>
        (if (i % 10 == 0) i.toDouble else 42.0, i.toLong)).toDF("v", "id")
      for (desc <- Seq(false, true)) {
        val tiedP = tiedPartitions(operators.DistRank
          .withRowNumber(df, "rn", $"v", desc, Seq($"id")))
        assert(tiedP >= 3,
          s"the 1800 tied rows still sit in $tiedP partition(s) (desc=$desc)")
      }
    }
  }

  /** A session of its own with AQE's partition coalescing off: on the
    * shared one, a small range shuffle is merged into one partition. */
  private def withRangeSession(body: org.apache.spark.sql.SparkSession => Unit)
      : Unit = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    body(s)
  }

  /** Distinct `spark_partition_id()`s holding the rows tied at v = 42. */
  private def tiedPartitions(ranked: org.apache.spark.sql.DataFrame): Long = {
    import org.apache.spark.sql.functions._
    ranked.filter(col("v") === 42.0)
      .select(spark_partition_id()).distinct().count()
  }

  test("property: d20's prefix-filter candidates lose NO true pair vs the brute-force join") {
    import spark.implicits._
    // The pigeonhole claim the operator rests on: every pair with word-set
    // Jaccard >= 4/5 shares a rarest-first prefix token, so the operator's
    // RESULT must equal the brute-force all-pairs join on the same shard.
    // sf0.001 keeps the brute side trivial (~120 docs in the shard).
    val d20 = SparkEntry.queries("d20_prefix_filter_join")(spark, sf)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    val toks = Tables.documents(spark, sf)
      .filter($"doc_id" % 5 === 2)
      .select($"doc_id", explode(split(lower($"text"), " ")).as("word"))
      .distinct()
      .as[(Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val ids = toks.keys.toSeq.sorted
    val brute = (for {
      i <- ids.indices.iterator
      j <- (i + 1 until ids.size).iterator
      a = toks(ids(i)); b = toks(ids(j))
      inter = (a & b).size
      if inter * 9 >= (a.size + b.size) * 4
    } yield (ids(i), ids(j))).toSet
    assert(d20 === brute,
      s"prefix filter diverged: missed ${(brute -- d20).take(5)}, " +
        s"extra ${(d20 -- brute).take(5)}")
    assert(brute.nonEmpty, "vacuous: no true pairs in the shard at sf0.001")
  }

  test("property: SQL MERGE INTO pot equals the reference fold for arbitrary action sets") {
    import spark.implicits._
    // Model-based check of the delta row-level write: for random
    // source/target overlaps the MERGE (DELETE if v%3=0 / UPDATE /
    // INSERT) must equal a driver-side fold of the same rules — the
    // whole-statement-one-generation contract can hide nothing.
    val fmt = classOf[graft.sources.PotV2Source].getName
    val keyGen = Gen.choose(0, 14)
    for (iter <- 1 to 3) {
      val root = java.nio.file.Files
        .createTempDirectory(s"potv2-mprop$iter").toString
      val pot = s"$root/t/data.json"
      val tbl = s"graft_prop_merge$iter"
      val tgtKeys = samples(keyGen, 8, 1000L + iter).distinct
      val srcRows = samples(Gen.zip(keyGen, Gen.choose(0, 99)), 10,
        2000L + iter).distinctBy(_._1)
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql(s"CREATE TABLE $tbl (pot_file STRING, key STRING, " +
        s"doc_json STRING) USING $fmt OPTIONS (path '$pot')")
      tgtKeys.map(k => ("", s"k$k", s"""{"v": ${k * 10}}"""))
        .toDF("pot_file", "key", "doc_json")
        .write.format(fmt).option("path", pot).mode("overwrite").save()
      srcRows.map { case (k, v) => ("", s"k$k", s"""{"v": $v}""", v) }
        .toDF("pot_file", "key", "doc_json", "v")
        .createOrReplaceTempView(s"${tbl}_src")
      spark.sql(s"""MERGE INTO $tbl t USING ${tbl}_src s ON t.key = s.key
                   |WHEN MATCHED AND s.v % 3 = 0 THEN DELETE
                   |WHEN MATCHED THEN UPDATE SET doc_json = s.doc_json
                   |WHEN NOT MATCHED THEN
                   |  INSERT (pot_file, key, doc_json)
                   |  VALUES (s.pot_file, s.key, s.doc_json)
                   |WHEN NOT MATCHED BY SOURCE
                   |  AND CAST(get_json_object(t.doc_json, '$$.v') AS INT)
                   |    % 4 = 0 THEN DELETE
                   |WHEN NOT MATCHED BY SOURCE THEN
                   |  UPDATE SET doc_json = '{"v": -1}'""".stripMargin)
      val got = spark.sql(s"SELECT key, doc_json FROM $tbl")
        .as[(String, String)].collect().toMap
      // reference fold (by-source actions included: target keys the
      // source does not carry delete when v%4=0, else re-stamp to -1)
      var model = tgtKeys.map(k => s"k$k" -> s"""{"v":${k * 10}}""").toMap
      val srcKeys = srcRows.map(k => s"k${k._1}").toSet
      tgtKeys.foreach { k =>
        val key = s"k$k"
        if (!srcKeys.contains(key)) {
          if ((k * 10) % 4 == 0) model -= key
          else model += key -> """{"v":-1}""" // Jackson-normalized render
        }
      }
      srcRows.foreach { case (k, v) =>
        val key = s"k$k"
        if (tgtKeys.map(x => s"k$x").contains(key)) {
          if (v % 3 == 0) model -= key
          else model += key -> s"""{"v":$v}"""
        } else model += key -> s"""{"v":$v}"""
      }
      assert(got === model, s"iter $iter: tgt=$tgtKeys src=$srcRows")
      spark.sql(s"DROP TABLE $tbl")
    }
  }

  test("property: DistRank matches the flat window under NULL leading values") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // Spark's sort contract: ASC = nulls first, DESC = nulls last. The
    // null bucket must match it (and never NPE the counts collect).
    val rows: Seq[(Option[Double], Long)] = (1 to 200).map(i =>
      (if (i % 7 == 0) None else Some(i * 1.5), i.toLong))
    val df = rows.toDF("v", "id")
    for (desc <- Seq(false, true)) {
      val ord = if (desc) Seq($"v".desc, $"id") else Seq($"v", $"id")
      val flatRn = df.withColumn("rn",
          row_number().over(Window.orderBy(ord: _*)).cast("long"))
        .select($"id", $"rn").as[(Long, Long)].collect().toMap
      val distRn = operators.DistRank
        .withRowNumber(df, "rn", $"v", desc, Seq($"id"))
        .select($"id", $"rn").as[(Long, Long)].collect().toMap
      assert(distRn === flatRn, s"row_number with nulls desc=$desc")
      val flatNt = df.withColumn("nt",
          ntile(7).over(Window.orderBy(ord: _*)))
        .select($"id", $"nt").as[(Long, Int)].collect().toMap
      val distNt = operators.DistRank
        .withNtile(df, 7, "nt", $"v", desc, Seq($"id"))
        .select($"id", $"nt").as[(Long, Int)].collect().toMap
      assert(distNt === flatNt, s"ntile with nulls desc=$desc")
    }
  }

  test("property: GroupedTopK equals the flat window form for arbitrary " +
    "group skew, k, and partitioning (r16)") {
    import spark.implicits._
    val rowGen = for {
      g <- Gen.chooseNum(0, 6)       // few groups: forced collisions
      v <- Gen.chooseNum(-1000, 1000) // heavy ties across rows
    } yield (g.toLong, v.toLong)
    (1 to 4).foreach { trial =>
      val n = 40 * trial
      val rows = samples(rowGen, n, 7100L + trial)
        .zipWithIndex.map { case ((g, v), i) => (g, v, i.toLong) }
      val k = 1 + trial * 2
      val parts = 1 + trial // 1..4 input partitions: partial phase varies
      val df = rows.toDF("g", "v", "id").repartition(parts)
      val got = graft.plans.GroupedTopK.topKPerGroup(df, k,
        Seq("g"), Seq(("v", false), ("id", true)))
        .orderBy($"g", $"v".desc, $"id")
        .as[(Long, Long, Long)].collect().toSeq
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"g").orderBy($"v".desc, $"id")
      val expected = df.withColumn("rn", row_number().over(w))
        .filter($"rn" <= k).drop("rn")
        .orderBy($"g", $"v".desc, $"id")
        .as[(Long, Long, Long)].collect().toSeq
      assert(got === expected,
        s"trial=$trial k=$k parts=$parts: ${got.take(6)} vs ${expected.take(6)}")
    }
  }

  test("property: compactPot is state-identical on arbitrary chains " +
    "(random upsert/tombstone epochs, compaction at a random depth; " +
    "r17)") {
    import spark.implicits._
    val fmt = classOf[graft.sources.PotV2Source].getName
    val opGen = for {
      key <- Gen.chooseNum(0, 14) // small key space: LWW collisions + dels
      del <- Gen.prob(0.25)
      v <- Gen.chooseNum(0, 999)
    } yield (s"k$key", if (del) None else Some(v))
    (1 to 3).foreach { trial =>
      val dir = java.nio.file.Files
        .createTempDirectory(s"prop-compact$trial").toString
      val pot = s"$dir/t/data.json"
      val fs = new org.apache.hadoop.fs.Path(pot)
        .getFileSystem(spark.sessionState.newHadoopConf())
      // base snapshot
      (0 to 9).map(i => ("", s"k$i", s"""{"v": $i}"""))
        .toDF("pot_file", "key", "doc_json")
        .write.format(fmt).option("path", pot).mode("overwrite").save()
      // 2-4 random delta epochs through the streaming commit path
      val nEpochs = 1 + trial
      (1 to nEpochs).foreach { e =>
        val ops = samples(opGen, 8, 5500L + trial * 100 + e)
        val lines = ops.map {
          case (k, Some(v)) => s"""{"k": "$k", "d": {"v": $v}}"""
          case (k, None) => s"""{"k": "$k", "d": null}"""
        }
        val staging = new org.apache.hadoop.fs.Path(s"$dir/t/.stg-e$e")
        fs.mkdirs(staging)
        val frag = new org.apache.hadoop.fs.Path(staging, "f.jsonl")
        val out = fs.create(frag, false)
        try out.write(lines.mkString("", "\n", "\n").getBytes("UTF-8"))
        finally out.close()
        new graft.sources.PotV2Write(pot, graft.sources.PotV2Source.Schema,
          s"pc$trial-e$e", truncateFirst = false,
          graft.sources.PotV2Source.DefaultMaxObjectBytes)
          .commitDeltaEpoch(Array(
            graft.sources.PotFragmentMessage(0, frag.toString)),
            s"pc$trial-e$e", staging)
      }
      def state(): Map[String, String] = spark.read.format(fmt)
        .option("path", pot).load()
        .select($"key", $"doc_json").as[(String, String)].collect().toMap
      val before = state()
      val gen = graft.sources.PotV2Source.compactPot(fs, pot)
      assert(gen.isDefined, s"trial $trial: delta-headed chain not folded")
      assert(state() === before,
        s"trial $trial: compaction changed the state")
      // idempotent: a second compact is a no-op (head already a snapshot)
      assert(graft.sources.PotV2Source.compactPot(fs, pot).isEmpty)
      assert(state() === before)
      new scala.reflect.io.Directory(new java.io.File(dir))
        .deleteRecursively()
    }
  }

  test("property: doc-field shred pushdown equals the post-scan filter " +
    "over random typed/missing/null/mistyped fields (u45, r17)") {
    import spark.implicits._
    val fmt = classOf[graft.sources.PotV2Source].getName
    // value shapes: typed int, missing, JSON null, float (type mismatch
    // reads NULL on both paths — the generator avoids NUMERIC STRINGS,
    // where the stringly get_json_object reference is deliberately
    // looser than the typed shred)
    val docGen = for {
      shape <- Gen.chooseNum(0, 3)
      v <- Gen.chooseNum(-50, 50)
    } yield shape match {
      case 0 => s"""{"v": $v}"""
      case 1 => """{"o": 1}"""
      case 2 => """{"v": null}"""
      case _ => s"""{"v": $v.5}"""
    }
    (1 to 3).foreach { trial =>
      val dir = java.nio.file.Files
        .createTempDirectory(s"prop-shred$trial").toString
      val pot = s"$dir/t/data.json"
      val docs = samples(docGen, 50, 6200L + trial).zipWithIndex
        .map { case (d, i) => ("", f"k$i%03d", d) }
      docs.toDF("pot_file", "key", "doc_json")
        .write.format(fmt).option("path", pot).mode("overwrite").save()
      val shredded = spark.read.format(fmt).option("path", pot)
        .option("shred", "v:bigint").load()
      val plain = spark.read.format(fmt).option("path", pot).load()
        .withColumn("v", expr(
          "CASE WHEN get_json_object(doc_json, '$.v') NOT LIKE '%.%' " +
            "THEN try_cast(get_json_object(doc_json, '$.v') AS BIGINT) " +
            "END"))
      for (pred <- Seq("v = 7", "v > 0", "v <= -3", "v IN (1, 2, 3)",
          "v IS NOT NULL", "v >= -10 AND v < 10")) {
        val got = shredded.filter(expr(pred))
          .select($"key").as[String].collect().sorted.toSeq
        val exp = plain.filter(expr(pred))
          .select($"key").as[String].collect().sorted.toSeq
        assert(got === exp, s"trial $trial pred '$pred'")
      }
      new scala.reflect.io.Directory(new java.io.File(dir))
        .deleteRecursively()
    }
  }

  test("property: GroupedTopK rank/dense_rank modes equal the window " +
    "forms under heavy ties, varied partitioning, AND partial-phase " +
    "flushes (r17)") {
    import spark.implicits._
    // tiny value domain: every group is wall-to-wall ties, the worst case
    // for TieState's boundary eviction; the flush budget below forces the
    // partial map to emit+clear repeatedly, so re-folding of TIE SETS is
    // exercised too (not just row_number's heaps)
    val rowGen = for {
      g <- Gen.chooseNum(0, 9)
      v <- Gen.chooseNum(0, 4)
    } yield (g.toLong, v.toLong)
    spark.conf.set("spark.graft.topk.partialMaxGroups", "3")
    try (1 to 3).foreach { trial =>
      val rows = samples(rowGen, 60 * trial, 9300L + trial)
        .zipWithIndex.map { case ((g, v), i) => (g, v, i.toLong) }
      val k = trial // 1..3
      val df = rows.toDF("g", "v", "id").repartition(trial + 1)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"g").orderBy($"v".desc)
      def sortAll(d: org.apache.spark.sql.DataFrame) =
        d.orderBy($"g", $"v".desc, $"id").as[(Long, Long, Long)]
          .collect().toSeq
      for ((mode, fn) <- Seq(
          (graft.plans.RankK, org.apache.spark.sql.functions.rank()),
          (graft.plans.DenseRankK,
            org.apache.spark.sql.functions.dense_rank()))) {
        val got = sortAll(graft.plans.GroupedTopK.topKPerGroup(
          df, k, Seq("g"), Seq(("v", false)), mode))
        val expected = sortAll(df.withColumn("r", fn.over(w))
          .filter($"r" <= k).drop("r"))
        assert(got === expected,
          s"trial=$trial k=$k mode=$mode: ${got.take(6)} vs " +
            s"${expected.take(6)}")
      }
    } finally spark.conf.unset("spark.graft.topk.partialMaxGroups")
  }

  test("property: zone-map pruning never changes results — pruned scan " +
    "rows == unpruned for arbitrary key layouts and predicates (r18)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("zmapprop").toString
    val fmt = classOf[graft.sources.PotV2Source].getName
    // arbitrary keys spread over 4 pots in an arbitrary (hash) layout —
    // deliberately NOT range-clustered: pruning should then rarely fire,
    // and must never drop a matching row either way
    val keyGen = Gen.listOfN(8,
      Gen.oneOf(('a' to 'z') ++ ('0' to '9'))).map(_.mkString)
    val keys = samples(keyGen, 160, 0xbeefL).distinct
    keys.grouped((keys.size + 3) / 4).zipWithIndex.foreach { case (ks, g) =>
      ks.map(k => ("", k, s"""{"v": "$k"}"""))
        .toDF("pot_file", "key", "doc_json")
        .write.format(fmt).option("path", s"$dir/p$g/data.json")
        .mode("overwrite").save()
    }
    val df = spark.read.format(fmt).option("path", s"$dir/*/data.json").load()
    val all = df.select($"key").as[String].collect().toSet
    assert(all == keys.toSet)
    val present = keys.sorted
    val predGen: Gen[org.apache.spark.sql.Column] = Gen.oneOf(
      Gen.oneOf(present).map(k => $"key" === k),
      Gen.oneOf(present).map(k => $"key" === (k + "x")), // near-miss
      Gen.listOfN(4, Gen.oneOf(present)).map(ks => $"key".isin(ks: _*)),
      Gen.oneOf(present).map(k => $"key".startsWith(k.take(2))),
      keyGen.map(k => $"key".startsWith(k.take(3))))
    samples(predGen, 40, 0xfeedL).zipWithIndex.foreach { case (pred, i) =>
      val got = df.filter(pred).select($"key").as[String].collect().toSet
      val expected = {
        // reference: evaluate the same predicate over the collected keys
        val refDf = present.toDF("key")
        refDf.filter(pred).as[String].collect().toSet
      }
      assert(got === expected, s"trial=$i: zone-map pruning changed rows")
    }
    new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("property: BUCKETED zone-map pruning never changes results — " +
    "arbitrary keys over a hashed bucket layout, exact/IN/prefix/near-miss " +
    "predicates (r19)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bzmapprop").toString
    val root = s"$dir/store"
    val fmt = classOf[graft.sources.BucketedPotV2Source].getName
    val keyGen = Gen.listOfN(6,
      Gen.oneOf(('a' to 'z') ++ ('0' to '9') :+ ':')).map(_.mkString)
    val keys = samples(keyGen, 120, 0x64b1L).distinct
    // two waves so several buckets carry multi-generation chains
    val (w1, w2) = keys.splitAt(keys.size / 2)
    Seq(w1, w2).foreach { ks =>
      ks.map(k => ("", k, s"""{"v": "$k"}"""))
        .toDF("pot_file", "key", "doc_json")
        .write.format(fmt).option("path", root).option("buckets", "8")
        .mode("append").save()
    }
    val df = spark.read.format(fmt).option("path", root)
      .option("buckets", "8").load()
    assert(df.select($"key").as[String].collect().toSet === keys.toSet)
    val present = keys.sorted
    val predGen: Gen[org.apache.spark.sql.Column] = Gen.oneOf(
      Gen.oneOf(present).map(k => $"key" === k),
      Gen.oneOf(present).map(k => $"key" === (k + "q")), // near-miss
      Gen.listOfN(4, Gen.oneOf(present)).map(ks => $"key".isin(ks: _*)),
      Gen.oneOf(present).map(k => $"key".startsWith(k.take(2))),
      keyGen.map(k => $"key".startsWith(k.take(3))))
    samples(predGen, 40, 0x9a7eL).zipWithIndex.foreach { case (pred, i) =>
      val got = df.filter(pred).select($"key").as[String].collect().toSet
      val expected = present.toDF("key").filter(pred)
        .as[String].collect().toSet
      assert(got === expected,
        s"trial=$i: bucketed zone-map pruning changed rows")
    }
    new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("property: SHRED-field zone-map pruning never changes results — " +
    "arbitrary docs and typed range/equality/null predicates (r19)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("fzmapprop").toString
    val fmt = classOf[graft.sources.PotV2Source].getName
    // docs with a long field (sometimes absent), a string field, and a
    // mixed-typed field, spread over 4 pots in arrival order
    case class Doc(k: String, v: Option[Long], s: String, mixInt: Boolean)
    val docGen = for {
      k <- Gen.listOfN(6, Gen.alphaNumChar).map(_.mkString)
      v <- Gen.option(Gen.choose(-500L, 500L))
      s <- Gen.listOfN(3, Gen.alphaLowerChar).map(_.mkString)
      m <- Gen.oneOf(true, false)
    } yield Doc(k, v, s, m)
    val docs = samples(docGen, 120, 0x5edL).distinctBy(_.k)
    docs.grouped((docs.size + 3) / 4).zipWithIndex.foreach { case (ds, g) =>
      ds.map { d =>
        val vj = d.v.fold("")(x => s""", "v": $x""")
        val mj = if (d.mixInt) "7" else "\"seven\""
        ("", d.k, s"""{"s": "${d.s}", "m": $mj$vj}""")
      }.toDF("pot_file", "key", "doc_json")
        .write.format(fmt).option("path", s"$dir/p$g/data.json")
        .mode("overwrite").save()
    }
    val df = spark.read.format(fmt).option("path", s"$dir/*/data.json")
      .option("shred", "v=v:bigint,s=s:string,m=m:bigint,g=g:bigint").load()
    val ref = docs.map(d => (d.k, d.v, d.s,
      if (d.mixInt) Some(7L) else None)).toDF("key", "v", "s", "m")
      .withColumn("g", org.apache.spark.sql.functions.lit(null)
        .cast("bigint"))
    val vGen = Gen.choose(-600L, 600L)
    val predGen: Gen[org.apache.spark.sql.Column] = Gen.oneOf(
      vGen.map(x => $"v" >= x),
      vGen.map(x => $"v" < x),
      vGen.map(x => $"v" === x),
      Gen.oneOf(docs).map(d => $"s" === d.s),
      Gen.const($"v".isNotNull),
      Gen.const($"g".isNotNull),
      vGen.map(x => $"m" > x))
    samples(predGen, 40, 0x77abL).zipWithIndex.foreach { case (pred, i) =>
      val got = df.filter(pred).select($"key").as[String].collect().toSet
      val expected = ref.filter(pred).select($"key").as[String]
        .collect().toSet
      assert(got === expected,
        s"trial=$i: shred zone-map pruning changed rows")
    }
    new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("property: DELTA-CHAIN union zone-map pruning never changes " +
    "results — arbitrary chains with deletes x key predicates (u69, r19)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("dzmapprop").toString
    val fmt = classOf[graft.sources.PotV2Source].getName
    val rnd = new scala.util.Random(0xd9L)
    val keys = (0 until 80).map(i => f"k${rnd.nextInt(900)}%03d").distinct
    val pots = keys.groupBy(_.hashCode.abs % 4)
    // expected chain-folded state per pot: last writer wins, deletes drop
    val expected = scala.collection.mutable.Map.empty[String, Long]
    pots.foreach { case (g, ks) =>
      val pot = s"$dir/p$g/data.json"
      val snapKs = ks.filter(_ => rnd.nextBoolean())
      snapKs.foreach(k => expected(k) = 0L)
      snapKs.map(k => ("", k, s"""{"v": 0}"""))
        .toDF("pot_file", "key", "doc_json")
        .write.format(fmt).option("path", pot).mode("overwrite").save()
      val fs = new org.apache.hadoop.fs.Path(pot)
        .getFileSystem(spark.sessionState.newHadoopConf())
      (1 to 1 + rnd.nextInt(3)).foreach { e =>
        // each epoch touches a random slice: upserts + some deletes
        val touched = ks.filter(_ => rnd.nextInt(3) == 0)
        if (touched.nonEmpty) {
          val lines = touched.map { k =>
            if (rnd.nextInt(4) == 0) { // tombstone
              expected.remove(k); s"""{"k": "$k", "d": null}"""
            } else {
              expected(k) = e.toLong; s"""{"k": "$k", "d": {"v": $e}}"""
            }
          }
          val staging = new org.apache.hadoop.fs.Path(s"$dir/p$g/.st$e")
          fs.mkdirs(staging)
          val frag = new org.apache.hadoop.fs.Path(staging, "f.jsonl")
          val out = fs.create(frag, false)
          try out.write(lines.mkString("", "\n", "\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          finally out.close()
          new graft.sources.PotV2Write(pot,
            graft.sources.PotV2Source.Schema, s"dz$g$e",
            truncateFirst = false, compactEvery = 100)
            .commitDeltaEpoch(
              Array(graft.sources.PotFragmentMessage(0, frag.toString)),
              s"dz$g$e", staging)
        }
      }
    }
    val df = spark.read.format(fmt).option("path", s"$dir/*/data.json")
      .load()
    val all = expected.toMap
    // predicate trials: exact hits/misses, IN mixes, prefixes
    (0 until 40).foreach { i =>
      val probe = i % 4 match {
        case 0 => Seq(keys(rnd.nextInt(keys.size)))
        case 1 => Seq(f"k${rnd.nextInt(1200)}%03d") // often a miss
        case 2 => (0 until 3).map(_ => keys(rnd.nextInt(keys.size)))
        case _ => Seq.empty // prefix trial
      }
      val (pred, want) =
        if (probe.nonEmpty)
          ($"key".isin(probe: _*), all.keySet.intersect(probe.toSet))
        else {
          val p = f"k${rnd.nextInt(10)}%01d"
          ($"key".startsWith(p), all.keySet.filter(_.startsWith(p)))
        }
      val got = df.filter(pred).select($"key").as[String].collect().toSet
      assert(got === want, s"trial=$i: delta-chain pruning changed rows")
    }
    new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }
}
