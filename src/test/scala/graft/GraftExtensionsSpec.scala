package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class GraftExtensionsSpec extends AnyFunSuite {

  test("float_dot is callable from SQL via SparkSessionExtensions") {
    // getOrCreate reuses the suite-wide default session (which has no
    // extensions), so clear the default first: a new SparkSession is then
    // built over the SAME SparkContext with the extensions applied.
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val s = SparkSession.builder()
        .master("local[2]")
        .config("spark.ui.enabled", "false")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      val r = s.sql(
        "SELECT float_dot(array(cast(1.0 as float), cast(2.0 as float)), " +
          "array(cast(3.0 as float), cast(4.0 as float))) AS d")
        .collect().head.getDouble(0)
      assert(r === 11.0)
      // the whole native-expression family is SQL-callable
      val sh = s.sql(
        "SELECT shingle_hashes('a b c d', 3) AS h").collect().head.getSeq[Long](0)
      assert(sh.length === 2) // 'a b c' and 'b c d'
      val mh = s.sql(
        "SELECT minhash_words(array('a','b','c','d'), 3, 8) AS m")
        .collect().head.getSeq[String](0)
      assert(mh.length === 8 && mh.forall(_.length == 32))
      val bs = s.sql(
        s"SELECT bit_sketch(array(${Seq.fill(64)("cast(0.5 as float)").mkString(",")}), 256, 64) AS b")
        .collect().head.getSeq[Long](0)
      assert(bs.length === 4) // 256 bits packed into 4 longs
      // maxsim: 2 tokens of 2 comps; query [1,2|3,4] doc [5,6|7,8]:
      // qt1 max(dot([1,2],[5,6])=17, dot([1,2],[7,8])=23) = 23
      // qt2 max(dot([3,4],[5,6])=39, dot([3,4],[7,8])=53) = 53 -> 76
      val ms = s.sql(
        "SELECT maxsim(array(5L,6L,7L,8L), array(1L,2L,3L,4L), 2) AS m")
        .collect().head.getLong(0)
      assert(ms === 76L)
      // non-literal geometry arguments are rejected loudly
      val err = intercept[Exception] {
        s.sql("SELECT shingle_hashes('a b c', cast(3 as int) + 0)").collect()
      }
      assert(err.getMessage.contains("INTEGER literal"))
    } finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("DotStrengthReduction rewrites the HOF dot to FloatDot, value-identical") {
    import TestSpark._
    import spark.implicits._
    import org.apache.spark.sql.functions._
    if (!spark.experimental.extraOptimizations
        .contains(graft.plans.DotStrengthReduction))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.DotStrengthReduction
    val e = Tables.embeddings(spark, sf)
    val q = e.filter($"vec_id" === 0).select($"embedding".as("qv"))
    val hof = e.crossJoin(broadcast(q)).filter($"vec_id" =!= 0)
      .select($"vec_id",
        graft.functions.VectorFunctions.dotHof($"embedding", $"qv").as("score"))
    val optimized = hof.queryExecution.optimizedPlan.toString
    assert(optimized.toLowerCase.contains("floatdot"),
      s"rule did not fire:\n$optimized")
    assert(!optimized.contains("aggregate(zip_with"),
      s"HOF chain survived:\n$optimized")
    // values identical to the native path (and to the no-rule HOF: the
    // parity dotHof == dot is pinned in VectorFunctionsSpec)
    val native = e.crossJoin(broadcast(q)).filter($"vec_id" =!= 0)
      .select($"vec_id",
        graft.functions.VectorFunctions.dot($"embedding", $"qv").as("score"))
    assert(hof.orderBy($"vec_id").collect().toSeq
      === native.orderBy($"vec_id").collect().toSeq)
    // a non-dot HOF aggregate is left untouched (different zero)
    val other = e.select(aggregate(zip_with($"embedding".cast("array<double>"),
      $"embedding".cast("array<double>"), (x, y) => x * y), lit(1.0),
      (acc, x) => acc + x).as("s"))
    assert(!other.queryExecution.optimizedPlan.toString
      .toLowerCase.contains("floatdot"))
    // a VALUE-CHANGING cast chain (float → int truncation → double) must
    // NOT be rewritten onto the raw floats: only the single exact
    // float→double widening cast is strippable
    val chained = e.select(aggregate(zip_with(
      $"embedding".cast("array<int>").cast("array<double>"),
      $"embedding".cast("array<double>"), (x, y) => x * y), lit(0.0),
      (acc, x) => acc + x).as("s"))
    assert(!chained.queryExecution.optimizedPlan.toString
      .toLowerCase.contains("floatdot"),
      "rule stripped a value-changing cast chain")
  }

  test("DSv2 FunctionCatalog (r16): graft_fns.ops.int8dot resolves via " +
    "config alone, codegens the magic invoke, and fails at analysis") {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.graft_fns",
      classOf[graft.sources.GraftFunctionCatalog].getName)
    val df = s.sql(
      "SELECT graft_fns.ops.int8dot(array(1, 2, 3), array(4, 5, -6)) AS d")
    assert(df.collect().head.getLong(0) === -4L)
    // the magic-vs-fallback choice is made at ANALYSIS
    // (V2ExpressionUtils.resolveScalarFunction): the analyzed plan must
    // carry a direct Invoke on the BoundFunction object, not the
    // row-boxing ApplyFunctionExpression fallback. (The optimizer then
    // constant-folds literal args — itself proof the Invoke evaluates.)
    val nonLit = s.sql(
      """SELECT graft_fns.ops.int8dot(a, array(4, 5, -6)) AS d
        |FROM VALUES (array(1, 2, 3)), (array(9, 0, 1)) AS t(a)""".stripMargin)
    assert(nonLit.collect().map(_.getLong(0)).sorted.toSeq === Seq(-4L, 30L))
    val analyzed = nonLit.queryExecution.analyzed.toString
    assert(analyzed.toLowerCase.contains("invoke"),
      s"magic invoke not resolved:\n$analyzed")
    assert(!analyzed.toLowerCase.contains("applyfunctionexpression"),
      s"fell back to produceResult boxing:\n$analyzed")
    // discoverable: SHOW FUNCTIONS lists the namespace's functions
    val shown = s.sql("SHOW FUNCTIONS IN graft_fns.ops")
      .collect().map(_.getString(0))
    assert(shown.exists(_.contains("int8dot")), shown.mkString(","))
    // unknown function name -> analysis-time error, not execute-time
    intercept[org.apache.spark.sql.AnalysisException] {
      s.sql("SELECT graft_fns.ops.nope(1) AS x")
    }
    // wrong input type -> bind() rejects at analysis, naming the shape
    val err = intercept[Exception] {
      s.sql("SELECT graft_fns.ops.int8dot(array('a'), array('b')) AS x")
    }
    assert(err.getMessage.contains("int8dot expects"), err.getMessage)
    // catalog-path value identical to the HOF aggregate(zip_with(...))
    val hof = s.sql(
      """SELECT aggregate(zip_with(array(7, -3, 11), array(2, 9, -1),
        |  (x, y) -> CAST(x AS BIGINT) * y), CAST(0 AS BIGINT),
        |  (acc, v) -> acc + v) AS d""".stripMargin).collect().head.getLong(0)
    val cat = s.sql(
      "SELECT graft_fns.ops.int8dot(array(7, -3, 11), array(2, 9, -1)) AS d")
      .collect().head.getLong(0)
    assert(cat === hof)
  }

  test("DSv2 FunctionCatalog V2 aggregate (r16): vsum partial states " +
    "merge across partitions, bad input type fails at analysis") {
    val s = TestSpark.spark
    import s.implicits._
    s.conf.set("spark.sql.catalog.graft_fns",
      classOf[graft.sources.GraftFunctionCatalog].getName)
    val rows = (1L to 100L).map(i => (i % 3, Array(i, 2 * i, -i)))
    // 1 partition vs 7 partitions: merge() must make them identical
    def run(parts: Int): Map[Long, Seq[Long]] = {
      rows.toDF("g", "v").repartition(parts)
        .createOrReplaceTempView("g_vsum_spec")
      s.sql("SELECT g, graft_fns.ops.vsum(v) AS vs FROM g_vsum_spec GROUP BY g")
        .as[(Long, Seq[Long])].collect().toMap
    }
    val one = run(1)
    val many = run(7)
    assert(one === many, s"merge drift: $one vs $many")
    // values: group g sums i over {i : i % 3 == g}
    val expect = rows.groupBy(_._1).map { case (g, rs) =>
      g -> Seq(rs.map(_._2(0)).sum, rs.map(_._2(1)).sum, rs.map(_._2(2)).sum)
    }
    assert(one === expect)
    // the plan carries the V2Aggregator-planned function, not a UDAF shim
    rows.toDF("g", "v").createOrReplaceTempView("g_vsum_spec")
    val agg = s.sql(
      "SELECT g, graft_fns.ops.vsum(v) AS vs FROM g_vsum_spec GROUP BY g")
    assert(agg.queryExecution.analyzed.toString.toLowerCase.contains("vsum"))
    // wrong input type -> bind() rejects at analysis
    val err = intercept[Exception] {
      s.sql("SELECT graft_fns.ops.vsum(array('a')) AS x")
    }
    assert(err.getMessage.contains("vsum expects"), err.getMessage)
  }

  test("u33 runtime bloom filter (r16): the fact side probes the dim's " +
    "bloom under its exchange; without the conf the probe is absent") {
    val s = TestSpark.spark
    // configured session: bloom injected
    val on = s.newSession()
    on.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    on.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    on.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "0")
    val planOn = graft.operators.Extensibility
      .bloomJoinPlan(on, TestSpark.sf)
      .queryExecution.optimizedPlan.toString.toLowerCase
    assert(planOn.contains("bloomfilter"),
      s"no bloom probe in the configured plan:\n$planOn")
    // unconfigured session (fixture-size thresholds): no bloom — the
    // filter is a planning decision, never part of the answer
    val off = s.newSession()
    off.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val planOff = graft.operators.Extensibility
      .bloomJoinPlan(off, TestSpark.sf)
      .queryExecution.optimizedPlan.toString.toLowerCase
    assert(!planOff.contains("bloomfilter"),
      s"bloom probe injected without the size-threshold conf:\n$planOff")
  }

  test("u34 SQL-body functions (r16): ResolveSQLFunctions INLINES the " +
    "body — the optimized plan is plain expressions, no function node") {
    val s = TestSpark.spark
    val df = graft.operators.Extensibility.sqlUdfInline(s, TestSpark.sf)
    // the returned frame is checkpointed; re-derive the plan the query
    // actually compiled by building it again without execution
    s.sql("CREATE OR REPLACE TEMPORARY FUNCTION graft_u34spec_f(x BIGINT) " +
      "RETURNS BIGINT RETURN x * 3 + 1")
    val plan = s.sql(
      "SELECT SUM(graft_u34spec_f(id)) AS s FROM RANGE(10)")
      .queryExecution.optimizedPlan.toString
    // inlined: the body's arithmetic survives as plain expressions, the
    // function reference does not (no SQLFunctionNode, no UDF invoke)
    assert(!plan.contains("graft_u34spec_f"),
      s"SQL UDF was not inlined:\n$plan")
    assert(plan.contains("* 3") && plan.contains("+ 1"),
      s"inlined body arithmetic missing:\n$plan")
    assert(df.columns.toSeq ===
      Seq("l_returnflag", "tier", "disc_val", "n"))
  }

  test("u36 stored procedures (r16): CALL recover_statements rolls a " +
    "genuinely crashed statement forward and returns its qid; bad arg " +
    "types and unknown procedures fail at analysis") {
    val s = TestSpark.spark
    import s.implicits._
    s.conf.set("spark.sql.catalog.graft_fns",
      classOf[graft.sources.GraftFunctionCatalog].getName)
    val root = java.nio.file.Files.createTempDirectory("u36rec").toString
    val fmt = classOf[graft.sources.BucketedPotV2Source].getName
    Seq(("", "seed", """{"v": 0}""")).toDF("pot_file", "key", "doc_json")
      .write.format(fmt).option("path", root).option("buckets", "4")
      .mode("append").save()
    // crash a statement right after its intent (fragments staged, zero
    // buckets committed) — the PotJsonSpec recovery fixture via CALL
    val keys = Seq("ra", "rb", "rc", "rd")
    val byBucket = keys.groupBy(
      graft.kv.BucketMeta.bucketOf(_, 4))
    val staging = java.nio.file.Paths.get(root, ".staging-crashproc")
    java.nio.file.Files.createDirectories(staging)
    val frags = byBucket.map { case (b, ks) =>
      val f = staging.resolve(s"part-b$b.jsonl")
      java.nio.file.Files.writeString(f,
        ks.map(k => s"""{"k":"$k","d":{"v":1}}""").mkString("", "\n", "\n"))
      b -> Seq((0, f.toString))
    }
    val fs = graft.sources.BucketedPotV2Source.fsOf(root)
    val base = graft.sources.BucketedPotV2Source.headVector(fs, root, 4)
    graft.sources.BucketedStmtLog.begin(fs, root, "crashproc",
      graft.sources.BucketedStmtLog.intentBody(
        "insert", "crashproc", truncate = false, Long.MaxValue,
        byBucket.keys.toSeq.sorted,
        byBucket.keys.map(b => b -> base.getOrElse(b, 0L)).toMap, frags))
    val recovered = s.sql(
      s"CALL graft_fns.sys.recover_statements('$root')")
    assert(recovered.columns.toSeq === Seq("qid"))
    assert(recovered.as[String].collect().toSeq === Seq("crashproc"))
    val after = s.read.format(fmt).option("path", root)
      .option("buckets", "4").load().select($"key").as[String]
      .collect().toSet
    assert(after === Set("seed") ++ keys,
      "CALL recover_statements did not apply the crashed statement")
    // bad arg type: rejected at ANALYSIS naming the shape
    val err = intercept[Exception] {
      s.sql("CALL graft_fns.sys.vacuum_pot(42)").collect()
    }
    assert(err.getMessage.contains("vacuum_pot expects") ||
      err.getMessage.toLowerCase.contains("cannot"), err.getMessage)
    // unknown procedure: analysis-time failure, not a runtime surprise
    val missing = intercept[Exception] {
      s.sql("CALL graft_fns.sys.no_such_proc('x')").collect()
    }
    assert(missing.getMessage.toLowerCase.contains("no_such_proc"),
      missing.getMessage)
  }

  test("u40 window→top-k rewrite (r16): the drop-rank row_number filter " +
    "becomes GroupedTopK; a SURVIVING rank column holds the rule back") {
    val s = TestSpark.spark
    import s.implicits._
    val ss = s.newSession()
    ss.experimental.extraOptimizations = Seq(graft.plans.WindowTopKRewrite)
    ss.experimental.extraStrategies = Seq(new graft.plans.GroupedTopKStrategy)
    val rewritten = graft.operators.Extensibility
      .windowTopKPlan(ss, TestSpark.sf)
    val opt = rewritten.queryExecution.optimizedPlan.toString
    assert(opt.contains("GroupedTopK"), s"rewrite did not fire:\n$opt")
    assert(!opt.contains("Window ["), s"window machinery survived:\n$opt")
    // r17 (ADVICE): InferWindowGroupLimit runs BEFORE extraOptimizations
    // and inserts a WindowGroupLimit below the window; the rewrite must
    // strip it or GroupedTopK sits on a redundant per-group sort
    assert(!opt.contains("WindowGroupLimit"),
      s"inferred WindowGroupLimit survived under GroupedTopK:\n$opt")
    // result equality with the un-rewritten session (rule changes plans,
    // never answers)
    val plain = graft.operators.Extensibility
      .windowTopKPlan(s.newSession(), TestSpark.sf).collect().toSeq
    assert(rewritten.collect().toSeq === plain)
    // guard rail: rank column SURVIVES the projection → window must run
    val keepRn = {
      import ss.implicits._
      graft.Tables.documents(ss, TestSpark.sf)
        .select($"source", $"doc_id", $"n_chars")
        .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy($"source")
            .orderBy($"n_chars".desc, $"doc_id")))
        .filter($"rn" <= 3)
    }
    val keepOpt = keepRn.queryExecution.optimizedPlan.toString
    assert(!keepOpt.contains("GroupedTopK"),
      s"rule fired on a surviving rank column:\n$keepOpt")
  }

  test("u44 rank/dense_rank rewrite legs (r17): drop-rank rank() and " +
    "dense_rank() shapes rewrite to GroupedTopK in their tie-preserving " +
    "modes, bit-equal to the window forms on a tie-heavy fixture") {
    val s = TestSpark.spark
    val ss = s.newSession()
    ss.experimental.extraOptimizations = Seq(graft.plans.WindowTopKRewrite)
    ss.experimental.extraStrategies = Seq(new graft.plans.GroupedTopKStrategy)
    import ss.implicits._
    import org.apache.spark.sql.functions.{dense_rank, rank}
    // tie-heavy synthetic: score = id % 5 forces boundary ties everywhere
    def fixture(sess: org.apache.spark.sql.SparkSession) =
      sess.range(0, 2000, 1, 4)
        .selectExpr("id % 8 as g", "id % 5 as score", "id as doc")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"g").orderBy($"score".desc)
    def shape(fn: org.apache.spark.sql.Column) =
      fixture(ss).withColumn("rk", fn.over(w))
        .filter($"rk" <= 2).drop("rk")
    for ((fn, mode) <- Seq((rank(), "RankK"), (dense_rank(), "DenseRankK"))) {
      val df = shape(fn)
      val opt = df.queryExecution.optimizedPlan.toString
      assert(opt.contains("GroupedTopK") && opt.contains(mode),
        s"$mode rewrite did not fire:\n$opt")
      assert(!opt.contains("Window [") && !opt.contains("WindowGroupLimit"),
        s"window machinery survived the $mode rewrite:\n$opt")
    }
    // bit-equality vs the un-rewritten session, ties included
    val plainSess = s.newSession()
    def plainShape(fn: org.apache.spark.sql.Column) = {
      import plainSess.implicits._
      val pw = org.apache.spark.sql.expressions.Window
        .partitionBy($"g").orderBy($"score".desc)
      fixture(plainSess).withColumn("rk", fn.over(pw))
        .filter($"rk" <= 2).drop("rk")
    }
    def sorted(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("g", "score", "doc").collect().toSeq
    assert(sorted(shape(rank())) === sorted(plainShape(rank())),
      "rank() rewrite changed the answer")
    assert(sorted(shape(dense_rank())) === sorted(plainShape(dense_rank())),
      "dense_rank() rewrite changed the answer")
    // rank keeps ties of the k-th: with 5 score values over 250 rows per
    // group, rank()<=2 keeps ~50 rows (one full tie class), never exactly 2
    assert(sorted(shape(rank())).size > 16,
      "rank() rewrite dropped boundary ties")
  }

  test("u38 AQE skew join (r16): the hot partition splits at runtime " +
    "(skew=true in the final plan); the static plan does not") {
    val s = TestSpark.spark
    // skew-tuned adaptive session: the final plan marks the join skewed
    val on = s.newSession()
    on.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    on.conf.set("spark.sql.adaptive.enabled", "true")
    on.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    on.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
    on.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8k")
    on.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4k")
    val df = graft.operators.Extensibility.aqeSkewPlan(on, TestSpark.sf)
    df.collect() // AQE decides from RUNTIME sizes — execute first
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("skew=true"),
      s"AQE did not split the skewed partition:\n$finalPlan")
    // adaptive off: the same query melts one reducer silently — the
    // plan carries no skew handling (what u6's salting is for pre-AQE)
    val off = s.newSession()
    off.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    off.conf.set("spark.sql.adaptive.enabled", "false")
    val dfOff = graft.operators.Extensibility.aqeSkewPlan(off, TestSpark.sf)
    dfOff.collect()
    assert(!dfOff.queryExecution.executedPlan.toString.contains("skew=true"))
  }
}
