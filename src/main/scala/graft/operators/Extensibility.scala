package graft.operators

import graft.{Ora, Scratch, Tables}
import graft.functions.Udfs
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Extensibility surface (SURVEY.md §2-B "UDF/UDAF" + typed Dataset + join
  * hints): registered scalar UDF, typed Aggregator as a DataFrame UDAF,
  * per-dimension vector centroids, an explicit sort-merge-join hint, and the
  * typed Dataset[T] API.
  */
object Extensibility {
  import Ora._

  /** Registered scalar UDF: pot key derivation (id overrides name). UDFs are
    * the last-resort extension point (not codegen'd); this one exists to
    * cover the registration surface — kv3 does the same job with built-in
    * coalesce, which is the preferred form.
    */
  def udfKeyDerivation(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val potKeyUdf = s.udf.register("pot_key", Udfs.potKey)
    Tables.part(s, d)
      .withColumn("id",
        when($"p_partkey" % 3 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("id-"), $"p_partkey")))
      .select($"p_partkey", potKeyUdf($"id", $"p_name").as("key"))
      .orderBy($"p_partkey")
  }

  val udfKeyDerivationSql: String =
    """SELECT p_partkey,
      | COALESCE(CASE WHEN p_partkey % 3 = 0 THEN NULL
      |               ELSE 'id-' || CAST(p_partkey AS VARCHAR) END,
      |          p_name) AS key
      |FROM part
      |ORDER BY p_partkey""".stripMargin

  /** Typed Aggregator used as a DataFrame UDAF: quantity-weighted average
    * price per return flag, exact-decimal accumulation (order-independent).
    */
  def typedAggWeightedAvg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wavg = udaf(new Udfs.WeightedAvg())
    Tables.lineitem(s, d)
      .groupBy($"l_returnflag")
      .agg(
        wavg($"l_extendedprice", $"l_quantity").as("weighted_avg_price"),
        count(lit(1)).as("n"))
      .orderBy($"l_returnflag")
  }

  val typedAggWeightedAvgSql: String =
    """SELECT l_returnflag,
      | CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(38,6))) AS DOUBLE)
      |   / CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS weighted_avg_price,
      | COUNT(*) AS n
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** Per-label embedding centroids via posexplode + exact decimal mean —
    * the scalable "vector UDAF" shape: no per-group state object, just
    * partial-aggregated (label, dim) cells. Output long-form (label, dim,
    * centroid) for engine-exact comparison.
    */
  def vectorCentroid(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, d)
      .select($"label", posexplode($"embedding").as(Seq("dim", "x")))
      .groupBy($"label", $"dim")
      .agg(davg($"x".cast("double")).as("centroid"), count(lit(1)).as("n_vecs"))
      .orderBy($"label", $"dim")
  }

  val vectorCentroidSql: String =
    s"""SELECT label, CAST(i - 1 AS INTEGER) AS dim,
       | ${sqlAvg("CAST(x AS DOUBLE)")} AS centroid,
       | COUNT(*) AS n_vecs
       |FROM (SELECT label, unnest(embedding) AS x,
       |        generate_subscripts(embedding, 1) AS i
       |      FROM embeddings) t
       |GROUP BY label, i - 1
       |ORDER BY label, dim""".stripMargin

  /** Explicit sort-merge join (merge hint): the strategy for fact-fact joins
    * where neither side broadcasts; with both sides bucketed by the key the
    * shuffle disappears entirely.
    */
  def mergeHintJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d).hint("merge")
    Tables.orders(s, d)
      .join(li, $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_items"), dsum($"l_quantity").as("sum_qty"))
      .orderBy($"o_orderpriority")
  }

  val mergeHintJoinSql: String =
    s"""SELECT o_orderpriority, COUNT(*) AS n_items, ${sqlSum("l_quantity")} AS sum_qty
       |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin

  /** Typed Dataset[T] surface: case-class Encoder + groupByKey. */
  final case class OrderRow(
      o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
      o_totalprice: Double, o_orderpriority: String)

  def typedDataset(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice",
        $"o_orderpriority")
      .as[OrderRow]
      .filter(_.o_totalprice > 300000.0)
      .groupByKey(_.o_orderstatus)
      .count()
      .toDF("o_orderstatus", "n_big")
      .orderBy($"o_orderstatus")
  }

  val typedDatasetSql: String =
    """SELECT o_orderstatus, COUNT(*) AS n_big
      |FROM orders
      |WHERE o_totalprice > 300000.0
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  /** Skew-salted join, oracle-checked: row-identical to the plain join, so
    * the DuckDB oracle runs the unsalted SQL. Salting spreads any hot
    * p_partkey across 8 reducers (see Scale.saltedJoin for the mechanism).
    */
  def saltedJoinAgg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d)
      .select($"l_partkey".as("partkey"), $"l_orderkey", $"l_linenumber", $"l_quantity")
      .withColumn("rowid",
        concat($"l_orderkey", lit("-"), $"l_linenumber"))
    val pt = Tables.part(s, d).select($"p_partkey".as("partkey"), $"p_brand")
    Scale.saltedJoin(li, pt, "partkey", saltFactor = 8, bigUniqueCol = "rowid")
      .groupBy($"p_brand")
      .agg(count(lit(1)).as("n_items"), dsum($"l_quantity").as("sum_qty"))
      .orderBy($"p_brand")
  }

  val saltedJoinAggSql: String =
    s"""SELECT p_brand, COUNT(*) AS n_items, ${sqlSum("l_quantity")} AS sum_qty
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |GROUP BY p_brand
       |ORDER BY p_brand""".stripMargin

  /** u7: the SQL FRONT DOOR to the native-expression family — s1's exact
    * cosine top-k restated as pure SQL over a temp view, with the ranking
    * dot computed by the `float_dot` Catalyst expression registered through
    * [[graft.GraftExtensions]]'s builder (injected here into the session's
    * own registry, since the driver builds its session without
    * `withExtensions`). Hash-matching s1's oracle proves the SQL-registered
    * expression is bit-identical to the Column API path — the guarantee a
    * SQL-only user needs before trusting the extension.
    */
  def sqlNativeDot(s: SparkSession, d: String): DataFrame = {
    s.sessionState.functionRegistry.registerFunction(
      new org.apache.spark.sql.catalyst.FunctionIdentifier("float_dot"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.FloatDot].getName, "float_dot"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.FloatDot(exprs(0), exprs(1)))
    Tables.embeddings(s, d).createOrReplaceTempView("g_embeddings")
    s.sql(
      """SELECT e.vec_id, e.label, float_dot(e.embedding, q.qv) AS score
        |FROM g_embeddings e
        |CROSS JOIN (SELECT embedding AS qv FROM g_embeddings WHERE vec_id = 0) q
        |WHERE e.vec_id <> 0
        |ORDER BY score DESC, e.vec_id ASC
        |LIMIT 20""".stripMargin)
  }

  /** Oracle: s1's brute-force SQL verbatim (same result set, same order). */
  val sqlNativeDotSql: String = Similarity.bruteForceTopKSql

  /** u8: the s20 MaxSim surface through PURE SQL — `maxsim(...)` resolved
    * from the function registry (the same injection [[graft.GraftExtensions]]
    * performs via `spark.sql.extensions` on a cluster), proving SQL users
    * get the identical codegen'd late-interaction scorer as the DataFrame
    * API. Same plan as s20: one scan, broadcast query, TakeOrdered.
    */
  def sqlMaxSim(s: SparkSession, d: String): DataFrame = {
    s.sessionState.functionRegistry.registerFunction(
      new org.apache.spark.sql.catalyst.FunctionIdentifier("maxsim"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.MaxSimScore].getName, "maxsim"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.MaxSimScore(exprs(0), exprs(1),
          exprs(2) match {
            case org.apache.spark.sql.catalyst.expressions.Literal(
              v: Int, org.apache.spark.sql.types.IntegerType) => v
            case other => throw new IllegalArgumentException(
              s"maxsim: tokens must be an INTEGER literal, got $other")
          }))
    Tables.embeddings(s, d).createOrReplaceTempView("g_embeddings")
    val sql =
      """WITH qv AS (
        |  SELECT vec_id, label,
        |    transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) * __SCALE__.0) AS BIGINT)) AS q
        |  FROM g_embeddings)
        |SELECT e.vec_id, e.label, maxsim(e.q, p.qq, __TOKENS__) AS maxsim
        |FROM qv e
        |CROSS JOIN (SELECT q AS qq FROM qv WHERE vec_id = 0) p
        |WHERE e.vec_id <> 0
        |ORDER BY maxsim DESC, e.vec_id ASC
        |LIMIT 10""".stripMargin
        .replace("__SCALE__", KMeans.QScale.toString)
        .replace("__TOKENS__", Similarity.MaxSimTokens.toString)
    s.sql(sql)
  }

  val sqlMaxSimSql: String = Similarity.maxSimTopKSql

  /** u9: q43's deterministic HLL through the NATIVE typed-imperative
    * aggregate ([[graft.functions.HllSketchAgg]]) instead of the two-stage
    * SQL register build — ONE aggregate exchange shipping 64-byte buffers
    * (partial-merged map-side), the 1000-executor production form. Same
    * oracle CTEs as q43 (minus the exact-distinct leg): hash-green here
    * proves the native update/merge/eval path is bit-identical to the SQL
    * register algebra, including the BigInteger estimate division.
    */
  def nativeHllAgg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .groupBy($"l_returnflag")
      .agg(graft.functions.HllSketchAgg.hllSketch(
        $"l_orderkey".cast("string")).as("sk"))
      .select($"l_returnflag",
        $"sk.hll_s_hi".as("hll_s_hi"),
        $"sk.hll_s_lo".as("hll_s_lo"),
        $"sk.hll_estimate".as("hll_estimate"))
      .orderBy($"l_returnflag")
  }

  val nativeHllAggSql: String =
    """WITH __RHOS__,
      |regs AS (
      |  SELECT l_returnflag, b, MAX(rho) AS mj
      |  FROM rhos GROUP BY 1, 2),
      |sk AS (
      |  SELECT l_returnflag,
      |    CAST(SUM(CAST(CAST(1 AS BIGINT) << (61 - mj) AS DECIMAL(38,0)))
      |      + CAST(64 - COUNT(*) AS DECIMAL(38,0))
      |        * CAST(2305843009213693952 AS DECIMAL(38,0))
      |      AS DECIMAL(38,0)) AS hll_s
      |  FROM regs GROUP BY 1)
      |SELECT l_returnflag,
      |  CAST(CAST(hll_s AS HUGEINT) // 17179869184 AS BIGINT) AS hll_s_hi,
      |  CAST(CAST(hll_s AS HUGEINT) % 17179869184 AS BIGINT) AS hll_s_lo,
      |  CAST(CAST('6696315672709156913020928' AS HUGEINT)
      |    // (CAST(1000 AS HUGEINT) * CAST(hll_s AS HUGEINT))
      |    AS BIGINT) AS hll_estimate
      |FROM sk
      |ORDER BY l_returnflag""".stripMargin
      .replace("__RHOS__", Aggregates.hllRhosCte)

  /** Write the nation rows as two pot objects split by key parity,
    * `dir/nation_<parity>/data.json`, each a JSON map from `n<key>` to
    * `doc(row)`; `extra(members)` appends non-document entries to a pot.
    */
  private def writeParityPots(dir: String, rows: Array[Row],
      doc: Row => String, extra: Array[Row] => Seq[String] = _ => Nil): Unit =
    Seq(0, 1).foreach { par =>
      val members = rows.filter(_.getInt(0) % 2 == par)
      val json = (members.map(r => s""""n${r.getInt(0)}": ${doc(r)}""") ++
        extra(members)).mkString("{", ", ", "}")
      val pd = java.nio.file.Paths.get(dir, s"nation_$par")
      java.nio.file.Files.createDirectories(pd)
      java.nio.file.Files.writeString(pd.resolve("data.json"), json)
    }

  /** The reference's nation document: id, name and region. */
  private val idNameRegionDoc: Row => String = r =>
    s"""{"id": "n${r.getInt(0)}", "name": "${r.getString(1)}", """ +
      s""""region": ${r.getInt(2)}}"""

  /** u10: the DataSource V2 CONNECTOR path ([[graft.sources.PotV2Source]])
    * — pot-format data.json objects read as a first-class V2 table (one
    * InputPartition per pot object, Jackson in the PartitionReader, column
    * pruning pushed to the reader). The query materializes the reference's
    * native format from the nation fixture (two pot objects, split by key
    * parity — proving the multi-file plan), reads it back through
    * `spark.read.format(...)`, and emits the parsed documents, which must
    * equal the relation the oracle recomputes from the fixture — the
    * migration-correctness guarantee a pot user needs before switching.
    */
  def dsv2PotRead(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Scratch.withDir("graft-potv2") { dir =>
      val rows = Tables.nation(s, d)
        .select($"n_nationkey", $"n_name", $"n_regionkey")
        .collect() // 25-row dimension: building the migration INPUT artifact
      writeParityPots(dir, rows, idNameRegionDoc)
      s.read.format(classOf[graft.sources.PotV2Source].getName)
        .option("path", s"$dir/*/data.json")
        .load()
        .select($"key",
          get_json_object($"doc_json", "$.name").as("name"),
          get_json_object($"doc_json", "$.region").cast("int").as("region"))
        .orderBy($"key")
        .localCheckpoint(true)
    }
  }

  val dsv2PotReadSql: String =
    """SELECT 'n' || CAST(n_nationkey AS VARCHAR) AS key,
      |  n_name AS name, CAST(n_regionkey AS INTEGER) AS region
      |FROM nation
      |ORDER BY key""".stripMargin

  /** u11: a CUSTOM OPTIMIZER RULE at work —
    * [[graft.plans.DotStrengthReduction]] rewrites the naive
    * higher-order-function dot product (what a user ports from SQL:
    * aggregate ∘ zip_with with per-element lambdas) into the native
    * [[graft.functions.FloatDot]] codegen expression. The query writes the
    * HOF form on purpose; the rule (injected here via
    * `experimental.extraOptimizations`, the live-session twin of
    * `GraftExtensions.injectOptimizerRule`) must deliver s1's exact result
    * through the fast path — GraftExtensionsSpec pins that the optimized
    * plan really contains FloatDot and not the HOF chain, and s20's 10×
    * measurement is the price the rule saves.
    */
  def hofDotRewrite(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    if (!s.experimental.extraOptimizations.contains(graft.plans.DotStrengthReduction))
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+ graft.plans.DotStrengthReduction
    val e = Tables.embeddings(s, d)
    val q = e.filter($"vec_id" === 0).select($"embedding".as("qv"))
    e.crossJoin(broadcast(q))
      .filter($"vec_id" =!= 0)
      .select($"vec_id", $"label",
        graft.functions.VectorFunctions.dotHof($"embedding", $"qv").as("score"))
      .orderBy($"score".desc, $"vec_id".asc)
      .limit(20)
  }

  /** Oracle: s1's brute-force SQL verbatim — the rewrite must be invisible
    * in the values.
    */
  val hofDotRewriteSql: String = Similarity.bruteForceTopKSql

  /** u12: DSv2 AGGREGATE PUSHDOWN on the pot connector — `COUNT(*) GROUP
    * BY pot_file` pushes COMPLETELY into [[graft.sources.PotV2Source]]
    * (one partition per pot object ⇒ groups never span partitions), so
    * each reader counts its map's entries WITHOUT stringifying a single
    * document body and Spark plans no aggregate at all; a pot-bucket
    * inventory over 10k objects becomes a metadata-speed query. The same
    * pot build as u10 (nation split by key parity into two pots); the
    * emitted pot short-name is derived from the pushed `pot_file` AFTER
    * the pushed aggregation. PotJsonSpec pins the plan marker and the
    * partial (global-count) variant.
    */
  def dsv2AggPushdown(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Scratch.withDir("graft-potv2agg") { dir =>
      val rows = Tables.nation(s, d)
        .select($"n_nationkey", $"n_name", $"n_regionkey")
        .collect()
      writeParityPots(dir, rows, idNameRegionDoc)
      s.read.format(classOf[graft.sources.PotV2Source].getName)
        .option("path", s"$dir/*/data.json")
        .load()
        .groupBy($"pot_file")
        .agg(count(lit(1)).as("n_docs"))
        .select(regexp_extract($"pot_file", "([^/]+)/data\\.json$", 1).as("pot"),
          $"n_docs")
        .orderBy($"pot")
        .localCheckpoint(true)
    }
  }

  val dsv2AggPushdownSql: String =
    """SELECT 'nation_' || CAST(n_nationkey % 2 AS VARCHAR) AS pot,
      |  COUNT(*) AS n_docs
      |FROM nation
      |GROUP BY 1
      |ORDER BY pot""".stripMargin

  /** u49: MULTI-AGGREGATE pushdown on the pot connector (r17 — u12
    * carried COUNT alone): `COUNT(*), MIN(key), MAX(key)` push together,
    * COMPLETELY for `GROUP BY pot_file` (one partition per object ⇒ no
    * group spans partitions; Spark plans no aggregate at all) and
    * PARTIALLY for the global form (each reader emits its partial
    * count/min/max row; Spark merges). Key extremes fold in UNSIGNED
    * UTF-8 BYTE order — Spark's StringType MIN/MAX contract, the same
    * comparator rule pushTopN learned in r15 — and document bodies are
    * never stringified: a bucket inventory with its key-range fence
    * (the input to range-partition planning or a manifest) is
    * metadata-speed over 10k objects. PotJsonSpec pins the plan marker
    * and the empty-relation partial (count 0, min/max NULL).
    */
  def aggMinMaxPushdown(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Scratch.withDir("graft-u49") { dir =>
      val rows = Tables.nation(s, d)
        .select($"n_nationkey", $"n_name", $"n_regionkey").collect()
      writeParityPots(dir, rows, idNameRegionDoc)
      val df = s.read.format(classOf[graft.sources.PotV2Source].getName)
        .option("path", s"$dir/*/data.json").load()
      val grouped = df.groupBy($"pot_file")
        .agg(count(lit(1)).as("n_docs"), min($"key").as("min_key"),
          max($"key").as("max_key"))
        .select(
          regexp_extract($"pot_file", "([^/]+)/data\\.json$", 1).as("pot"),
          $"n_docs", $"min_key", $"max_key")
      val global = df.agg(count(lit(1)).as("n_docs"),
        min($"key").as("min_key"), max($"key").as("max_key"))
        .select(lit("_all").as("pot"), $"n_docs", $"min_key", $"max_key")
      grouped.unionByName(global).orderBy($"pot")
        .localCheckpoint(true)
    }
  }

  val aggMinMaxPushdownSql: String =
    """WITH k AS (
      |  SELECT 'nation_' || CAST(n_nationkey % 2 AS VARCHAR) AS pot,
      |    'n' || CAST(n_nationkey AS VARCHAR) AS key
      |  FROM nation)
      |SELECT pot, COUNT(*) AS n_docs, MIN(key) AS min_key,
      |  MAX(key) AS max_key
      |FROM k GROUP BY pot
      |UNION ALL
      |SELECT '_all', COUNT(*), MIN(key), MAX(key) FROM k
      |ORDER BY pot""".stripMargin

  /** u57: ZONE-MAP object pruning (r18) — the parquet-footer-statistics
    * discipline for the pot format: every snapshot commit stamps a
    * `.zmap-<stem>.json` sidecar with the commit's key min/max (unsigned
    * UTF-8 order, written with the snapshot and exactly as atomic), and
    * `planInputPartitions` DROPS whole objects whose range excludes a
    * pushed exact-key predicate — a point read over a range-clustered
    * 10k-object layout opens only the covering objects, decided at
    * PLANNING from metadata-sized sidecars, zero data reads for the
    * pruned ones. Absent/torn sidecars (legacy chains, delta heads)
    * simply don't prune — never wrong results (PotJsonSpec pins the
    * partition-count reduction, the stale-sidecar fallback, and the
    * delta-head exclusion). The query is the takedown shape: five
    * range-clustered pot objects, a 2-key IN probe; the oracle replays
    * relationally from nation.
    */
  def zoneMapPruning(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Scratch.withDir("graft-u57") { dir =>
      val fmt = classOf[graft.sources.PotV2Source].getName
      val nat = Tables.nation(s, d)
        .select($"n_nationkey", $"n_name").collect().toSeq
      // five pots, range-clustered on zero-padded key (k00-k04 in pot 0, …)
      (0 to 4).foreach { g =>
        val rows = nat.filter(r => r.getInt(0) / 5 == g)
          .map(r => ("", f"k${r.getInt(0)}%02d",
            s"""{"name": "${r.getString(1)}"}"""))
        s.createDataFrame(rows).toDF("pot_file", "key", "doc_json")
          .write.format(fmt).option("path", s"$dir/range_$g/data.json")
          .mode("overwrite").save()
      }
      s.read.format(fmt).option("path", s"$dir/*/data.json").load()
        .filter($"key".isin("k03", "k17"))
        .select($"key", get_json_object($"doc_json", "$.name").as("name"))
        .orderBy($"key")
        .localCheckpoint(true)
    }
  }

  val zoneMapPruningSql: String =
    """SELECT 'k' || lpad(CAST(n_nationkey AS VARCHAR), 2, '0') AS key,
      |  n_name AS name
      |FROM nation
      |WHERE n_nationkey IN (3, 17)
      |ORDER BY key""".stripMargin

  /** u58: WALL-CLOCK RETENTION (r18 — Delta's `VACUUM … RETAIN n HOURS`
    * for the pot chain): `CALL graft_fns.sys.vacuum_pot_retain(path,
    * hours)` reclaims below-covering snapshot bodies OLDER than the
    * window by commit-marker mtime (u46's commit clock), so pinned and
    * wall-clock reads inside the window keep serving. Live here: a
    * 3-generation chain under a 1-hour window reclaims NOTHING and the
    * gen-1 pinned read still serves; a zero-hour window then reclaims
    * exactly the two below-covering bodies while the head read is
    * untouched. The clone-ownership guard on the time-based path (a
    * clone's age-based vacuum reclaims zero borrowed bodies) is
    * spec-pinned in PotJsonSpec. Oracle replays the counts relationally
    * from nation.
    */
  def vacuumRetention(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    s.conf.set("spark.sql.catalog.graft_fns",
      classOf[graft.sources.GraftFunctionCatalog].getName)
    Scratch.withDir("graft-u58") { dir =>
      val pot = s"$dir/t/data.json"
      val fmt = classOf[graft.sources.PotV2Source].getName
      val nat = Tables.nation(s, d)
      def write(df: org.apache.spark.sql.DataFrame, upd: Int,
          mode: String): Unit = df.select(lit("").as("pot_file"),
          concat(lit("n"), $"n_nationkey".cast("string")).as("key"),
          to_json(struct($"n_name".as("name"), lit(upd).as("upd")))
            .as("doc_json"))
        .write.format(fmt).option("path", pot).mode(mode).save()
      write(nat, 0, "overwrite")                              // gen 1
      write(nat.filter($"n_regionkey" === 0), 1, "append")    // gen 2
      write(nat.filter($"n_regionkey" === 1), 2, "append")    // gen 3 (covering)
      // a 1-hour window: every body is young — zero reclaimed
      val keptYoung = s.sql(
        s"CALL graft_fns.sys.vacuum_pot_retain('$pot', '1.0')")
        .collect().length.toLong
      // pinned-generation read INSIDE the window still serves
      val v1 = s.read.format(fmt).option("path", pot)
        .option("generation", "1").load()
        .agg(count(lit(1)).as("n_v1"),
          sum(get_json_object($"doc_json", "$.upd").cast("long")).as("upd_v1"))
        .localCheckpoint(true)
      // zero-hour window: the two below-covering bodies age out
      val reclaimed = s.sql(
        s"CALL graft_fns.sys.vacuum_pot_retain('$pot', '0')")
        .collect().length.toLong
      val head = s.read.format(fmt).option("path", pot).load()
        .agg(count(lit(1)).as("n_head"),
          sum(get_json_object($"doc_json", "$.upd").cast("long"))
            .as("upd_head"))
      Seq((keptYoung, reclaimed))
        .toDF("kept_young_deletes", "reclaimed")
        .crossJoin(v1).crossJoin(head)
        .localCheckpoint(true)
    }
  }

  val vacuumRetentionSql: String =
    """SELECT CAST(0 AS BIGINT) AS kept_young_deletes,
      |  CAST(2 AS BIGINT) AS reclaimed,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM nation) AS n_v1,
      |  CAST(0 AS BIGINT) AS upd_v1,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM nation) AS n_head,
      |  (SELECT CAST(SUM(CASE WHEN n_regionkey = 0 THEN 1
      |     WHEN n_regionkey = 1 THEN 2 ELSE 0 END) AS BIGINT)
      |   FROM nation) AS upd_head""".stripMargin

  /** u59: STATEMENT-HISTORY TVF (r18) — `graft_stmt_history('<root>')`
    * in FROM position: one row per multi-bucket statement the store has
    * seen — completed and aborted ones read back from u55's
    * `_stmts/closed` journal (kind, outcome, bucket count, the
    * [intent ts, doneTs) barrier window), still-open ones as
    * outcome='open'. This is Delta's DESCRIBE HISTORY for the statement
    * log: the audit surface wall-clock reads resolve against, now
    * queryable (and the maintenance loop's work list for
    * recover_statements — `WHERE outcome = 'open'`). Metadata-sized by
    * construction. The query runs the full outcome matrix live: two
    * committed INSERT waves + a crashed statement rolled forward (all
    * journal 'complete'), a conflict-dropped delta barrier ('abort'),
    * and a live young statement ('open'); emitted: counts per
    * (kind, outcome) + a windows-ordered sanity count (doneTs >= ts on
    * every closed row). Oracle = the expected matrix as literals.
    */
  private def registerStmtHistoryTvf(s: SparkSession): Unit =
    s.sessionState.tableFunctionRegistry.registerFunction(
      new org.apache.spark.sql.catalyst.FunctionIdentifier(
        "graft_stmt_history"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.sources.BucketedPotV2Source].getName,
        "graft_stmt_history"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        import org.apache.spark.sql.catalyst.expressions.Literal
        import org.apache.spark.unsafe.types.UTF8String
        val root = exprs match {
          case Seq(Literal(p: UTF8String, _)) => p.toString
          case other => throw new IllegalArgumentException(
            "graft_stmt_history: expected a STRING literal store root, " +
              "got " + other)
        }
        val sess = org.apache.spark.sql.SparkSession.active
        import sess.implicits._
        graft.sources.BucketedStmtLog.history(root)
          .toDF("qid", "kind", "outcome", "n_buckets", "ts_ms", "done_ms")
          .queryExecution.analyzed
      })

  def stmtHistory(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    registerStmtHistoryTvf(s)
    Scratch.withDir("graft-u59") { root =>
      val fmt = classOf[graft.sources.BucketedPotV2Source].getName
      val nat = Tables.nation(s, d)
      def insert(upd: Int): Unit = nat.select(lit("").as("pot_file"),
          concat(lit("n"), $"n_nationkey".cast("string")).as("key"),
          to_json(struct($"n_name".as("name"), lit(upd).as("upd")))
            .as("doc_json"))
        .write.format(fmt).option("path", root).option("buckets", "4")
        .mode("append").save()
      insert(0); insert(1) // two completed multi-bucket statements
      // a CRASHED statement (intent + staged fragments, nothing committed)
      // rolled forward -> journals 'complete' with doneTs = recovery time
      val keys = Seq("ra", "rb", "rc", "rd")
      val byBucket = keys.groupBy(
        graft.sources.BucketedPotV2Source.bucketOf(_, 4))
      val staging = java.nio.file.Paths.get(root, ".staging-u59crash")
      java.nio.file.Files.createDirectories(staging)
      val frags = byBucket.map { case (b, ks) =>
        val f = staging.resolve(s"part-b$b.jsonl")
        java.nio.file.Files.writeString(f,
          ks.map(k => s"""{"k":"$k","d":{"v":1}}""").mkString("", "\n", "\n"))
        b -> Seq((0, f.toString))
      }
      val base = graft.sources.BucketedPotV2Source.headVector(root, 4)
      graft.sources.BucketedStmtLog.begin(root, "u59crash",
        graft.sources.BucketedStmtLog.intentBody(
          "insert", "u59crash", truncate = false, Long.MaxValue,
          byBucket.keys.toSeq.sorted,
          byBucket.keys.map(b => b -> base.getOrElse(b, 0L)).toMap, frags))
      graft.sources.BucketedPotV2Source.recoverStatements(root)
      // a conflict-DROPPED delta barrier (the live MERGE-conflict path):
      // intent up, then the barrier comes down without completing
      graft.sources.BucketedStmtLog.begin(root, "u59conflict",
        graft.sources.BucketedStmtLog.intentBody(
          "delta", "u59conflict", truncate = false, Long.MaxValue,
          Seq(0), Map(0 -> 3L), Map.empty))
      graft.sources.BucketedStmtLog.abort(root, "u59conflict", Seq.empty)
      // a LIVE young statement — stays open
      graft.sources.BucketedStmtLog.begin(root, "u59open",
        graft.sources.BucketedStmtLog.intentBody(
          "insert", "u59open", truncate = false, Long.MaxValue,
          Seq(0, 1), Map(0 -> 3L, 1 -> 3L), Map.empty))
      s.sql(
        s"""SELECT kind, outcome, COUNT(*) AS n,
           |  CAST(SUM(CASE WHEN outcome <> 'open' AND done_ms >= ts_ms
           |    THEN 1 ELSE 0 END) AS BIGINT) AS windows_ordered
           |FROM graft_stmt_history('$root')
           |GROUP BY kind, outcome
           |ORDER BY kind, outcome""".stripMargin)
        .localCheckpoint(true)
    }
  }

  val stmtHistorySql: String =
    """SELECT * FROM (VALUES
      |  ('delta', 'abort', CAST(1 AS BIGINT), CAST(1 AS BIGINT)),
      |  ('insert', 'complete', CAST(3 AS BIGINT), CAST(3 AS BIGINT)),
      |  ('insert', 'open', CAST(1 AS BIGINT), CAST(0 AS BIGINT)))
      |  AS t(kind, outcome, n, windows_ordered)
      |ORDER BY kind, outcome""".stripMargin

  /** u60: CATALOG-ADDRESSED SQL DML (r18) — the multi-tenant gateway
    * story completed: a user with ONLY SQL access (no JVM, no
    * DataFrameReader options) runs the full store lifecycle against
    * `graft_fns.store.\`root\`` — INSERT INTO creates the store (an
    * empty path opens at the default modulus and the first write stamps
    * `_meta/buckets`, self-describing from then on), DELETE takes the
    * metadata path, UPDATE the row-level delta path, SELECT reads it
    * back — all resolved through the u54 TableCatalog, identifiers only.
    * Semantics are exactly u22's (same table class behind the
    * identifier); what this query pins is the RESOLUTION surface.
    * Oracle replays the final state relationally from nation.
    */
  def catalogSqlDml(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    s.conf.set("spark.sql.catalog.graft_fns",
      classOf[graft.sources.GraftFunctionCatalog].getName)
    Scratch.withDir("graft-u60") { root =>
      Tables.nation(s, d).createOrReplaceTempView("u60_nation")
      val tbl = s"graft_fns.store.`$root`"
      s.sql(
        s"""INSERT INTO $tbl
         |SELECT '' AS pot_file,
         |  'n' || CAST(n_nationkey AS STRING) AS key,
         |  to_json(named_struct('name', n_name, 'r', n_regionkey))
         |    AS doc_json
         |FROM u60_nation""".stripMargin)
      s.sql(s"DELETE FROM $tbl WHERE key = 'n7'")
      s.sql(s"""UPDATE $tbl SET doc_json = '{"name":"MOVED","r":9}' """ +
        "WHERE key = 'n3'")
      s.sql(
        s"""SELECT key, get_json_object(doc_json, '$$.name') AS name,
           |  CAST(get_json_object(doc_json, '$$.r') AS BIGINT) AS r
           |FROM $tbl
           |ORDER BY key""".stripMargin)
        .localCheckpoint(true)
    }
  }

  val catalogSqlDmlSql: String =
    """SELECT 'n' || CAST(n_nationkey AS VARCHAR) AS key,
      |  CASE WHEN n_nationkey = 3 THEN 'MOVED' ELSE n_name END AS name,
      |  CAST(CASE WHEN n_nationkey = 3 THEN 9 ELSE n_regionkey END
      |    AS BIGINT) AS r
      |FROM nation
      |WHERE n_nationkey <> 7
      |ORDER BY key""".stripMargin

  /** u61: ZONE-MAP inventory TVF (r18) — `graft_pot_zonemaps('<glob>')`
    * in FROM position: one row per pot with its head generation and the
    * head snapshot's zone-map range (kmin/kmax, or NULLs where no
    * sidecar exists — legacy chains, delta heads), plus whether a
    * pushed point read could prune it. The observability face of u57:
    * "which objects would this key touch / which pots lack statistics"
    * is the question a layout review asks before trusting planning-time
    * pruning (Iceberg's `files` metadata table for the pot format).
    * Driver-side marker+sidecar reads only — metadata-sized, the CALL
    * bound. Oracle = the expected inventory relationally from nation
    * (the fixture pots are range-clustered by construction).
    */
  private def registerZoneMapTvf(s: SparkSession): Unit =
    s.sessionState.tableFunctionRegistry.registerFunction(
      new org.apache.spark.sql.catalyst.FunctionIdentifier(
        "graft_pot_zonemaps"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.sources.PotV2Source].getName, "graft_pot_zonemaps"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        import org.apache.spark.sql.catalyst.expressions.Literal
        import org.apache.spark.unsafe.types.UTF8String
        val glob = exprs match {
          case Seq(Literal(p: UTF8String, _)) => p.toString
          case other => throw new IllegalArgumentException(
            "graft_pot_zonemaps: expected a STRING literal glob, got " +
              other)
        }
        val sess = org.apache.spark.sql.SparkSession.active
        import sess.implicits._
        val p = new org.apache.hadoop.fs.Path(glob)
        val fs = p.getFileSystem(graft.kv.HadoopConf.get)
        val rows = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Seq.empty)
          .filter(_.isFile).map(_.getPath).map { pot =>
            val commits = new org.apache.hadoop.fs.Path(
              pot.getParent, ".commits")
            val gens = graft.kv.CommitMarker
              .committedGenerations(fs, commits)
            if (gens.isEmpty) (pot.toString, 0L, null: String, null: String)
            else {
              val head = gens.max
              val body = graft.sources.PotChain.artifactOf(fs, commits, head)
              graft.sources.PotChain.zmapRange(fs, body) match {
                case Some((mn, mx)) => (pot.toString, head, mn, mx)
                case None => (pot.toString, head, null: String, null: String)
              }
            }
          }
        rows.toDF("pot_file", "head_gen", "kmin", "kmax")
          .queryExecution.analyzed
      })

  /** u71: FIELD-STATS inventory TVF (r19) — `graft_pot_fieldstats(
    * '<glob>')`: one row per (pot, doc-field path) from the head
    * snapshot's zone-map sidecar — type tag ('i'/'s'/'x'), non-null
    * count, and the typed min/max — the observability face of u65/u68
    * exactly as u61 is u57's: "which fields carry usable statistics,
    * what would a shred predicate prune on, which pots need
    * ensure_stats" is the question a layout review asks before trusting
    * field pruning. A pot whose sidecar is absent (legacy/delta head)
    * emits one row with a NULL field — present in the inventory, not
    * silently missing. Driver-side marker+sidecar reads only,
    * metadata-sized. Oracle replays the per-pot per-field stats
    * relationally from nation (the sidecar derives from the same docs
    * by the write-side contract — this query IS that contract's
    * end-to-end check).
    */
  private def registerFieldStatsTvf(s: SparkSession): Unit =
    s.sessionState.tableFunctionRegistry.registerFunction(
      new org.apache.spark.sql.catalyst.FunctionIdentifier(
        "graft_pot_fieldstats"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.sources.PotV2Source].getName, "graft_pot_fieldstats"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        import org.apache.spark.sql.catalyst.expressions.Literal
        import org.apache.spark.unsafe.types.UTF8String
        val glob = exprs match {
          case Seq(Literal(p: UTF8String, _)) => p.toString
          case other => throw new IllegalArgumentException(
            "graft_pot_fieldstats: expected a STRING literal glob, got " +
              other)
        }
        val sess = org.apache.spark.sql.SparkSession.active
        import sess.implicits._
        val p = new org.apache.hadoop.fs.Path(glob)
        val fs = p.getFileSystem(graft.kv.HadoopConf.get)
        val rows = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Seq.empty)
          .filter(_.isFile).map(_.getPath).flatMap { pot =>
            val commits = new org.apache.hadoop.fs.Path(
              pot.getParent, ".commits")
            val gens = graft.kv.CommitMarker
              .committedGenerations(fs, commits)
            val none = Seq((pot.toString, null: String, null: String,
              null: java.lang.Long, null: java.lang.Long,
              null: java.lang.Long, null: String, null: String))
            if (gens.isEmpty) none
            else {
              val body = graft.sources.PotChain.artifactOf(fs, commits,
                gens.max)
              val stats = graft.sources.PotChain.zmapStats(fs, body)
              stats.fields match {
                case Some(fm) if fm.nonEmpty =>
                  fm.toSeq.sortBy(_._1).map { case (f, z) =>
                    (pot.toString, f, z.tag.toString,
                      if (z.n >= 0) (z.n: java.lang.Long)
                      else null: java.lang.Long,
                      if (z.tag == 'i') (z.lmin: java.lang.Long)
                      else null: java.lang.Long,
                      if (z.tag == 'i') (z.lmax: java.lang.Long)
                      else null: java.lang.Long,
                      if (z.tag == 's') z.smin else null,
                      if (z.tag == 's') z.smax else null)
                  }
                case _ => none
              }
            }
          }
        rows.toDF("pot_file", "field", "t", "n", "lmin", "lmax",
          "smin", "smax").queryExecution.analyzed
      })

  def fieldStatsInventory(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    registerFieldStatsTvf(s)
    Scratch.withDir("graft-u71") { dir =>
      val fmt = classOf[graft.sources.PotV2Source].getName
      val nat = Tables.nation(s, d)
      (0 to 4).foreach { g =>
        nat.filter(floor($"n_nationkey" / 5) === g)
          .select(lit("").as("pot_file"),
            concat(lit("k"), lpad($"n_nationkey".cast("string"), 2, "0"))
              .as("key"),
            to_json(struct($"n_name".as("name"),
              when($"n_regionkey" =!= 2,
                $"n_nationkey".cast("long") * 1000 + $"n_regionkey")
                .as("pop"))).as("doc_json"))
          .write.format(fmt).option("path", s"$dir/range_$g/data.json")
          .mode("overwrite").save()
      }
      s.sql(
        s"""SELECT regexp_extract(pot_file, '([^/]+)/data\\\\.json$$', 1)
           |    AS pot,
           |  field, t, n, lmin, lmax, smin, smax
           |FROM graft_pot_fieldstats('$dir/*/data.json')
           |ORDER BY pot, field""".stripMargin)
        .localCheckpoint(true)
    }
  }

  val fieldStatsInventorySql: String =
    """WITH k AS (
      |  SELECT 'range_' || CAST(n_nationkey // 5 AS VARCHAR) AS pot,
      |    n_name AS name,
      |    CASE WHEN n_regionkey = 2 THEN NULL
      |      ELSE CAST(n_nationkey * 1000 + n_regionkey AS BIGINT)
      |    END AS pop
      |  FROM nation)
      |SELECT * FROM (
      |SELECT pot, 'name' AS field, 's' AS t,
      |  CAST(COUNT(name) AS BIGINT) AS n,
      |  CAST(NULL AS BIGINT) AS lmin, CAST(NULL AS BIGINT) AS lmax,
      |  MIN(name) AS smin, MAX(name) AS smax
      |FROM k GROUP BY pot
      |UNION ALL
      |SELECT pot, 'pop', 'i', CAST(COUNT(pop) AS BIGINT),
      |  MIN(pop), MAX(pop), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
      |FROM k GROUP BY pot HAVING COUNT(pop) > 0)
      |ORDER BY pot, field""".stripMargin

  def zoneMapInventory(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    registerZoneMapTvf(s)
    Scratch.withDir("graft-u61") { dir =>
      val fmt = classOf[graft.sources.PotV2Source].getName
      val nat = Tables.nation(s, d)
        .select($"n_nationkey", $"n_name").collect().toSeq
      (0 to 4).foreach { g =>
        val rows = nat.filter(r => r.getInt(0) / 5 == g)
          .map(r => ("", f"k${r.getInt(0)}%02d",
            s"""{"name": "${r.getString(1)}"}"""))
        s.createDataFrame(rows).toDF("pot_file", "key", "doc_json")
          .write.format(fmt).option("path", s"$dir/range_$g/data.json")
          .mode("overwrite").save()
      }
      s.sql(
        s"""SELECT regexp_extract(pot_file, '([^/]+)/data\\\\.json', 1) AS pot,
           |  head_gen, kmin, kmax,
           |  CAST(CASE WHEN kmin IS NOT NULL AND kmin <= 'k03'
           |    AND 'k03' <= kmax THEN 1 ELSE 0 END AS BIGINT) AS covers_k03
           |FROM graft_pot_zonemaps('$dir/*/data.json')
           |ORDER BY pot""".stripMargin)
        .localCheckpoint(true)
    }
  }

  val zoneMapInventorySql: String =
    """WITH k AS (
      |  SELECT 'range_' || CAST(n_nationkey // 5 AS VARCHAR) AS pot,
      |    'k' || lpad(CAST(n_nationkey AS VARCHAR), 2, '0') AS key
      |  FROM nation)
      |SELECT pot, CAST(1 AS BIGINT) AS head_gen,
      |  MIN(key) AS kmin, MAX(key) AS kmax,
      |  CAST(CASE WHEN MIN(key) <= 'k03' AND 'k03' <= MAX(key)
      |    THEN 1 ELSE 0 END AS BIGINT) AS covers_k03
      |FROM k
      |GROUP BY pot
      |ORDER BY pot""".stripMargin

  /** u62: STATEMENT-JOURNAL CHECKPOINT + RETENTION (r19 — the r18
    * verdict's one `weak` cleared): `_stmts/closed` grew one marker per
    * multi-bucket statement FOREVER, and every u55 wall-clock read's
    * planning listed and read ALL of them. Now `CALL
    * graft_fns.sys.vacuum_pot_retain(store, hours)` also CHECKPOINTS the
    * journal: every closed window folds into ONE CAS-published
    * `_stmts/ckpt/<epoch>` marker (windows still inside the retention
    * horizon retained verbatim; older ones DROPPED — their instants are
    * past the shared vacuum horizon, where the bucketed AS OF retention
    * guard already fails loudly), and `capsAt`/`history` read checkpoint
    * + tail: O(1 + statements since last checkpoint) planning reads at
    * ANY store age. Live here: a statement window spanning a known
    * instant caps an AS OF read identically BEFORE and AFTER the
    * checkpoint (byte-equal probes), the closed tail goes 3 -> 0 -> 1
    * (post-checkpoint statements accrue normally), and after a
    * zero-hour retention pass (windows dropped AND chain bodies
    * vacuumed) the same AS OF fails NAMED with RetentionViolated —
    * never a torn half-statement read. Oracle = the expected counts
    * relationally from nation.
    */
  def stmtCheckpoint(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    s.conf.set("spark.sql.catalog.graft_fns",
      classOf[graft.sources.GraftFunctionCatalog].getName)
    Scratch.withDir("graft-u62") { root =>
      val fmt = classOf[graft.sources.BucketedPotV2Source].getName
      val nat = Tables.nation(s, d)
      def write(df: org.apache.spark.sql.DataFrame, upd: Int): Unit = df.select(
          lit("").as("pot_file"),
          concat(lit("n"), $"n_nationkey".cast("string")).as("key"),
          to_json(struct($"n_name".as("name"), lit(upd).as("upd")))
            .as("doc_json"))
        .write.format(fmt).option("path", root).option("buckets", "4")
        .mode("append").save()
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(graft.kv.HadoopConf.get)
      def lastMtime: Long = graft.sources.BucketedPotV2Source
        .existingBuckets(root, 4).map { b =>
          val commits = new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs
            .Path(graft.sources.BucketedPotV2Source.bucketPot(root, b))
            .getParent, ".commits")
          graft.kv.CommitMarker.committedGenerations(fs, commits).map(g =>
            fs.getFileStatus(new org.apache.hadoop.fs.Path(
              commits, g.toString)).getModificationTime).max
        }.max
      def tailCount: Long = {
        val cd = new org.apache.hadoop.fs.Path(root, "_stmts/closed")
        if (fs.exists(cd)) fs.listStatus(cd).count(_.getLen > 0).toLong else 0L
      }
      write(nat, 0)                                               // wave 1
      // a statement window SPANNING a known instant: barrier up with the
      // wave-1 base vector, wave 2 lands inside it, then the window closes
      val base = graft.sources.BucketedPotV2Source.headVector(root, 4)
      graft.sources.BucketedStmtLog.begin(root, "u62span",
        graft.sources.BucketedStmtLog.intentBody(
          "insert", "u62span", truncate = false, Long.MaxValue,
          base.keys.toSeq.sorted, base, Map.empty))
      write(nat.filter($"n_regionkey" === 0), 1)                 // wave 2
      val w2 = math.max(lastMtime, System.currentTimeMillis())
      while (System.currentTimeMillis() <= w2 + 2) Thread.sleep(2)
      val tIn = System.currentTimeMillis()  // inside u62span's window
      Thread.sleep(3)
      graft.sources.BucketedStmtLog.complete(root, "u62span", Seq.empty)
      def probe(label: String) = s.read.format(fmt)
        .option("path", root).option("buckets", "4")
        .option("timestampAsOf", tIn.toString).load()
        .agg(count(lit(1)).as("n"),
          sum(get_json_object($"doc_json", "$.upd").cast("long")).as("n_upd"))
        .select(lit(label).as("probe"), $"n", $"n_upd")
        .localCheckpoint(true)
      val tailBefore = tailCount  // wave1 + wave2 + u62span = 3
      val a = probe("a_pre_ckpt") // window caps -> wave-1 state exactly
      s.sql(s"CALL graft_fns.sys.vacuum_pot_retain('$root', '1.0')").collect()
      val tailAfter = tailCount   // folded into the checkpoint marker
      val b = probe("b_post_ckpt") // identical read through ckpt + tail
      write(nat, 2)                                               // wave 3
      val tailWave3 = tailCount   // post-checkpoint statements accrue
      Thread.sleep(3)
      // zero-hour retention: windows dropped AND below-covering bodies
      // vacuumed — the same AS OF must now fail NAMED, never read torn
      s.sql(s"CALL graft_fns.sys.vacuum_pot_retain('$root', '0')").collect()
      val droppedNamed =
        try { probe("c").collect(); 0L }
        catch {
          case e: Throwable =>
            def named(t: Throwable): Boolean = t != null &&
              (t.isInstanceOf[graft.kv.PotTable.RetentionViolated] ||
                named(t.getCause))
            if (named(e)) 1L else throw e
        }
      a.unionAll(b)
        .crossJoin(Seq((tailBefore, tailAfter, tailWave3, droppedNamed))
          .toDF("tail_before", "tail_after", "tail_wave3", "dropped_named"))
        .orderBy($"probe")
        .localCheckpoint(true)
    }
  }

  val stmtCheckpointSql: String =
    """SELECT probe, CAST((SELECT COUNT(*) FROM nation) AS BIGINT) AS n,
      |  CAST(0 AS BIGINT) AS n_upd,
      |  CAST(3 AS BIGINT) AS tail_before, CAST(0 AS BIGINT) AS tail_after,
      |  CAST(1 AS BIGINT) AS tail_wave3, CAST(1 AS BIGINT) AS dropped_named
      |FROM (VALUES ('a_pre_ckpt'), ('b_post_ckpt')) AS t(probe)
      |ORDER BY probe""".stripMargin

  /** u63: CATALOG TIME TRAVEL (r19) — `VERSION AS OF` / `TIMESTAMP AS OF`
    * on `graft_fns.pot.*` and `graft_fns.store.*` identifiers: the first
    * thing a lakehouse user types after u60's pure-SQL DML landed, now
    * resolved by [[graft.sources.GraftFunctionCatalog]]'s
    * `loadTable(ident, version/timestamp)` overloads delegating to the
    * u16/u46 (pot) and u55 (bucketed, statement-window-capped)
    * resolvers. Pinned here live: pot VERSION AS OF both generations,
    * pot TIMESTAMP AS OF between commits (the EARLIER generation —
    * Delta/Iceberg's rule), store TIMESTAMP AS OF at the same instant
    * (per-bucket vector), VERSION AS OF on a store failing NAMED (no
    * store-wide generation exists — per-bucket chains), and an
    * uncommitted pot generation failing NAMED at planning. Oracle
    * replays the two states relationally from nation.
    */
  def catalogTimeTravel(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    s.conf.set("spark.sql.catalog.graft_fns",
      classOf[graft.sources.GraftFunctionCatalog].getName)
    Scratch.withDir("graft-u63") { dir =>
      val pot = s"$dir/t/data.json"
      val root = s"$dir/store"
      val potFmt = classOf[graft.sources.PotV2Source].getName
      val storeFmt = classOf[graft.sources.BucketedPotV2Source].getName
      val nat = Tables.nation(s, d)
      def rows(df: org.apache.spark.sql.DataFrame, upd: Int) = df.select(
        lit("").as("pot_file"),
        concat(lit("n"), $"n_nationkey".cast("string")).as("key"),
        to_json(struct($"n_name".as("name"), lit(upd).as("upd")))
          .as("doc_json"))
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(graft.kv.HadoopConf.get)
      def chainMtimes(potPath: String): Seq[Long] = {
        val commits = new org.apache.hadoop.fs.Path(
          new org.apache.hadoop.fs.Path(potPath).getParent, ".commits")
        graft.kv.CommitMarker.committedGenerations(fs, commits).map(g =>
          fs.getFileStatus(new org.apache.hadoop.fs.Path(
            commits, g.toString)).getModificationTime)
      }
      // wave 1 on both surfaces
      rows(nat, 0).write.format(potFmt).option("path", pot)
        .mode("overwrite").save()
      rows(nat, 0).write.format(storeFmt).option("path", root)
        .option("buckets", "4").mode("append").save()
      val w1 = (chainMtimes(pot) ++ graft.sources.BucketedPotV2Source
        .existingBuckets(root, 4)
        .flatMap(b => chainMtimes(
          graft.sources.BucketedPotV2Source.bucketPot(root, b)))).max
      while (System.currentTimeMillis() <= w1 + 2) Thread.sleep(2)
      val tMid = System.currentTimeMillis()
      Thread.sleep(3)
      // wave 2 on both surfaces (strictly after tMid)
      rows(nat.filter($"n_regionkey" === 0), 1).write.format(potFmt)
        .option("path", pot).mode("append").save()
      rows(nat.filter($"n_regionkey" === 0), 1).write.format(storeFmt)
        .option("path", root).option("buckets", "4").mode("append").save()
      // session TZ is UTC — format tMid as a UTC SQL timestamp literal
      val tsLit = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
        .withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.ofEpochMilli(tMid))
      def probe(label: String, from: String) = s.sql(
        s"""SELECT '$label' AS probe, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CAST(get_json_object(doc_json, '$$.upd') AS BIGINT))
           |    AS BIGINT) AS n_upd
           |FROM $from""".stripMargin).localCheckpoint(true)
      val potV1 = probe("pot_v1", s"graft_fns.pot.`$pot` VERSION AS OF 1")
      val potV2 = probe("pot_v2", s"graft_fns.pot.`$pot` VERSION AS OF 2")
      val potTs = probe("pot_ts",
        s"graft_fns.pot.`$pot` TIMESTAMP AS OF '$tsLit'")
      val storeTs = probe("store_ts",
        s"graft_fns.store.`$root` TIMESTAMP AS OF '$tsLit'")
      def namedFail(sql: String, needle: String): Long =
        try { s.sql(sql).collect(); 0L }
        catch {
          case e: Throwable =>
            def hit(t: Throwable): Boolean = t != null &&
              (Option(t.getMessage).exists(_.contains(needle)) ||
                hit(t.getCause))
            if (hit(e)) 1L else throw e
        }
      val storeVerNamed = namedFail(
        s"SELECT * FROM graft_fns.store.`$root` VERSION AS OF 1",
        "no store-wide generation")
      val uncommittedNamed = namedFail(
        s"SELECT * FROM graft_fns.pot.`$pot` VERSION AS OF 99",
        "not committed")
      potV1.unionAll(potV2).unionAll(potTs).unionAll(storeTs)
        .crossJoin(Seq((storeVerNamed, uncommittedNamed))
          .toDF("store_version_named", "uncommitted_named"))
        .orderBy($"probe")
        .localCheckpoint(true)
    }
  }

  val catalogTimeTravelSql: String =
    """WITH c AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN n_regionkey = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS r0
      |  FROM nation)
      |SELECT t.probe, c.n,
      |  CAST(CASE WHEN t.probe = 'pot_v2' THEN c.r0 ELSE 0 END AS BIGINT)
      |    AS n_upd,
      |  CAST(1 AS BIGINT) AS store_version_named,
      |  CAST(1 AS BIGINT) AS uncommitted_named
      |FROM (VALUES ('pot_v1'), ('pot_v2'), ('pot_ts'), ('store_ts'))
      |  AS t(probe), c
      |ORDER BY t.probe""".stripMargin

  /** u64: BUCKETED-STORE zone-map pruning (r19) — hash bucketing serves
    * EQUALITY (the key hashes to its bucket); a PREFIX predicate has no
    * hash, so pre-r19 it opened every bucket. Every bucket commit
    * already stamps the u57 `.zmap` sidecar (bucket chains commit
    * through the same snapshot path), and the shared planner prunes
    * buckets whose [kmin, kmax] misses the prefix interval — which pays
    * off exactly when the prefix lives at the EDGE of the key domain or
    * in a skewed corner (a rare key family held by few buckets: every
    * other bucket's range ends below it). Honest limitation, stated: a
    * mid-domain prefix on uniformly hashed keys prunes nothing — each
    * bucket's range spans it. PotJsonSpec pins the planning-time
    * bucket-count reduction and PropertySpec re-runs the no-wrong-results
    * harness over random bucketed layouts; the query runs the takedown
    * shape live. Oracle replays relationally from nation.
    */
  def bucketedZmapPrune(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Scratch.withDir("graft-u64") { root =>
      val fmt = classOf[graft.sources.BucketedPotV2Source].getName
      val nat = Tables.nation(s, d)
      nat.select(lit("").as("pot_file"),
          concat(lit("n"), $"n_nationkey".cast("string")).as("key"),
          to_json(struct($"n_name".as("name"))).as("doc_json"))
        .write.format(fmt).option("path", root).option("buckets", "8")
        .mode("append").save()
      // a rare top-of-domain key family: two keys, at most two buckets
      Seq(("", "zz:a", """{"name": "EDGE_A"}"""),
          ("", "zz:b", """{"name": "EDGE_B"}"""))
        .toDF("pot_file", "key", "doc_json")
        .write.format(fmt).option("path", root).option("buckets", "8")
        .mode("append").save()
      s.read.format(fmt).option("path", root).option("buckets", "8")
        .load()
        .filter($"key".startsWith("zz"))
        .select($"key", get_json_object($"doc_json", "$.name").as("name"))
        .orderBy($"key")
        .localCheckpoint(true)
    }
  }

  val bucketedZmapPruneSql: String =
    """SELECT * FROM (VALUES ('zz:a', 'EDGE_A'), ('zz:b', 'EDGE_B'))
      |  AS t(key, name)
      |ORDER BY key""".stripMargin

  /** u65: ZONE MAPS OVER SHREDDED DOC FIELDS (r19) — the sidecar now
    * records typed min/max per doc-field path (depth <= 2; integral 'i',
    * textual 's', mixed/other 'x' — never pruned on; `fcap` marks
    * partial stats past 32 paths), and pushed u45 shred predicates prune
    * WHOLE OBJECTS at planning before any parse — parquet column
    * statistics for the pot format, closing the loop u56 opened
    * (aggregates fold pre-stringify; now range/equality predicates skip
    * the object entirely). The absent-path rule is the sharp edge: a
    * complete (fcap=false) sidecar with no entry for a path proves the
    * typed extraction is null in every row, so equality/range/IsNotNull
    * on it prune the object — pinned here live with a `ghost` column
    * that exists nowhere (0 rows, every object pruned at planning).
    * PotJsonSpec pins the object-count reductions and the
    * absent/mistyped-sidecar fallbacks. Oracle replays relationally.
    */
  def shredZmapPrune(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Scratch.withDir("graft-u65") { dir =>
      val fmt = classOf[graft.sources.PotV2Source].getName
      val nat = Tables.nation(s, d)
      // five pots range-clustered on pop = nationkey*1000 (+region), pop
      // ABSENT for region-2 rows (the u56 null shape — to_json drops nulls)
      (0 to 4).foreach { g =>
        nat.filter(floor($"n_nationkey" / 5) === g)
          .select(lit("").as("pot_file"),
            concat(lit("k"), lpad($"n_nationkey".cast("string"), 2, "0"))
              .as("key"),
            to_json(struct($"n_name".as("name"),
              when($"n_regionkey" =!= 2,
                $"n_nationkey".cast("long") * 1000 + $"n_regionkey")
                .as("pop"))).as("doc_json"))
          .write.format(fmt).option("path", s"$dir/range_$g/data.json")
          .mode("overwrite").save()
      }
      val df = s.read.format(fmt).option("path", s"$dir/*/data.json")
        .option("shred",
          "name=name:string,pop=pop:bigint,ghost=ghost:string").load()
      val rows = df.filter($"pop" >= 17000L)
        .select($"key", $"name", $"pop")
      val ghostRows = df.filter($"ghost".isNotNull).count()
      rows
        .crossJoin(Seq(ghostRows).toDF("ghost_rows"))
        .orderBy($"key")
        .localCheckpoint(true)
    }
  }

  val shredZmapPruneSql: String =
    """SELECT 'k' || lpad(CAST(n_nationkey AS VARCHAR), 2, '0') AS key,
      |  n_name AS name,
      |  CAST(n_nationkey * 1000 + n_regionkey AS BIGINT) AS pop,
      |  CAST(0 AS BIGINT) AS ghost_rows
      |FROM nation
      |WHERE n_regionkey <> 2 AND n_nationkey * 1000 + n_regionkey >= 17000
      |ORDER BY key""".stripMargin

  /** u66: SHRED THROUGH THE CATALOG DOOR (r19) — u60 gave a pure-SQL
    * user the store lifecycle, but u45's typed shred columns (and their
    * u45/u56/u65 pushdowns) were `.option`-only, unreachable from a SQL
    * gateway. Read options now ride the table NAME as a `?k=v` suffix:
    * `graft_fns.pot.\`<glob>?shred=pop=pop:bigint,...\`` — URL-decoded,
    * unknown keys fail named. The query reads a shredded glob through
    * the catalog with a pushed range predicate on a shred field (the
    * u65 pruning applies — same planner) and projects typed columns with
    * zero get_json_object calls. Oracle replays relationally.
    */
  def catalogShred(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    s.conf.set("spark.sql.catalog.graft_fns",
      classOf[graft.sources.GraftFunctionCatalog].getName)
    Scratch.withDir("graft-u66") { dir =>
      val fmt = classOf[graft.sources.PotV2Source].getName
      val nat = Tables.nation(s, d)
      (0 to 4).foreach { g =>
        nat.filter(floor($"n_nationkey" / 5) === g)
          .select(lit("").as("pot_file"),
            concat(lit("k"), lpad($"n_nationkey".cast("string"), 2, "0"))
              .as("key"),
            to_json(struct($"n_name".as("name"),
              ($"n_nationkey".cast("long") * 1000 + $"n_regionkey")
                .as("pop"))).as("doc_json"))
          .write.format(fmt).option("path", s"$dir/range_$g/data.json")
          .mode("overwrite").save()
      }
      val tbl = s"graft_fns.pot.`$dir/*/data.json" +
        "?shred=name=name:string,pop=pop:bigint`"
      s.sql(
        s"""SELECT key, name, pop FROM $tbl
           |WHERE pop < 6000
           |ORDER BY key""".stripMargin)
        .localCheckpoint(true)
    }
  }

  val catalogShredSql: String =
    """SELECT 'k' || lpad(CAST(n_nationkey AS VARCHAR), 2, '0') AS key,
      |  n_name AS name,
      |  CAST(n_nationkey * 1000 + n_regionkey AS BIGINT) AS pop
      |FROM nation
      |WHERE n_nationkey * 1000 + n_regionkey < 6000
      |ORDER BY key""".stripMargin

  /** u67: ORDER-AWARE OBJECT SKIP under pushed TopN (r19) — the pushed
    * TopN on `key` (u28/u53) still opened EVERY object and emitted each
    * one's local top-k; with u57 sidecar ranges and the r16 name-stamped
    * row counts the planner now proves an object irrelevant: if other
    * objects whose whole key range strictly precedes it already hold
    * >= k rows, none of its rows can reach the global top-k (ASC; DESC
    * mirrored) — the object is never opened. Applied only when no
    * pushed predicate can drop rows and no sample is pushed (a filtered
    * TopN's preceding-row count would overcount; those scans keep the
    * open-everything behavior). PotJsonSpec pins the partition-count
    * drop, the filter/sample declines, and the evidence fallbacks
    * (missing sidecar or row stamp = never skipped, never counted).
    * The query runs both directions over a range-clustered layout.
    * Oracle replays relationally from nation.
    */
  def topnObjectSkip(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Scratch.withDir("graft-u67") { dir =>
      val fmt = classOf[graft.sources.PotV2Source].getName
      val nat = Tables.nation(s, d)
      (0 to 4).foreach { g =>
        nat.filter(floor($"n_nationkey" / 5) === g)
          .select(lit("").as("pot_file"),
            concat(lit("k"), lpad($"n_nationkey".cast("string"), 2, "0"))
              .as("key"),
            to_json(struct($"n_name".as("name"))).as("doc_json"))
          .write.format(fmt).option("path", s"$dir/range_$g/data.json")
          .mode("overwrite").save()
      }
      val df = s.read.format(fmt).option("path", s"$dir/*/data.json").load()
      def probe(d0: org.apache.spark.sql.DataFrame, label: String) =
        d0.select(lit(label).as("dir"), $"key",
          get_json_object($"doc_json", "$.name").as("name"))
      probe(df.orderBy($"key".asc).limit(4), "asc")
        .unionAll(probe(df.orderBy($"key".desc).limit(4), "desc"))
        .orderBy($"dir", $"key")
        .localCheckpoint(true)
    }
  }

  val topnObjectSkipSql: String =
    """WITH k AS (
      |  SELECT 'k' || lpad(CAST(n_nationkey AS VARCHAR), 2, '0') AS key,
      |    n_name AS name
      |  FROM nation)
      |SELECT * FROM (
      |  SELECT 'asc' AS dir, key, name FROM k ORDER BY key ASC LIMIT 4)
      |UNION ALL
      |SELECT * FROM (
      |  SELECT 'desc' AS dir, key, name FROM k ORDER BY key DESC LIMIT 4)
      |ORDER BY dir, key""".stripMargin

  /** u68: STATS-ONLY AGGREGATE (r19) — the pushed aggregate (u12/u49/
    * u56) still opened and parsed every object to fold its answer; now a
    * snapshot commit's zone-map sidecar carries per-field non-null
    * counts next to the typed extremes, and an aggregate partition whose
    * pushed predicates cannot drop rows is answered from the SIDECAR +
    * the `-r<N>` name stamp alone — two metadata-sized reads instead of
    * the full object parse, Iceberg's stats-only `MIN/MAX/COUNT` brought
    * to the pot format. Exactness: COUNT(*) = the row stamp,
    * MIN/MAX(key) = kmin/kmax (same unsigned UTF-8 order both sides),
    * COUNT/MIN/MAX(shred field) = the field's stats iff its recorded
    * type is PURE and matches the declaration (a pure-other-typed or
    * provably-absent field is 0/NULL by the extraction contract); any
    * ambiguity — mixed types, capped stats, pre-u68 sidecar — opens the
    * object exactly as before (never wrong). The query runs the full
    * kind matrix grouped by pot_file over five committed pots (leg
    * `stats`: every object answers stats-only, the `statsOnlyAggObjects`
    * scan metric — read from the SAME QueryExecution — pins 5) and the
    * same aggregate under a pushed row-dropping key prefix (leg
    * `opened`: the gate declines, metric 0, values still exact). At
    * 100 TB a per-object stats sweep over a 10k-object store is 10k
    * sidecar reads, not 10k object parses. Oracle replays relationally.
    */
  def statsOnlyAgg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Scratch.withDir("graft-u68") { dir =>
      val fmt = classOf[graft.sources.PotV2Source].getName
      val nat = Tables.nation(s, d)
      (0 to 4).foreach { g =>
        nat.filter(floor($"n_nationkey" / 5) === g)
          .select(lit("").as("pot_file"),
            concat(lit("k"), lpad($"n_nationkey".cast("string"), 2, "0"))
              .as("key"),
            to_json(struct($"n_name".as("name"),
              when($"n_regionkey" =!= 2,
                $"n_nationkey".cast("long") * 1000 + $"n_regionkey")
                .as("pop"))).as("doc_json"))
          .write.format(fmt).option("path", s"$dir/range_$g/data.json")
          .mode("overwrite").save()
      }
      val df = s.read.format(fmt).option("path", s"$dir/*/data.json")
        .option("shred", "name=name:string,pop=pop:bigint").load()
      def agg(src: org.apache.spark.sql.DataFrame) =
        src.groupBy($"pot_file")
          .agg(count(lit(1)).as("n_rows"),
            min($"key").as("min_key"), max($"key").as("max_key"),
            count($"pop").as("n_pop"),
            min($"pop").as("min_pop"), max($"pop").as("max_pop"),
            min($"name").as("min_name"), max($"name").as("max_name"))
      // leg A: no row-dropping predicate — all five objects stats-only
      val qa = agg(df)
      // leg B: pushed key prefix DROPS rows — gate declines, objects open
      val qb = agg(df.filter($"key".startsWith("k1")))
      def run(q: org.apache.spark.sql.DataFrame, leg: String)
          : (Seq[org.apache.spark.sql.Row], Long) = {
        val rows = q.collect().toSeq
        // the metric lives on q's OWN executed plan (the r17 rule: a new
        // QueryExecution never ticks)
        val m = q.queryExecution.executedPlan.collect {
          case b: org.apache.spark.sql.execution.datasources.v2
            .BatchScanExec => b
        }.map(_.metrics.get("statsOnlyAggObjects").map(_.value)
          .getOrElse(0L)).sum
        (rows, m)
      }
      val (ra, ma) = run(qa, "stats")
      val (rb, mb) = run(qb, "opened")
      val rowsOut = (ra.map(("stats", ma, _)) ++ rb.map(("opened", mb, _)))
        .map { case (leg, m, r) =>
          (leg, m,
            r.getString(0).replaceAll("^.*/(range_\\d)/data\\.json$", "$1"),
            r.getLong(1), r.getString(2), r.getString(3), r.getLong(4),
            if (r.isNullAt(5)) null else java.lang.Long.valueOf(r.getLong(5)),
            if (r.isNullAt(6)) null else java.lang.Long.valueOf(r.getLong(6)),
            r.getString(7), r.getString(8))
        }
      rowsOut.toDF("leg", "stats_only", "pot", "n_rows",
          "min_key", "max_key", "n_pop", "min_pop", "max_pop",
          "min_name", "max_name")
        .orderBy($"leg", $"pot")
        .localCheckpoint(true)
    }
  }

  val statsOnlyAggSql: String =
    """WITH k AS (
      |  SELECT 'range_' || CAST(n_nationkey // 5 AS VARCHAR) AS pot,
      |    'k' || lpad(CAST(n_nationkey AS VARCHAR), 2, '0') AS key,
      |    n_name AS name,
      |    CASE WHEN n_regionkey = 2 THEN NULL
      |      ELSE CAST(n_nationkey * 1000 + n_regionkey AS BIGINT)
      |    END AS pop
      |  FROM nation),
      |legA AS (
      |  SELECT 'stats' AS leg, CAST(5 AS BIGINT) AS stats_only, pot,
      |    CAST(COUNT(*) AS BIGINT) AS n_rows,
      |    MIN(key) AS min_key, MAX(key) AS max_key,
      |    CAST(COUNT(pop) AS BIGINT) AS n_pop,
      |    MIN(pop) AS min_pop, MAX(pop) AS max_pop,
      |    MIN(name) AS min_name, MAX(name) AS max_name
      |  FROM k GROUP BY pot),
      |legB AS (
      |  SELECT 'opened' AS leg, CAST(0 AS BIGINT) AS stats_only, pot,
      |    CAST(COUNT(*) AS BIGINT) AS n_rows,
      |    MIN(key) AS min_key, MAX(key) AS max_key,
      |    CAST(COUNT(pop) AS BIGINT) AS n_pop,
      |    MIN(pop) AS min_pop, MAX(pop) AS max_pop,
      |    MIN(name) AS min_name, MAX(name) AS max_name
      |  FROM k WHERE key LIKE 'k1%' GROUP BY pot)
      |SELECT * FROM legA
      |UNION ALL
      |SELECT * FROM legB
      |ORDER BY leg, pot""".stripMargin

  /** u69: CHAIN-UNION zone maps for DELTA-HEADED pots (r19) — u57/u64
    * prune snapshot-headed objects only; a delta-headed chain (streaming
    * epochs since the last compaction) admitted unconditionally, so a
    * point read over a store mid-ingest opened and FOLDED every chain.
    * Now every delta epoch commits a `.dzmap-` TOUCHED-KEY range sidecar
    * next to its `.dgen-` artifact (upserts AND tombstones — existence
    * of a key in the folded state requires some generation to have
    * touched it, so counting deletions is conservative), and planning
    * prunes a whole chain when the pushed exact/IN/prefix key misses the
    * UNION of the covering snapshot's zone map and every dgen's touched
    * range. Evidence must be complete — no covering snapshot or any
    * missing sidecar admits (never wrong) — and the `.dzmap-` family is
    * deliberately distinct from `.zmap-` so every snapshot-stats surface
    * (u61 inventory, u65/u68 field stats) stays snapshot-only. The query
    * builds three key-disjoint delta-headed chains and probes exact /
    * prefix / near-miss predicates: planned-partition counts (the direct
    * scan-builder probe) land in the output next to the served rows. At
    * 100 TB this is the difference between a point read folding every
    * mid-ingest chain in the store and folding one. Oracle replays
    * relationally; partition counts are pinned constants by layout.
    */
  def deltaChainZmapPrune(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Scratch.withDir("graft-u69") { dir =>
      val fmt = classOf[graft.sources.PotV2Source].getName
      val nat = Tables.nation(s, d)
        .select($"n_nationkey", $"n_name").collect().toSeq
        .filter(_.getInt(0) < 24)
      def keyOf(nk: Int): String = f"${('a' + nk / 8).toChar}$nk%02d"
      def doc(name: String) = s"""{"name": "$name"}"""
      (0 to 2).foreach { g =>
        val mine = nat.filter(r => r.getInt(0) / 8 == g)
        val pot = s"$dir/chain_$g/data.json"
        // covering snapshot: the first half of the pot's key domain
        mine.filter(_.getInt(0) % 8 < 4)
          .map(r => ("", keyOf(r.getInt(0)), doc(r.getString(1))))
          .toDF("pot_file", "key", "doc_json")
          .write.format(fmt).option("path", pot).mode("overwrite").save()
        // one delta epoch upserts the second half — the chain stays
        // delta-headed (run 1 << compactEvery)
        val fs = new org.apache.hadoop.fs.Path(pot)
          .getFileSystem(graft.kv.HadoopConf.get)
        val staging = new org.apache.hadoop.fs.Path(s"$dir/chain_$g/.stage")
        fs.mkdirs(staging)
        val frag = new org.apache.hadoop.fs.Path(staging, "f.jsonl")
        val out = fs.create(frag, false)
        try out.write(mine.filter(_.getInt(0) % 8 >= 4)
          .map(r => s"""{"k": "${keyOf(r.getInt(0))}", """ +
            s""""d": ${doc(r.getString(1))}}""")
          .mkString("", "\n", "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        new graft.sources.PotV2Write(pot,
          graft.sources.PotV2Source.Schema, s"u69e$g", truncateFirst = false)
          .commitDeltaEpoch(
            Array(graft.sources.PotFragmentMessage(0, frag.toString)),
            s"u69e$g", staging)
      }
      def probeParts(filters: org.apache.spark.sql.sources.Filter*): Long = {
        val b = new graft.sources.PotV2ScanBuilder(s"$dir/*/data.json")
        b.pushFilters(filters.toArray)
        b.build().asInstanceOf[org.apache.spark.sql.connector.read.Batch]
          .planInputPartitions().length.toLong
      }
      import org.apache.spark.sql.sources.{EqualTo, In, StringStartsWith}
      val df = s.read.format(fmt).option("path", s"$dir/*/data.json").load()
      def leg(label: String, parts: Long,
          src: org.apache.spark.sql.DataFrame) =
        src.agg(count(lit(1)).as("n_rows"), min($"key").as("min_key"),
            max($"key").as("max_key"))
          .select(lit(label).as("leg"), lit(parts).as("parts"),
            $"n_rows", $"min_key", $"max_key")
      leg("exact", probeParts(In("key", Array("a02", "a06"))),
          df.filter($"key".isin("a02", "a06")))
        .unionByName(leg("miss", probeParts(EqualTo("key", "z99")),
          df.filter($"key" === "z99")))
        .unionByName(leg("prefix", probeParts(StringStartsWith("key", "b1")),
          df.filter($"key".startsWith("b1"))))
        .orderBy($"leg")
        .localCheckpoint(true)
    }
  }

  val deltaChainZmapPruneSql: String =
    """WITH k AS (
      |  SELECT chr(97 + n_nationkey // 8) ||
      |    lpad(CAST(n_nationkey AS VARCHAR), 2, '0') AS key
      |  FROM nation WHERE n_nationkey < 24)
      |SELECT 'exact' AS leg, CAST(1 AS BIGINT) AS parts,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  MIN(key) AS min_key, MAX(key) AS max_key
      |FROM k WHERE key IN ('a02', 'a06')
      |UNION ALL
      |SELECT 'miss', CAST(0 AS BIGINT), CAST(COUNT(*) AS BIGINT),
      |  MIN(key), MAX(key)
      |FROM k WHERE key = 'z99'
      |UNION ALL
      |SELECT 'prefix', CAST(1 AS BIGINT), CAST(COUNT(*) AS BIGINT),
      |  MIN(key), MAX(key)
      |FROM k WHERE key LIKE 'b1%'
      |ORDER BY leg""".stripMargin

  /** u72: RUNTIME KEY FILTERING through zone maps (r19) — the
    * point-lookup-JOIN analogue of DPP: the scan now advertises `key`
    * (next to r15's `pot_file`) as a runtime-filter attribute, so when
    * a join's other side resolves at runtime to a small set of key
    * values, Spark hands the scan an `In(key, …)` AFTER planning and
    * partitions re-plan through the u57/u69 zone-map machinery
    * (exactKeys consumes pushed ++ runtime — static and runtime
    * pruning are ONE code path and cannot diverge). Pruning-only by
    * contract: surviving objects' rows are filtered by the join
    * itself, so missing sidecars admit and stay correct. The query
    * joins a 2-key broadcast dim against 5 range-clustered pots and
    * pins the partition counts via the direct scan contract (4 static,
    * 2 under the runtime In — the two covering objects) next to the
    * joined rows. At 100 TB this is an enrichment join against a 10k-
    * object store opening 2 objects instead of 10k. Oracle replays
    * relationally; counts are layout constants.
    */
  def runtimeKeyPrune(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Scratch.withDir("graft-u72") { dir =>
      val fmt = classOf[graft.sources.PotV2Source].getName
      val nat = Tables.nation(s, d)
      (0 to 4).foreach { g =>
        nat.filter(floor($"n_nationkey" / 5) === g)
          .select(lit("").as("pot_file"),
            concat(lit("k"), lpad($"n_nationkey".cast("string"), 2, "0"))
              .as("key"),
            to_json(struct($"n_name".as("name"))).as("doc_json"))
          .write.format(fmt).option("path", s"$dir/range_$g/data.json")
          .mode("overwrite").save()
      }
      // direct scan contract: the same re-plan a DPP subquery delivers
      val scan = new graft.sources.PotV2ScanBuilder(s"$dir/*/data.json")
        .build().asInstanceOf[
          org.apache.spark.sql.connector.read.SupportsRuntimeFiltering]
      val batch = scan
        .asInstanceOf[org.apache.spark.sql.connector.read.Batch]
      val partsStatic = batch.planInputPartitions().length.toLong
      scan.filter(Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.In("key", Array("k03", "k17"))))
      val partsRuntime = batch.planInputPartitions().length.toLong
      val df = s.read.format(fmt).option("path", s"$dir/*/data.json").load()
      val dim = Seq(("k03", 1L), ("k17", 2L)).toDF("dk", "tag")
      df.join(broadcast(dim), df("key") === dim("dk"))
        .select($"key", get_json_object($"doc_json", "$.name").as("name"),
          $"tag")
        .crossJoin(Seq((partsStatic, partsRuntime))
          .toDF("parts_static", "parts_runtime"))
        .orderBy($"key")
        .localCheckpoint(true)
    }
  }

  val runtimeKeyPruneSql: String =
    """SELECT 'k' || lpad(CAST(n_nationkey AS VARCHAR), 2, '0') AS key,
      |  n_name AS name,
      |  CAST(CASE WHEN n_nationkey = 3 THEN 1 ELSE 2 END AS BIGINT) AS tag,
      |  CAST(5 AS BIGINT) AS parts_static,
      |  CAST(2 AS BIGINT) AS parts_runtime
      |FROM nation
      |WHERE n_nationkey IN (3, 17)
      |ORDER BY key""".stripMargin

  /** u70: ENSURE_STATS — ANALYZE for the pot format (r19). u57-u68 hang
    * planning statistics off zone-map sidecars written AT COMMIT; a
    * pre-u57 store, or one whose sidecars were lost, silently degrades
    * to open-everything with no verb to repair it (Delta/Iceberg ship
    * ANALYZE/compute-stats for exactly this). `CALL graft_fns.sys
    * .ensure_stats('<glob>')` backfills: snapshot heads missing their
    * sidecar get one, built by the COMMIT WRITER'S OWN stats builder
    * (shared code — backfilled stats are bit-identical to commit-time
    * stats by construction); delta heads and legacy pots are named, not
    * guessed. The query runs the status matrix live — one pot with
    * stats (`present`), one with its sidecar deleted (`written`), one
    * delta-headed (`delta_head`) — and pins the planning effect in the
    * output: a point probe OUTSIDE every domain opens 1 object before
    * the CALL (the sidecar-less pot must admit) and 0 after. Oracle
    * replays relationally (statuses/counts by construction, the value
    * row from nation). */
  def ensureStatsCall(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    s.conf.set("spark.sql.catalog.graft_fns",
      classOf[graft.sources.GraftFunctionCatalog].getName)
    Scratch.withDir("graft-u70") { dir =>
      val fmt = classOf[graft.sources.PotV2Source].getName
      val nat = Tables.nation(s, d)
        .select($"n_nationkey", $"n_name").collect().toSeq
      def keyOf(nk: Int) = f"k$nk%02d"
      def doc(name: String) = s"""{"name": "$name"}"""
      def snap(g: Int, nks: Range): String = {
        val pot = s"$dir/range_$g/data.json"
        nat.filter(r => nks.contains(r.getInt(0)))
          .map(r => ("", keyOf(r.getInt(0)), doc(r.getString(1))))
          .toDF("pot_file", "key", "doc_json")
          .write.format(fmt).option("path", pot).mode("overwrite").save()
        pot
      }
      snap(0, 0 to 4)                    // sidecar present
      val p1 = snap(1, 5 to 9)           // sidecar deleted below
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(graft.kv.HadoopConf.get)
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/range_1"))
        .map(_.getPath).filter(_.getName.startsWith(".zmap-"))
        .foreach(z => fs.delete(z, false))
      val p2 = snap(2, 10 to 12)         // then a delta epoch -> delta head
      val staging = new org.apache.hadoop.fs.Path(s"$dir/range_2/.st")
      fs.mkdirs(staging)
      val frag = new org.apache.hadoop.fs.Path(staging, "f.jsonl")
      val out0 = fs.create(frag, false)
      try out0.write(nat.filter(r => (13 to 14).contains(r.getInt(0)))
        .map(r => s"""{"k": "${keyOf(r.getInt(0))}", """ +
          s""""d": ${doc(r.getString(1))}}""")
        .mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out0.close()
      new graft.sources.PotV2Write(p2, graft.sources.PotV2Source.Schema,
        "u70e", truncateFirst = false)
        .commitDeltaEpoch(
          Array(graft.sources.PotFragmentMessage(0, frag.toString)),
          "u70e", staging)
      def parts(k: String): Long = {
        val b = new graft.sources.PotV2ScanBuilder(s"$dir/*/data.json")
        b.pushFilters(Array(org.apache.spark.sql.sources.EqualTo("key", k)))
        b.build().asInstanceOf[org.apache.spark.sql.connector.read.Batch]
          .planInputPartitions().length.toLong
      }
      val partsPre = parts("k20") // outside every domain: only the
                                  // sidecar-less pot must admit
      val statuses = s.sql(
        s"CALL graft_fns.sys.ensure_stats('$dir/*/data.json')")
        .as[String].collect().toSeq.sorted
        .map { st =>
          // the pot path itself carries a scheme colon: split on the LAST
          val i = st.lastIndexOf(':')
          (st.substring(0, i)
            .replaceAll("^.*/(range_\\d)/data\\.json$", "$1"),
            st.substring(i + 1))
        }
      val partsPost = parts("k20")
      val k07 = s.read.format(fmt).option("path", s"$dir/*/data.json").load()
        .filter($"key" === "k07")
        .select(get_json_object($"doc_json", "$.name")).as[String]
        .collect().toSeq
      statuses.toDF("pot", "status")
        .crossJoin(Seq((partsPre, partsPost, k07.length.toLong,
          k07.headOption.orNull))
          .toDF("parts_pre", "parts_post", "n_k07", "k07_name"))
        .orderBy($"pot")
        .localCheckpoint(true)
    }
  }

  val ensureStatsCallSql: String =
    """SELECT pot, status, CAST(1 AS BIGINT) AS parts_pre,
      |  CAST(0 AS BIGINT) AS parts_post, CAST(1 AS BIGINT) AS n_k07,
      |  (SELECT n_name FROM nation WHERE n_nationkey = 7) AS k07_name
      |FROM (VALUES ('range_0', 'present'), ('range_1', 'written'),
      |  ('range_2', 'delta_head')) AS t(pot, status)
      |ORDER BY pot""".stripMargin

  /** u73: CHECK_POT — fsck for the pot format (r19). A store ages
    * through vacuums, clones, crashes, and foreign writers; `CALL
    * graft_fns.sys.check_pot('<glob | store root>')` is the one
    * metadata-level pass that names what is wrong where before a reader
    * trips over it (DuckDB's PRAGMA integrity_check / Delta FSCK role):
    * per pot, markers and names ONLY — no object opened — classifying
    * ok | legacy | bad_marker | no_covering_snapshot | missing_artifact
    * | no_stats | torn_stats. It is the WORK-LIST producer the other
    * maintenance verbs consume, and the query runs that loop live:
    * check over a six-shape fixture (healthy snapshot, stripped
    * sidecar, healthy delta chain, vacuum-violated chain, legacy pot,
    * torn sidecar) → `ensure_stats` → re-check, pinning that EXACTLY
    * the `no_stats` pot heals (fsck and ANALYZE stay separate verbs:
    * a torn sidecar or missing artifact is a finding, not something
    * stats backfill may silently paper over). Oracle = the status
    * matrix by construction.
    */
  def checkPotCall(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    s.conf.set("spark.sql.catalog.graft_fns",
      classOf[graft.sources.GraftFunctionCatalog].getName)
    Scratch.withDir("graft-u73") { dir =>
      val fmt = classOf[graft.sources.PotV2Source].getName
      val nat = Tables.nation(s, d)
        .select($"n_nationkey", $"n_name").collect().toSeq
      def keyOf(nk: Int) = f"k$nk%02d"
      def doc(name: String) = s"""{"name": "$name"}"""
      def snap(g: Int, nks: Range): String = {
        val pot = s"$dir/range_$g/data.json"
        nat.filter(r => nks.contains(r.getInt(0)))
          .map(r => ("", keyOf(r.getInt(0)), doc(r.getString(1))))
          .toDF("pot_file", "key", "doc_json")
          .write.format(fmt).option("path", pot).mode("overwrite").save()
        pot
      }
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(graft.kv.HadoopConf.get)
      def sidecarsOf(g: Int) =
        fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/range_$g"))
          .map(_.getPath).filter(_.getName.startsWith(".zmap-"))
      snap(0, 0 to 3)                       // healthy
      snap(1, 4 to 7)                       // sidecar stripped below
      sidecarsOf(1).foreach(z => fs.delete(z, false))
      val p2 = snap(2, 8 to 10)             // + delta epoch: healthy chain
      val staging = new org.apache.hadoop.fs.Path(s"$dir/range_2/.st")
      fs.mkdirs(staging)
      val frag = new org.apache.hadoop.fs.Path(staging, "f.jsonl")
      val o0 = fs.create(frag, false)
      try o0.write(nat.filter(r => (11 to 12).contains(r.getInt(0)))
        .map(r => s"""{"k": "${keyOf(r.getInt(0))}", """ +
          s""""d": ${doc(r.getString(1))}}""")
        .mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally o0.close()
      new graft.sources.PotV2Write(p2, graft.sources.PotV2Source.Schema,
        "u73e", truncateFirst = false)
        .commitDeltaEpoch(
          Array(graft.sources.PotFragmentMessage(0, frag.toString)),
          "u73e", staging)
      snap(3, 13 to 15)                     // head ARTIFACT deleted below
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/range_3"))
        .map(_.getPath).filter(_.getName.startsWith(".snap-"))
        .foreach(a => fs.delete(a, false))
      // legacy: raw object, no commit chain
      val leg = new org.apache.hadoop.fs.Path(s"$dir/range_4/data.json")
      fs.mkdirs(leg.getParent)
      val o1 = fs.create(leg, false)
      try o1.write("""{"x": {"name": "L"}}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally o1.close()
      snap(5, 16 to 18)                     // sidecar TORN below
      sidecarsOf(5).foreach { z =>
        val o2 = fs.create(z, true)
        try o2.write("{\"kmi".getBytes(
          java.nio.charset.StandardCharsets.UTF_8))
        finally o2.close()
      }
      def check(): Map[String, String] =
        s.sql(s"CALL graft_fns.sys.check_pot('$dir/*/data.json')")
          .as[String].collect().toSeq.map { st =>
            val i = st.lastIndexOf(':')
            (st.substring(0, i)
              .replaceAll("^.*/(range_\\d)/data\\.json$", "$1"),
              st.substring(i + 1))
          }.toMap
      val before = check()
      s.sql(s"CALL graft_fns.sys.ensure_stats('$dir/*/data.json')").collect()
      val after = check()
      before.toSeq.sortBy(_._1)
        .map { case (pot, st) => (pot, st, after(pot)) }
        .toDF("pot", "status_before", "status_after")
        .orderBy($"pot")
        .localCheckpoint(true)
    }
  }

  val checkPotCallSql: String =
    """SELECT pot, status_before, status_after FROM (VALUES
      |  ('range_0', 'ok', 'ok'),
      |  ('range_1', 'no_stats', 'ok'),
      |  ('range_2', 'ok', 'ok'),
      |  ('range_3', 'missing_artifact', 'missing_artifact'),
      |  ('range_4', 'legacy', 'legacy'),
      |  ('range_5', 'torn_stats', 'torn_stats'))
      |  AS t(pot, status_before, status_after)
      |ORDER BY pot""".stripMargin

  /** u51: STORAGE-PARTITIONED JOIN over the pot layout (r17) — Iceberg's
    * SPJ brought to the connector: the scan reports
    * `KeyGroupedPartitioning(identity(pot_file))` (one pot object per
    * partition ⇒ one pot_file value per partition, carried as the DSv2
    * partition key), so with `spark.sql.sources.v2.bucketing.enabled`
    * a pot_file-keyed join between two reads of the store plans with
    * ZERO exchange on either side. The query is the SELF-DESCRIBING
    * OBJECT enrichment shape: each pot carries a `_meta` manifest key,
    * and every entry row joins its file's manifest — two row scans
    * (entries vs the key-pushed `_meta` read) meeting exchange-free,
    * where the unpartitioned alternative shuffles the whole corpus to
    * meet 10k one-row manifests. HONEST LIMITATION (found live): a
    * PUSHED-AGGREGATE scan loses its reported partitioning —
    * V2ScanPartitioningAndOrdering resolves the identity transform
    * against the aggregate-rewritten output and fails — so the
    * per-file-stats side must be real rows (the manifest layout),
    * not u12's pushed count. Broadcast disabled on the isolated
    * session so the exchange-free plan is SPJ's doing; PotJsonSpec
    * pins zero Exchange nodes with the conf and the shuffle's return
    * without it. Oracle replays relationally from nation.
    */
  def storagePartitionedJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ss = s.newSession()
    ss.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    Scratch.withDir("graft-u51") { dir =>
      val rows = Tables.nation(ss, d)
        .select($"n_nationkey", $"n_name").collect()
      writeParityPots(dir, rows, r => s"""{"name": "${r.getString(1)}"}""",
        members => Seq(s""""_meta": {"n": ${members.length}}"""))
      val df = ss.read.format(classOf[graft.sources.PotV2Source].getName)
        .option("path", s"$dir/*/data.json").load()
      val entries = df.filter($"key" =!= "_meta").select($"pot_file", $"key")
      val manifest = df.filter($"key" === "_meta").select($"pot_file",
        get_json_object($"doc_json", "$.n").cast("long").as("n_in_file"))
      entries.join(manifest, "pot_file")
        .select(
          regexp_extract($"pot_file", "([^/]+)/data\\.json$", 1).as("pot"),
          $"key", $"n_in_file")
        .orderBy($"pot", $"key")
        .localCheckpoint(true)
    }
  }

  val storagePartitionedJoinSql: String =
    """WITH k AS (
      |  SELECT 'nation_' || CAST(n_nationkey % 2 AS VARCHAR) AS pot,
      |    'n' || CAST(n_nationkey AS VARCHAR) AS key
      |  FROM nation),
      |c AS (SELECT pot, COUNT(*) AS n_in_file FROM k GROUP BY pot)
      |SELECT k.pot, k.key, c.n_in_file
      |FROM k JOIN c USING (pot)
      |ORDER BY pot, key""".stripMargin

  /** u54: KEY-grain storage-partitioned join over the BUCKETED store
    * (r18 — the co-located join the bucketed layout exists for): two
    * same-modulus stores read through the TABLE CATALOG
    * (`graft_fns.store.\`root\`` — [[graft.sources.GraftFunctionCatalog]]
    * is now a TableCatalog, and a catalog relation is what makes the
    * scan-reported `bucket(n, key)` transform RESOLVABLE against its
    * FunctionCatalog), joined on `key` with broadcast disabled: both
    * sides report `KeyGroupedPartitioning(bucket(4, key))` with one
    * partition per bucket carrying its bucket id, so the join plans with
    * ZERO exchange on either side — Iceberg's bucket-transform SPJ for
    * the pot layout. PotJsonSpec pins the exchange-free plan, the
    * shuffle's return on a different-modulus pair AND on a path-based
    * (catalog-less) read, and that `graft_fns.ops.bucket` ==
    * the write router bucket-for-bucket. The enrichment here is the
    * lakehouse dim-enrich shape: entity store × attribute store, both
    * key-routed, meeting bucket-local. Oracle replays relationally from
    * nation (bucket routing never surfaces in the emitted rows).
    */
  def bucketedKeySpj(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ss = s.newSession()
    ss.conf.set("spark.sql.catalog.graft_fns",
      classOf[graft.sources.GraftFunctionCatalog].getName)
    ss.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    Scratch.withDir("graft-u54") { dir =>
      val fmt = classOf[graft.sources.BucketedPotV2Source].getName
      val rows = Tables.nation(ss, d)
        .select($"n_nationkey", $"n_name", $"n_regionkey").collect().toSeq
      def write(sub: String, doc: org.apache.spark.sql.Row => String): String = {
        val root = s"$dir/$sub"
        val data = rows.map(r => ("", s"n${r.getInt(0)}", doc(r)))
        ss.createDataFrame(data).toDF("pot_file", "key", "doc_json")
          .write.format(fmt).option("path", root).option("buckets", "4")
          .mode("append").save()
        root
      }
      val names = write("names", r => s"""{"name": "${r.getString(1)}"}""")
      val regions = write("regions", r => s"""{"region": ${r.getInt(2)}}""")
      def readStore(root: String) = ss.read.table(s"graft_fns.store.`$root`")
      readStore(names).select($"key",
          get_json_object($"doc_json", "$.name").as("name"))
        .join(readStore(regions).select($"key",
          get_json_object($"doc_json", "$.region").cast("long").as("region")),
          Seq("key"))
        .orderBy($"key")
        .localCheckpoint(true)
    }
  }

  val bucketedKeySpjSql: String =
    """SELECT 'n' || CAST(n_nationkey AS VARCHAR) AS key,
      |  n_name AS name, CAST(n_regionkey AS BIGINT) AS region
      |FROM nation
      |ORDER BY key""".stripMargin

  /** u55: TIMESTAMP AS OF over the BUCKETED store (r18) — u46's
    * wall-clock time travel composed over the sharded layout:
    * `.option("timestampAsOf", t)` resolves EACH bucket's chain to its
    * youngest marker-mtime <= t generation and serves the whole store at
    * that per-bucket vector through the capped-scan machinery
    * ([[graft.sources.BucketedPotV2Source.asOfVector]]); multi-bucket
    * statement windows — journaled under `_stmts/closed` at complete —
    * cap their buckets at pre-statement base, so a historical instant
    * can never observe a statement half-applied (BucketedPotSpec pins
    * the mid-statement and crash boundaries; here the between-commits
    * boundary runs live: the midpoint instant reads wave 1 EXACTLY,
    * the head instant both waves). Oracle replays the two states
    * relationally from nation.
    */
  def bucketedTimestampAsOf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Scratch.withDir("graft-u55") { root =>
      val fmt = classOf[graft.sources.BucketedPotV2Source].getName
      val nat = Tables.nation(s, d)
      def write(df: org.apache.spark.sql.DataFrame): Unit = df.select(
          lit("").as("pot_file"),
          concat(lit("n"), $"n_nationkey".cast("string")).as("key"),
          to_json(struct($"n_name".as("name"), $"upd")).as("doc_json"))
        .write.format(fmt).option("path", root).option("buckets", "4")
        .mode("append").save()
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(graft.kv.HadoopConf.get)
      def lastMtime: Long = graft.sources.BucketedPotV2Source
        .existingBuckets(root, 4).map { b =>
          val commits = new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs
            .Path(graft.sources.BucketedPotV2Source.bucketPot(root, b))
            .getParent, ".commits")
          graft.kv.CommitMarker.committedGenerations(fs, commits).map(g =>
            fs.getFileStatus(new org.apache.hadoop.fs.Path(
              commits, g.toString)).getModificationTime).max
        }.max
      write(nat.withColumn("upd", lit(0)))                       // wave 1
      // the v1 instant must postdate wave 1's ENTIRE statement window
      // (bucket commits AND the barrier's doneTs — an instant between the
      // commits and complete() correctly replays the live reader's cap and
      // reads the statement as not-yet-visible), and predate wave 2's
      // intent: capture it AFTER the write returns, with mtime-granularity
      // margin on both sides (u46's discipline)
      val w1 = lastMtime
      while (System.currentTimeMillis() <= w1 + 2) Thread.sleep(2)
      val t1 = System.currentTimeMillis()
      Thread.sleep(3)
      write(nat.filter($"n_regionkey" === 0).withColumn("upd", lit(1)))
      val w2 = math.max(lastMtime, System.currentTimeMillis())
      while (System.currentTimeMillis() <= w2 + 2) Thread.sleep(2)
      val t2 = System.currentTimeMillis()
      require(t2 > t1 + 2, s"u55: wave instants not separated ($t1, $t2)")
      def stateAt(ts: Long, label: String) = s.read.format(fmt)
        .option("path", root).option("buckets", "4")
        .option("timestampAsOf", ts.toString).load()
        .agg(count(lit(1)).as("n"),
          sum(get_json_object($"doc_json", "$.upd").cast("long")).as("n_upd"))
        .select(lit(label).as("state"), $"n", $"n_upd")
      stateAt(t1, "v1").unionAll(stateAt(t2, "head"))
        .orderBy($"state")
        .localCheckpoint(true)
    }
  }

  val bucketedTimestampAsOfSql: String =
    """SELECT state, n, n_upd FROM (
      |  SELECT 'v1' AS state, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(0 AS BIGINT) AS n_upd FROM nation
      |  UNION ALL
      |  SELECT 'head' AS state, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN n_regionkey = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_upd
      |  FROM nation)
      |ORDER BY state""".stripMargin

  /** u56: aggregate pushdown over SHREDDED doc fields (r18 — u49 × u45):
    * `COUNT(field)` / `MIN` / `MAX` over `shred`-typed columns fold over
    * the PRE-STRINGIFY extracted values inside the reader, so an
    * analytics aggregate over a 10k-object store returns per-object
    * tuples with zero document bodies ever rendered — the parquet-
    * footer-statistics experience for the pot format. Semantics pinned
    * here live: COUNT(field) counts NON-NULL extractions (region-2
    * nations carry no `pop` field → n_pop < n_docs per SQL), MIN over a
    * string field uses unsigned UTF-8 byte order (u49's key rule), MAX
    * over a bigint field is numeric. Grouped-by-pot_file is the COMPLETE
    * pushdown (no Spark-side aggregate at all — PotJsonSpec pins zero
    * HashAggregate and the PushedAggregation description); the global
    * form is partial with the (0, NULL, NULL) empty discipline
    * inherited from u49. Oracle replays relationally from nation.
    */
  def aggShredPushdown(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Scratch.withDir("graft-u56") { dir =>
      val rows = Tables.nation(s, d)
        .select($"n_nationkey", $"n_name", $"n_regionkey").collect()
      writeParityPots(dir, rows, { r =>
        val pop = if (r.getInt(2) == 2) ""
          else s""", "pop": ${r.getInt(0) * 1000 + r.getInt(2)}"""
        s"""{"name": "${r.getString(1)}"$pop}"""
      })
      val df = s.read.format(classOf[graft.sources.PotV2Source].getName)
        .option("path", s"$dir/*/data.json")
        .option("shred", "name=name:string,pop=pop:bigint").load()
      val grouped = df.groupBy($"pot_file")
        .agg(count($"pop").as("n_pop"), min($"name").as("min_name"),
          max($"pop").as("max_pop"))
        .select(
          regexp_extract($"pot_file", "([^/]+)/data\\.json$", 1).as("pot"),
          $"n_pop", $"min_name", $"max_pop")
      val global = df.agg(count($"pop").as("n_pop"),
        min($"name").as("min_name"), max($"pop").as("max_pop"))
        .select(lit("_all").as("pot"), $"n_pop", $"min_name", $"max_pop")
      grouped.unionByName(global).orderBy($"pot")
        .localCheckpoint(true)
    }
  }

  val aggShredPushdownSql: String =
    """WITH k AS (
      |  SELECT 'nation_' || CAST(n_nationkey % 2 AS VARCHAR) AS pot,
      |    n_name AS name,
      |    CASE WHEN n_regionkey = 2 THEN NULL
      |      ELSE CAST(n_nationkey * 1000 + n_regionkey AS BIGINT)
      |    END AS pop
      |  FROM nation)
      |SELECT pot, CAST(COUNT(pop) AS BIGINT) AS n_pop,
      |  MIN(name) AS min_name, MAX(pop) AS max_pop
      |FROM k GROUP BY pot
      |UNION ALL
      |SELECT '_all', CAST(COUNT(pop) AS BIGINT), MIN(name), MAX(pop) FROM k
      |ORDER BY pot""".stripMargin

  /** u52: CHAIN-HEALTH inventory TVF (r17) — `graft_pot_chain('<glob>')`
    * in FROM position: one row per pot under the glob with its chain
    * shape (head generation, covering snapshot generation, delta-run
    * length, needs_compaction) — the observability surface u50's
    * compact verb is DRIVEN by: `SELECT … WHERE needs_compaction = 1`
    * is the maintenance loop's work list, exactly how a lakehouse
    * schedules OPTIMIZE. Driver-side chain walk per pot (marker reads
    * only — metadata-sized, one row per pot, the CALL-result bound);
    * the query builds one delta-headed chain (u50's shape) and one
    * snapshot-only pot and reads both through the TVF; every emitted
    * value is deterministic by construction, oracle = the expected
    * inventory relationally.
    */
  private def registerPotChainTvf(s: SparkSession): Unit =
    s.sessionState.tableFunctionRegistry.registerFunction(
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_pot_chain"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.sources.PotV2Source].getName, "graft_pot_chain"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        import org.apache.spark.sql.catalyst.expressions.Literal
        import org.apache.spark.unsafe.types.UTF8String
        val glob = exprs match {
          case Seq(Literal(p: UTF8String, _)) => p.toString
          case other => throw new IllegalArgumentException(
            "graft_pot_chain: expected a STRING literal glob, got " + other)
        }
        val sess = org.apache.spark.sql.SparkSession.active
        import sess.implicits._
        val p = new org.apache.hadoop.fs.Path(glob)
        val fs = p.getFileSystem(graft.kv.HadoopConf.get)
        val rows = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Seq.empty)
          .filter(_.isFile).map(_.getPath).map { pot =>
            val commits = new org.apache.hadoop.fs.Path(
              pot.getParent, ".commits")
            val gens = graft.kv.CommitMarker
              .committedGenerations(fs, commits)
            if (gens.isEmpty) (pot.toString, 0L, 0L, 0L, 0L)
            else {
              val head = gens.max
              val (snap, dgens) =
                graft.sources.PotChain.chainRun(fs, commits, head)
              val covering = head - dgens.length
              (pot.toString, head, covering, dgens.length.toLong,
                if (dgens.nonEmpty) 1L else 0L)
            }
          }
        rows.toDF("pot_file", "head_gen", "covering_gen", "dgen_run",
          "needs_compaction").queryExecution.analyzed
      })

  def chainInventory(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    registerPotChainTvf(s)
    Scratch.withDir("graft-u52") { dir =>
      val fmt = classOf[graft.sources.PotV2Source].getName
      val nat = Tables.nation(s, d)
        .select($"n_nationkey", $"n_name", $"n_regionkey").collect().toSeq
      def doc(name: String) = s"""{"name": "$name"}"""
      def write(sub: String, rows: Seq[org.apache.spark.sql.Row]): String = {
        val pot = s"$dir/$sub/data.json"
        rows.map(r => ("", s"n${r.getInt(0)}", doc(r.getString(1))))
          .toDF("pot_file", "key", "doc_json")
          .write.format(fmt).option("path", pot).mode("overwrite").save()
        pot
      }
      // pot A: snapshot + two delta epochs (u50's chain shape)
      val potA = write("a", nat)
      val fsA = new org.apache.hadoop.fs.Path(potA)
        .getFileSystem(graft.kv.HadoopConf.get)
      def epoch(tag: String, lines: Seq[String]): Unit = {
        val staging = new org.apache.hadoop.fs.Path(s"$dir/a/.staging-$tag")
        fsA.mkdirs(staging)
        val frag = new org.apache.hadoop.fs.Path(staging, "f.jsonl")
        val out = fsA.create(frag, false)
        try out.write(lines.mkString("", "\n", "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        val w = new graft.sources.PotV2Write(potA,
          graft.sources.PotV2Source.Schema, tag, truncateFirst = false,
          graft.sources.PotV2Source.DefaultMaxObjectBytes)
        w.commitDeltaEpoch(
          Array(graft.sources.PotFragmentMessage(0, frag.toString)),
          tag, staging)
      }
      epoch("u52e1", nat.filter(_.getInt(2) == 0).map(r =>
        s"""{"k": "n${r.getInt(0)}", "d": ${doc(r.getString(1))}}"""))
      epoch("u52e2", nat.filter(_.getInt(2) == 1).map(r =>
        s"""{"k": "n${r.getInt(0)}", "d": ${doc(r.getString(1))}}"""))
      // pot B: one snapshot generation, already compact
      write("b", nat.filter(_.getInt(2) <= 1))
      s.sql(
        s"""SELECT regexp_extract(pot_file, '([^/]+)/data\\\\.json$$', 1)
           |    AS pot,
           |  head_gen, covering_gen, dgen_run, needs_compaction
           |FROM graft_pot_chain('$dir/*/data.json')
           |ORDER BY pot""".stripMargin)
        .localCheckpoint(true)
    }
  }

  val chainInventorySql: String =
    """SELECT pot, head_gen, covering_gen, dgen_run, needs_compaction
      |FROM (VALUES
      |  ('a', CAST(3 AS BIGINT), CAST(1 AS BIGINT), CAST(2 AS BIGINT),
      |    CAST(1 AS BIGINT)),
      |  ('b', CAST(1 AS BIGINT), CAST(1 AS BIGINT), CAST(0 AS BIGINT),
      |    CAST(0 AS BIGINT)))
      |  AS t(pot, head_gen, covering_gen, dgen_run, needs_compaction)
      |ORDER BY pot""".stripMargin

  /** u53: LIST PAGINATION via OFFSET pushdown (r17) — the reference
    * pages its listings at the network boundary (`server.go:437-463`);
    * this is that surface as DSv2: `ORDER BY key LIMIT 5 OFFSET 5p`
    * over one pot pushes BOTH (`SupportsPushDownOffset` next to the
    * r15 TopN push — Spark hands the selection limit = k + offset), so
    * the reader's k-bounded key selection drops the page prefix and
    * stringifies ONLY the page's documents. Single-object only: the
    * scan plans exactly one partition there, which is what makes a
    * per-reader drop globally exact — a glob declines to Spark's
    * post-scan Offset (the served/declined matrix discipline). The
    * query reads three consecutive pages; oracle = the same slices of
    * the sorted key set.
    */
  def listPagination(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Scratch.withDir("graft-u53") { dir =>
      val pot = s"$dir/t/data.json"
      val fmt = classOf[graft.sources.PotV2Source].getName
      Tables.nation(s, d).select(
        lit("").as("pot_file"),
        concat(lit("n"), $"n_nationkey".cast("string")).as("key"),
        to_json(struct($"n_name".as("name"))).as("doc_json"))
        .write.format(fmt).option("path", pot).mode("overwrite").save()
      val pages = (0 until 3).map { p =>
        s.read.format(fmt).option("path", pot).load()
          .select($"key").orderBy($"key")
          .offset(p * 5).limit(5)
          .withColumn("page", lit(p.toLong))
      }
      pages.reduce(_ unionByName _)
        .select($"page", $"key")
        .orderBy($"page", $"key")
        .localCheckpoint(true)
    }
  }

  val listPaginationSql: String =
    """WITH k AS (
      |  SELECT 'n' || CAST(n_nationkey AS VARCHAR) AS key FROM nation),
      |o AS (SELECT key, ROW_NUMBER() OVER (ORDER BY key) - 1 AS pos FROM k)
      |SELECT CAST(pos // 5 AS BIGINT) AS page, key
      |FROM o WHERE pos < 15
      |ORDER BY page, key""".stripMargin

  /** u13: a TABLE-VALUED FUNCTION — `graft_pot('<glob>')` in FROM position
    * resolves to the PotV2 DSv2 relation, completing the SQL extension
    * family (scalar expressions u7/u8, aggregate u9, optimizer rule u11,
    * connector u10/u12 — and now relations): a SQL-only user queries pot
    * buckets without ever seeing `spark.read.format(...)`. Registered via
    * the table-function registry (the live-session twin of
    * `SparkSessionExtensions.injectTableFunction`); the path argument must
    * be a STRING literal (it parameterizes planning, not rows — same
    * discipline as the expression family's geometry args). Pushdowns
    * compose: the relation the TVF returns is the same scan u12 proved
    * prunes, filters and aggregates.
    */
  private def registerPotTvf(s: SparkSession): Unit =
    s.sessionState.tableFunctionRegistry.registerFunction(
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_pot"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.sources.PotV2Source].getName, "graft_pot"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        import org.apache.spark.sql.catalyst.expressions.Literal
        import org.apache.spark.unsafe.types.UTF8String
        // graft_pot('<path>'[, <generation> | '<timestamp>']) — an
        // INTEGER literal pins the read to a committed write-chain
        // generation (u16's time travel at the SQL level); a STRING
        // literal is TIMESTAMP AS OF (u46): epoch millis or
        // 'yyyy-MM-dd HH:mm:ss[.f]', resolved to the youngest commit at
        // or before that instant via marker mtimes
        val (path, gen, asOf) = exprs match {
          case Seq(Literal(p: UTF8String, _)) => (p.toString, None, None)
          case Seq(Literal(p: UTF8String, _), Literal(g: Int, _)) =>
            (p.toString, Some(g.toLong), None)
          case Seq(Literal(p: UTF8String, _), Literal(g: Long, _)) =>
            (p.toString, Some(g), None)
          case Seq(Literal(p: UTF8String, _), Literal(t: UTF8String, _)) =>
            (p.toString, None, Some(t.toString))
          case other => throw new IllegalArgumentException(
            "graft_pot: expected a STRING literal path and an optional " +
              "INTEGER literal generation or STRING literal timestamp, " +
              s"got $other")
        }
        val r = org.apache.spark.sql.SparkSession.active
          .read.format(classOf[graft.sources.PotV2Source].getName)
          .option("path", path)
        gen.foreach(g => r.option("generation", g.toString))
        asOf.foreach(t => r.option("timestampAsOf", t))
        r.load().queryExecution.analyzed
      })

  def sqlTvf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    registerPotTvf(s)
    Scratch.withDir("graft-potv2tvf") { dir =>
      val rows = Tables.nation(s, d)
        .select($"n_nationkey", $"n_name", $"n_regionkey").collect()
      writeParityPots(dir, rows, idNameRegionDoc)
      s.sql(
        s"""SELECT key,
           |  get_json_object(doc_json, '$$.name') AS name,
           |  CAST(get_json_object(doc_json, '$$.region') AS INT) AS region
           |FROM graft_pot('$dir/*/data.json')
           |ORDER BY key""".stripMargin)
        .localCheckpoint(true)
    }
  }

  /** Oracle: u10's SQL verbatim — the TVF must be just syntax. */
  val sqlTvfSql: String = dsv2PotReadSql

  /** u17: TVF time travel — `graft_pot('<path>', <generation>)`: u16's
    * generation pinning at the pure-SQL level, closing the loop so every
    * chain read the DataFrame API can express has a FROM-position twin
    * (u13 head reads, u17 pinned reads). The query writes two LWW
    * generations through the connector and aggregates BOTH states in one
    * SQL statement — per state: doc count and how many docs carry the
    * second generation's upd flag (v1: none; head: exactly the overlap).
    * Aggregate pushdown composes with the pin: the COUNT runs against the
    * pinned snapshot's scan, same reader as u12.
    */
  def sqlTvfTimeTravel(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    registerPotTvf(s)
    Scratch.withDir("graft-potv2tvt") { dir =>
      val pot = s"$dir/t/data.json"
      val fmt = classOf[graft.sources.PotV2Source].getName
      def docs(df: org.apache.spark.sql.DataFrame) = df.select(
        lit("").as("pot_file"),
        concat(lit("n"), $"n_nationkey".cast("string")).as("key"),
        to_json(struct($"n_name".as("name"), $"upd")).as("doc_json"))
      val nat = Tables.nation(s, d)
      docs(nat.filter($"n_regionkey" <= 1).withColumn("upd", lit(0)))
        .write.format(fmt).option("path", pot).mode("overwrite").save()
      docs(nat.filter($"n_regionkey" === 0).withColumn("upd", lit(1)))
        .write.format(fmt).option("path", pot).mode("append").save()
      s.sql(
        s"""SELECT 'v1' AS state, COUNT(*) AS n,
           |  CAST(SUM(CAST(get_json_object(doc_json, '$$.upd') AS BIGINT))
           |    AS BIGINT) AS n_upd
           |FROM graft_pot('$pot', 1)
           |UNION ALL
           |SELECT 'head' AS state, COUNT(*) AS n,
           |  CAST(SUM(CAST(get_json_object(doc_json, '$$.upd') AS BIGINT))
           |    AS BIGINT) AS n_upd
           |FROM graft_pot('$pot')
           |ORDER BY state""".stripMargin)
        .localCheckpoint(true)
    }
  }

  val sqlTvfTimeTravelSql: String =
    """WITH base AS (SELECT n_nationkey FROM nation WHERE n_regionkey <= 1),
      |hd AS (
      |  SELECT COUNT(*) AS n,
      |    CAST(SUM(CASE WHEN n_nationkey IN
      |      (SELECT n_nationkey FROM nation WHERE n_regionkey = 0)
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_upd
      |  FROM base)
      |SELECT 'head' AS state, n, n_upd FROM hd
      |UNION ALL
      |SELECT 'v1' AS state, n, CAST(0 AS BIGINT) AS n_upd FROM hd
      |ORDER BY state""".stripMargin

  /** u46: TIMESTAMP AS OF (r17) — wall-clock time travel, the lakehouse
    * read every Delta/Iceberg user expects next to VERSION AS OF
    * (u16/u17): `.option("timestampAsOf", t)` / `graft_pot('<path>',
    * '<t>')` resolves the instant to the youngest committed generation
    * whose MARKER MTIME is at or before it
    * ([[graft.sources.PotV2Source.resolveTimestampAsOf]]) — markers are
    * created exactly once by the winning CAS and never rewritten, so
    * their mtimes are the commit clock the chain already carries. A
    * timestamp BETWEEN two commits reads the EARLIER one (the state at
    * that instant; boundary spec-pinned), one predating the first
    * commit fails NAMED at planning. The query commits two LWW
    * generations (strictly-ordered mtimes enforced), then reads the
    * midpoint instant (= v1) and the second commit's own instant
    * (= head) through the TVF string form; oracle = u17's (the states
    * are identical — only the ADDRESSING differs, which is the point).
    */
  def timestampAsOfRead(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    registerPotTvf(s)
    Scratch.withDir("graft-u46") { dir =>
      val pot = s"$dir/t/data.json"
      val fmt = classOf[graft.sources.PotV2Source].getName
      def docs(df: org.apache.spark.sql.DataFrame) = df.select(
        lit("").as("pot_file"),
        concat(lit("n"), $"n_nationkey".cast("string")).as("key"),
        to_json(struct($"n_name".as("name"), $"upd")).as("doc_json"))
      val nat = Tables.nation(s, d)
      docs(nat.filter($"n_regionkey" <= 1).withColumn("upd", lit(0)))
        .write.format(fmt).option("path", pot).mode("overwrite").save()
      val commits = new org.apache.hadoop.fs.Path(s"$dir/t/.commits")
      val fs = commits.getFileSystem(graft.kv.HadoopConf.get)
      def mtime(g: Int): Long = fs.getFileStatus(
        new org.apache.hadoop.fs.Path(commits, g.toString)).getModificationTime
      val t1 = mtime(1)
      // the second commit must carry a strictly later mtime for the
      // midpoint to exist (local FS mtimes are >= ms-granular)
      while (System.currentTimeMillis() <= t1 + 2) Thread.sleep(2)
      docs(nat.filter($"n_regionkey" === 0).withColumn("upd", lit(1)))
        .write.format(fmt).option("path", pot).mode("append").save()
      val t2 = mtime(2)
      require(t2 > t1, s"u46: commit mtimes not strictly ordered ($t1, $t2)")
      val mid = t1 + (t2 - t1) / 2
      s.sql(
        s"""SELECT 'v1' AS state, COUNT(*) AS n,
           |  CAST(SUM(CAST(get_json_object(doc_json, '$$.upd') AS BIGINT))
           |    AS BIGINT) AS n_upd
           |FROM graft_pot('$pot', '$mid')
           |UNION ALL
           |SELECT 'head' AS state, COUNT(*) AS n,
           |  CAST(SUM(CAST(get_json_object(doc_json, '$$.upd') AS BIGINT))
           |    AS BIGINT) AS n_upd
           |FROM graft_pot('$pot', '$t2')
           |ORDER BY state""".stripMargin)
        .localCheckpoint(true)
    }
  }

  /** Oracle: u17's verbatim — same two states, different addressing. */
  val timestampAsOfReadSql: String = sqlTvfTimeTravelSql

  /** u14: the DSv2 WRITE path — `INSERT`/`OVERWRITE` into a pot object
    * through [[graft.sources.PotV2Source]]'s `SupportsWrite` (the POST
    * half of the connector; reference server_routes.go:75-135). The query
    * exercises the full lifecycle the protocol promises: OVERWRITE a base
    * of 41 customer docs, then APPEND a delta whose keys partially
    * overlap — append is whole-doc LWW by key (the reference's POST
    * semantics, same contract kv14 pins for PotTable), committed via the
    * stage-fragments → merge-into-snapshot → CommitMarker-CAS →
    * atomic-materialize chain — then read the object back through the u10
    * scan. The oracle replays the LWW overlay relationally: delta rows
    * win their keys, untouched base rows survive. PotJsonSpec adds the
    * two-concurrent-writers race (exactly one generation wins, no torn
    * data.json).
    */
  def dsv2PotWrite(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Scratch.withDir("graft-potv2w") { dir =>
      val pot = s"$dir/t/data.json"
      val fmt = classOf[graft.sources.PotV2Source].getName
      def docs(df: org.apache.spark.sql.DataFrame) = df.select(
        lit("").as("pot_file"), // provenance column: the target path owns it
        concat(lit("c"), $"c_custkey".cast("string")).as("key"),
        to_json(struct(
          $"c_name".as("name"),
          $"c_nationkey".cast("long").as("nation"),
          ($"c_acctbal".cast(org.apache.spark.sql.types.DecimalType(38, 2))
            * 100).cast("long").as("bal_cents"),
          $"upd")).as("doc_json"))
      val cust = Tables.customer(s, d)
      docs(cust.filter($"c_custkey" <= 40).withColumn("upd", lit(0L)))
        .write.format(fmt).option("path", pot).mode("overwrite").save()
      docs(cust.filter($"c_custkey" <= 60 && $"c_custkey" % 3 === 0)
          .withColumn("upd", lit(1L)))
        .write.format(fmt).option("path", pot).mode("append").save()
      s.read.format(fmt).option("path", pot).load()
        .select($"key",
          get_json_object($"doc_json", "$.name").as("name"),
          get_json_object($"doc_json", "$.nation").cast("long").as("nation"),
          get_json_object($"doc_json", "$.bal_cents").cast("long")
            .as("bal_cents"),
          get_json_object($"doc_json", "$.upd").cast("long").as("upd"))
        .orderBy($"key")
        .localCheckpoint(true)
    }
  }

  val dsv2PotWriteSql: String =
    """WITH base AS (
      |  SELECT 'c' || CAST(c_custkey AS VARCHAR) AS key, c_name AS name,
      |    CAST(c_nationkey AS BIGINT) AS nation,
      |    CAST(CAST(c_acctbal AS DECIMAL(38,2)) * 100 AS BIGINT) AS bal_cents,
      |    CAST(0 AS BIGINT) AS upd
      |  FROM customer WHERE c_custkey <= 40),
      |delta AS (
      |  SELECT 'c' || CAST(c_custkey AS VARCHAR) AS key, c_name AS name,
      |    CAST(c_nationkey AS BIGINT) AS nation,
      |    CAST(CAST(c_acctbal AS DECIMAL(38,2)) * 100 AS BIGINT) AS bal_cents,
      |    CAST(1 AS BIGINT) AS upd
      |  FROM customer WHERE c_custkey <= 60 AND c_custkey % 3 = 0)
      |SELECT key, name, nation, bal_cents, upd FROM delta
      |UNION ALL
      |SELECT key, name, nation, bal_cents, upd FROM base b
      |WHERE NOT EXISTS (SELECT 1 FROM delta d WHERE d.key = b.key)
      |ORDER BY key""".stripMargin

  /** u15: `INSERT INTO` a pot in PURE SQL — the last mile of the "pot
    * bucket as a table" story: `CREATE TABLE ... USING PotV2Source`
    * registers the connector in the session catalog, and the analyzer
    * resolves `INSERT INTO` to u14's `SupportsWrite` append (AppendData
    * over the V2 relation — no DataFrame API anywhere). Two inserts
    * prove LWW through SQL: all nations with `upd` 0, then the region-0
    * subset re-inserted with `upd` 1 — the second insert replaces those
    * whole docs (the reference POST semantics, kv14's contract). Read
    * back through the same catalog table, oracle replays relationally.
    */
  def sqlInsertPot(s: SparkSession, d: String): DataFrame = {
    Scratch.withDir("graft-potv2sql") { dir =>
      val pot = s"$dir/t/data.json"
      val tbl = "graft_pot_sql_t"
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      s.sql(s"CREATE TABLE $tbl (pot_file STRING, key STRING, doc_json STRING) " +
        s"USING ${classOf[graft.sources.PotV2Source].getName} " +
        s"OPTIONS (path '$pot')")
      Tables.nation(s, d).createOrReplaceTempView("graft_u15_nation")
      s.sql(s"""INSERT INTO $tbl
             |SELECT '' AS pot_file, concat('n', n_nationkey) AS key,
             |  to_json(named_struct('name', n_name, 'region', n_regionkey,
             |    'upd', 0)) AS doc_json
             |FROM graft_u15_nation""".stripMargin)
      s.sql(s"""INSERT INTO $tbl
             |SELECT '' AS pot_file, concat('n', n_nationkey) AS key,
             |  to_json(named_struct('name', n_name, 'region', n_regionkey,
             |    'upd', 1)) AS doc_json
             |FROM graft_u15_nation WHERE n_regionkey = 0""".stripMargin)
      val out = s.sql(
        s"""SELECT key,
           |  get_json_object(doc_json, '$$.name') AS name,
           |  CAST(get_json_object(doc_json, '$$.region') AS INT) AS region,
           |  CAST(get_json_object(doc_json, '$$.upd') AS INT) AS upd
           |FROM $tbl ORDER BY key""".stripMargin).localCheckpoint(true)
      s.sql(s"DROP TABLE $tbl")
      s.catalog.dropTempView("graft_u15_nation")
      out
    }
  }

  val sqlInsertPotSql: String =
    """SELECT 'n' || CAST(n_nationkey AS VARCHAR) AS key,
      |  n_name AS name, CAST(n_regionkey AS INTEGER) AS region,
      |  CAST(CASE WHEN n_regionkey = 0 THEN 1 ELSE 0 END AS INTEGER) AS upd
      |FROM nation
      |ORDER BY key""".stripMargin

  /** u16: TIME-TRAVEL reads through the connector —
    * `.option("generation", n)` pins the scan to commit n of the write
    * chain (the pot VERSION AS OF, pairing with kv7's PotTable time
    * travel): the reader scans that generation's immutable snapshot
    * instead of the data.json head. The query writes two generations
    * (base OVERWRITE, then an LWW-overlapping APPEND) and emits BOTH
    * states — v1 pinned by generation, head unpinned — so the oracle
    * replays exactly what a reader at each point in the chain sees;
    * reading an uncommitted generation fails loudly (PotJsonSpec).
    */
  def potTimeTravel(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Scratch.withDir("graft-potv2tt") { dir =>
      val pot = s"$dir/t/data.json"
      val fmt = classOf[graft.sources.PotV2Source].getName
      def docs(df: org.apache.spark.sql.DataFrame) = df.select(
        lit("").as("pot_file"),
        concat(lit("n"), $"n_nationkey".cast("string")).as("key"),
        to_json(struct($"n_name".as("name"),
          $"n_regionkey".cast("int").as("region"), $"upd")).as("doc_json"))
      val nat = Tables.nation(s, d)
      docs(nat.filter($"n_regionkey" <= 1).withColumn("upd", lit(0)))
        .write.format(fmt).option("path", pot).mode("overwrite").save()
      docs(nat.filter($"n_regionkey" === 0).withColumn("upd", lit(1)))
        .write.format(fmt).option("path", pot).mode("append").save()
      def readState(state: String, gen: Option[Long]) = {
        val r = s.read.format(fmt).option("path", pot)
        gen.foreach(g => r.option("generation", g.toString))
        r.load().select(lit(state).as("state"), $"key",
          get_json_object($"doc_json", "$.name").as("name"),
          get_json_object($"doc_json", "$.region").cast("int").as("region"),
          get_json_object($"doc_json", "$.upd").cast("int").as("upd"))
      }
      readState("head", None)
        .unionByName(readState("v1", Some(1L)))
        .orderBy($"state", $"key")
        .localCheckpoint(true)
    }
  }

  val potTimeTravelSql: String =
    """WITH base AS (
      |  SELECT 'n' || CAST(n_nationkey AS VARCHAR) AS key, n_name AS name,
      |    CAST(n_regionkey AS INTEGER) AS region
      |  FROM nation WHERE n_regionkey <= 1)
      |SELECT 'head' AS state, key, name, region,
      |  CAST(CASE WHEN region = 0 THEN 1 ELSE 0 END AS INTEGER) AS upd
      |FROM base
      |UNION ALL
      |SELECT 'v1' AS state, key, name, region, CAST(0 AS INTEGER) AS upd
      |FROM base
      |ORDER BY state, key""".stripMargin

  /** u32: generation PROVENANCE as a DSv2 metadata column — `SELECT
    * key, _pot_gen FROM pot` (Delta's `_commit_version`, Iceberg's
    * `_file` surface; reference pot objects carry no per-key version,
    * this surfaces the commit chain's where SQL can join on it). The
    * column is HIDDEN: absent from `SELECT *`, resolved only when
    * named, zero cost unprojected. Semantics: the generation whose
    * committed artifact SUPPLIED the surviving row — exact writer
    * provenance for delta-epoch rows (the fold reads each dgen's
    * marker anyway, so provenance is free), the covering snapshot's
    * generation for rows it folded (a snapshot rewrite forgets the
    * original writer, exactly `_commit_version` after OPTIMIZE), NULL
    * for raw legacy objects. The query builds gen 1-2 as batch
    * snapshots, then two streaming delta epochs (gens 3-4) over
    * disjoint nation slices, so the emitted `_pot_gen` proves all
    * three cases: folded rows report 2, each epoch's rows report
    * their dgen. Scale: provenance rides the chain fold the read does
    * anyway — O(run) marker reads, no extra IO, no shuffle.
    */
  def potGenMetadataCol(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Scratch.withDir("graft-potv2mdc") { dir =>
      val pot = s"$dir/t/data.json"
      val fmt = classOf[graft.sources.PotV2Source].getName
      val tbl = "graft_u32_pot"
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      s.sql(s"CREATE TABLE $tbl (pot_file STRING, key STRING, " +
        s"doc_json STRING) USING $fmt OPTIONS (path '$pot')")
      val nat = Tables.nation(s, d)
      def docs(df: org.apache.spark.sql.DataFrame, upd: Int) = df.select(
        lit("").as("pot_file"),
        concat(lit("n"), $"n_nationkey".cast("string")).as("key"),
        to_json(struct($"n_name".as("name"), lit(upd).as("upd")))
          .as("doc_json"))
      // gens 1-2: batch snapshots (the second LWW-overlaps region 0)
      docs(nat, 0)
        .write.format(fmt).option("path", pot).mode("overwrite").save()
      docs(nat.filter($"n_regionkey" === 0), 1)
        .write.format(fmt).option("path", pot).mode("append").save()
      // gens 3-4: streaming DELTA epochs (compactEvery high enough that
      // neither triggers the snapshot path) over disjoint region slices
      val write = new graft.sources.PotV2Write(
        pot, graft.sources.PotV2Source.Schema, "u32-epochs",
        truncateFirst = false, compactEvery = 1000)
      val sw = write.toStreaming
      def epoch(e: Long, rows: Seq[(String, String)]): Unit = {
        val w = new graft.sources.PotV2WriterFactory(
          write.epochStagingDir(e).toString, 1, 2).createWriter(0, 0L)
        rows.foreach { case (k, dj) =>
          w.write(org.apache.spark.sql.catalyst.InternalRow(
            org.apache.spark.unsafe.types.UTF8String.fromString(""),
            org.apache.spark.unsafe.types.UTF8String.fromString(k),
            org.apache.spark.unsafe.types.UTF8String.fromString(dj)))
        }
        sw.commit(e, Array(w.commit()))
      }
      def slice(region: Int, upd: Int): Seq[(String, String)] =
        docs(nat.filter($"n_regionkey" === region), upd)
          .select($"key", $"doc_json").as[(String, String)].collect().toSeq
          .sortBy(_._1)
      epoch(1L, slice(1, 2)) // gen 3
      epoch(2L, slice(2, 3)) // gen 4
      val out = s.sql(
        s"""SELECT key, _pot_gen AS gen,
           |  CAST(get_json_object(doc_json, '$$.upd') AS INT) AS upd
           |FROM $tbl ORDER BY key""".stripMargin).localCheckpoint(true)
      s.sql(s"DROP TABLE $tbl")
      out
    }
  }

  val potGenMetadataColSql: String =
    """SELECT 'n' || CAST(n_nationkey AS VARCHAR) AS key,
      |  CAST(CASE WHEN n_regionkey = 1 THEN 3
      |            WHEN n_regionkey = 2 THEN 4
      |            ELSE 2 END AS BIGINT) AS gen,
      |  CAST(CASE WHEN n_regionkey = 1 THEN 2
      |            WHEN n_regionkey = 2 THEN 3
      |            WHEN n_regionkey = 0 THEN 1
      |            ELSE 0 END AS INTEGER) AS upd
      |FROM nation ORDER BY key""".stripMargin

  /** u18: SQL `DELETE FROM` a pot — the reference's remove verb
    * (`server_routes.go` DELETE) as catalog DML, closing the SQL write
    * surface (u15 INSERT / u18 DELETE): the analyzer resolves the
    * statement to the connector's `SupportsDelete.deleteWhere`, the
    * predicate travels as pushed filters (LIKE 'n1%' →
    * StringStartsWith, IN → In — the same exact-evaluation family the
    * scan prunes with), and the delete commits as a truncate-rewrite
    * generation whose sidecar carries the dropped keys as change-feed
    * tombstones (st19's mirror would propagate them). The commit pins
    * its merge base's generation, so racing a concurrent writer is a
    * loud CommitConflict, never a silent resurrection. Shapes the
    * metadata path cannot evaluate exactly (doc_json predicates) route
    * through the row-level SupportsDelta rewrite instead (u19's
    * machinery) — PotJsonSpec pins both paths and the tombstone sidecar.
    */
  def sqlDeletePot(s: SparkSession, d: String): DataFrame = {
    Scratch.withDir("graft-potv2del") { dir =>
      val pot = s"$dir/t/data.json"
      val tbl = "graft_pot_sql_del"
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      s.sql(s"CREATE TABLE $tbl (pot_file STRING, key STRING, doc_json STRING) " +
        s"USING ${classOf[graft.sources.PotV2Source].getName} " +
        s"OPTIONS (path '$pot')")
      Tables.nation(s, d).createOrReplaceTempView("graft_u18_nation")
      s.sql(s"""INSERT INTO $tbl
             |SELECT '' AS pot_file, concat('n', n_nationkey) AS key,
             |  to_json(named_struct('name', n_name, 'region', n_regionkey))
             |    AS doc_json
             |FROM graft_u18_nation""".stripMargin)
      s.sql(s"DELETE FROM $tbl WHERE key LIKE 'n1%'")
      s.sql(s"DELETE FROM $tbl WHERE key IN ('n3', 'n8', 'n21')")
      val out = s.sql(
        s"""SELECT key,
           |  get_json_object(doc_json, '$$.name') AS name,
           |  CAST(get_json_object(doc_json, '$$.region') AS INT) AS region
           |FROM $tbl ORDER BY key""".stripMargin).localCheckpoint(true)
      s.sql(s"DROP TABLE $tbl")
      s.catalog.dropTempView("graft_u18_nation")
      out
    }
  }

  val sqlDeletePotSql: String =
    """SELECT 'n' || CAST(n_nationkey AS VARCHAR) AS key,
      |  n_name AS name, CAST(n_regionkey AS INTEGER) AS region
      |FROM nation
      |WHERE NOT ('n' || CAST(n_nationkey AS VARCHAR)) LIKE 'n1%'
      |  AND 'n' || CAST(n_nationkey AS VARCHAR) NOT IN ('n3', 'n8', 'n21')
      |ORDER BY key""".stripMargin

  /** u19: SQL `MERGE INTO` a pot — the full upsert statement every
    * warehouse ships, served by the DELTA-based row-level operation API
    * (`SupportsRowLevelOperations` → `SupportsDelta`): the analyzer
    * rewrites the MERGE into a WriteDelta whose incoming rows are ONLY
    * the changed rows (insert/update/delete tagged), the connector
    * stages upsert lines + null-doc tombstones, and ONE CAS'd generation
    * applies the whole statement atomically — O(change-set), the pot's
    * native merge shape, with the delete branch visible to the change
    * feed as tombstones. rowId = key makes Spark plan the merge join ON
    * the pot's primary key. One statement exercises all three branches:
    * matched region-2 rows DELETE, other matched rows UPDATE to v1,
    * unmatched source rows INSERT — final state = regions 0/1 updated,
    * 3/4 inserted, 2 gone, replayed relationally by the oracle.
    */
  def sqlMergePot(s: SparkSession, d: String): DataFrame = {
    Scratch.withDir("graft-potv2mrg") { dir =>
      val pot = s"$dir/t/data.json"
      val tbl = "graft_pot_sql_m"
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      s.sql(s"CREATE TABLE $tbl (pot_file STRING, key STRING, doc_json STRING) " +
        s"USING ${classOf[graft.sources.PotV2Source].getName} " +
        s"OPTIONS (path '$pot')")
      Tables.nation(s, d).createOrReplaceTempView("graft_u19_nation")
      s.sql(s"""INSERT INTO $tbl
             |SELECT '' AS pot_file, concat('n', n_nationkey) AS key,
             |  to_json(named_struct('name', n_name, 'region', n_regionkey,
             |    'v', 0)) AS doc_json
             |FROM graft_u19_nation WHERE n_regionkey <= 2""".stripMargin)
      // r14: the FULL SCD-sync verb — the source omits nationkey % 3 = 0
      // rows, so targets it no longer carries flow through the
      // NOT MATCHED BY SOURCE clauses (delete region 0, re-stamp the rest
      // v=9) in the SAME one-generation delta as the matched/unmatched
      // actions
      s.sql(s"""MERGE INTO $tbl t
               |USING (
               |  SELECT '' AS pot_file, concat('n', n_nationkey) AS key,
               |    to_json(named_struct('name', n_name, 'region', n_regionkey,
               |      'v', 1)) AS doc_json,
               |    n_regionkey AS region
               |  FROM graft_u19_nation
               |  WHERE n_nationkey % 3 <> 0) src
               |ON t.key = src.key
               |WHEN MATCHED AND src.region = 2 THEN DELETE
               |WHEN MATCHED THEN UPDATE SET doc_json = src.doc_json
               |WHEN NOT MATCHED THEN
               |  INSERT (pot_file, key, doc_json)
               |  VALUES (src.pot_file, src.key, src.doc_json)
               |WHEN NOT MATCHED BY SOURCE
               |  AND CAST(get_json_object(t.doc_json, '$$.region') AS INT) = 0
               |  THEN DELETE
               |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET doc_json =
               |  to_json(named_struct(
               |    'name', get_json_object(t.doc_json, '$$.name'),
               |    'region', CAST(get_json_object(t.doc_json, '$$.region')
               |      AS INT),
               |    'v', 9))""".stripMargin)
      val out = s.sql(
        s"""SELECT key,
           |  get_json_object(doc_json, '$$.name') AS name,
           |  CAST(get_json_object(doc_json, '$$.region') AS INT) AS region,
           |  CAST(get_json_object(doc_json, '$$.v') AS INT) AS v
           |FROM $tbl ORDER BY key""".stripMargin).localCheckpoint(true)
      s.sql(s"DROP TABLE $tbl")
      s.catalog.dropTempView("graft_u19_nation")
      out
    }
  }

  val sqlMergePotSql: String =
    """SELECT 'n' || CAST(n_nationkey AS VARCHAR) AS key,
      |  n_name AS name, CAST(n_regionkey AS INTEGER) AS region,
      |  CAST(CASE WHEN n_nationkey % 3 = 0 THEN 9 ELSE 1 END AS INTEGER)
      |    AS v
      |FROM nation
      |WHERE (n_nationkey % 3 <> 0 AND n_regionkey <> 2)
      |   OR (n_nationkey % 3 = 0 AND n_regionkey IN (1, 2))
      |ORDER BY key""".stripMargin

  /** u20: the change feed as a TABLE-VALUED FUNCTION —
    * `graft_pot_changes('<path>', <from_gen>)` (Delta Lake's
    * `table_changes` shape): a BATCH read of every generation after
    * `from_gen`, rows bit-identical to what the streaming source (st17)
    * delivers over the same range because it resolves to the SAME
    * per-generation sidecar-first delta partitions
    * (`.option("changesFrom", g)` is the DataFrame twin). This is the
    * audit/backfill consumption mode of CDC — "what changed since the
    * release at generation g" — without standing up a stream; tombstones
    * arrive as `doc_json = 'null'`, `pot_file` carries `@<gen>`
    * provenance so one result spans generations. Out-of-range starts
    * fail loudly (the generation-pin discipline), args must be literals
    * (the TVF family's planning-parameter rule). A GLOB path with
    * from_gen = 0 is the full-history BUCKET AUDIT (one partition per
    * pot-generation); a nonzero glob start declines loudly — pots have
    * independent counters, incremental multi-pot consumption is st18's
    * vector-offset stream.
    */
  private def registerPotChangesTvf(s: SparkSession): Unit =
    s.sessionState.tableFunctionRegistry.registerFunction(
      new org.apache.spark.sql.catalyst.FunctionIdentifier(
        "graft_pot_changes"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.sources.PotV2Source].getName, "graft_pot_changes"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        import org.apache.spark.sql.catalyst.expressions.Literal
        import org.apache.spark.unsafe.types.UTF8String
        val (path, fromOpt, vecOpt) = exprs match {
          case Seq(Literal(p: UTF8String, _), Literal(g: Int, _)) =>
            (p.toString, Some(g.toLong), None)
          case Seq(Literal(p: UTF8String, _), Literal(g: Long, _)) =>
            (p.toString, Some(g), None)
          // per-pot from-VECTOR (u23): a STRING second arg is the
          // generation map JSON (st18's checkpointed offset shape) —
          // incremental multi-pot batch CDC over a glob
          case Seq(Literal(p: UTF8String, _), Literal(v: UTF8String, _)) =>
            (p.toString, None, Some(v.toString))
          case other => throw new IllegalArgumentException(
            "graft_pot_changes: expected a STRING literal path and " +
              "either an INTEGER literal from-generation or a STRING " +
              s"literal per-pot generation-map JSON, got $other")
        }
        val r = org.apache.spark.sql.SparkSession.active
          .read.format(classOf[graft.sources.PotV2Source].getName)
          .option("path", path)
        fromOpt.foreach(f => r.option("changesFrom", f.toString))
        vecOpt.foreach(v => r.option("changesFromVector", v))
        r.load().queryExecution.analyzed
      })

  def sqlPotChanges(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    registerPotChangesTvf(s)
    Scratch.withDir("graft-potv2chg") { dir =>
      val pot = s"$dir/t/data.json"
      val fmt = classOf[graft.sources.PotV2Source].getName
      def docs(df: DataFrame, v: Int) = df.select(
        lit("").as("pot_file"),
        concat(lit("n"), col("n_nationkey").cast("string")).as("key"),
        to_json(struct(col("n_name").as("name"), lit(v).as("v")))
          .as("doc_json"))
      val nat = Tables.nation(s, d)
      // the st19 history: broad v0, a v1 update wave, a truncate rewrite
      // dropping odd region-0 keys — so the range after gen 1 carries
      // upserts AND tombstones
      docs(nat.filter($"n_regionkey" <= 1), 0)
        .write.format(fmt).option("path", pot).mode("overwrite").save()
      docs(nat.filter($"n_regionkey" === 0), 1)
        .write.format(fmt).option("path", pot).mode("append").save()
      docs(nat.filter($"n_regionkey" === 1 ||
          ($"n_regionkey" === 0 && $"n_nationkey" % 2 === 0)), 2)
        .write.format(fmt).option("path", pot).mode("overwrite").save()
      s.sql(
        s"""SELECT CAST(regexp_extract(pot_file, '@([0-9]+)$$', 1) AS INT)
           |    AS gen,
           |  key,
           |  get_json_object(doc_json, '$$.name') AS name,
           |  CAST(get_json_object(doc_json, '$$.v') AS INT) AS v,
           |  (doc_json = 'null') AS deleted
           |FROM graft_pot_changes('$pot', 1)
           |ORDER BY gen, key""".stripMargin).localCheckpoint(true)
    }
  }

  val sqlPotChangesSql: String =
    """WITH base AS (
      |  SELECT n_nationkey AS nk, 'n' || CAST(n_nationkey AS VARCHAR) AS key,
      |    n_name AS name, n_regionkey AS r
      |  FROM nation)
      |SELECT gen, key, name, v, deleted FROM (
      |  SELECT CAST(2 AS INTEGER) AS gen, key, name,
      |    CAST(1 AS INTEGER) AS v, FALSE AS deleted
      |  FROM base WHERE r = 0
      |  UNION ALL
      |  SELECT CAST(3 AS INTEGER), key, name, CAST(2 AS INTEGER), FALSE
      |  FROM base WHERE r = 1 OR (r = 0 AND nk % 2 = 0)
      |  UNION ALL
      |  SELECT CAST(3 AS INTEGER), key, CAST(NULL AS VARCHAR),
      |    CAST(NULL AS INTEGER), TRUE
      |  FROM base WHERE r = 0 AND nk % 2 <> 0) t
      |ORDER BY gen, key""".stripMargin

  /** u21: the BUCKETED store's SQL front door —
    * `graft_bucketed_pot('<root>', '<table>', <buckets>)` resolves to a
    * `BucketedPotTable` read (manifest at the committed generation →
    * per-bucket parquet scan), so the 100 TB store joins the TVF family
    * exactly like the single-object pot did (u13): a SQL-only user
    * queries the hash-bucketed KV without touching the Scala API, and
    * everything downstream is ordinary Catalyst (the aggregate in this
    * query plans straight over the bucket scans). Args are literals (the
    * family's planning-parameter rule); bucket count must match the
    * store's (the manifest is per-count — a wrong count reads an absent
    * store and fails loudly rather than returning partial data). The
    * query builds a 3-generation lifecycle (base, LWW wave, remove) and
    * reads the survivors back through pure SQL.
    */
  private def registerBucketedPotTvf(s: SparkSession): Unit =
    s.sessionState.tableFunctionRegistry.registerFunction(
      new org.apache.spark.sql.catalyst.FunctionIdentifier(
        "graft_bucketed_pot"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.kv.BucketedPotTable].getName, "graft_bucketed_pot"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        import org.apache.spark.sql.catalyst.expressions.Literal
        import org.apache.spark.unsafe.types.UTF8String
        val (root, name, n, gen) = exprs match {
          // r15 count-free form: the store is self-describing (the
          // stamped _meta/buckets modulus is authoritative)
          case Seq(Literal(r: UTF8String, _), Literal(t: UTF8String, _)) =>
            (r.toString, t.toString, 0, None)
          case Seq(Literal(r: UTF8String, _), Literal(t: UTF8String, _),
              Literal(b: Int, _)) => (r.toString, t.toString, b, None)
          // u25: optional 4th arg = manifest generation (VERSION AS OF
          // for the bucketed store — u16/u17's discipline at bucket
          // scale: the overlay stops at that generation)
          case Seq(Literal(r: UTF8String, _), Literal(t: UTF8String, _),
              Literal(b: Int, _), Literal(g: Int, _)) =>
            (r.toString, t.toString, b, Some(g.toLong))
          case other => throw new IllegalArgumentException(
            "graft_bucketed_pot: expected STRING literal root + table, " +
              "an optional INTEGER literal bucket count (omit it — the " +
              "store is self-describing), and an optional INTEGER " +
              s"literal generation, got $other")
        }
        val tbl = new graft.kv.BucketedPotTable(
          org.apache.spark.sql.SparkSession.active, root, name, n)
        gen.fold(tbl.get())(tbl.getAt).queryExecution.analyzed
      })

  /** u29: the PERSISTED z-order layout's SQL front door (r16) —
    * `graft_zorder_read('<root>', '<table>', '<dim>', lo, hi)` resolves
    * to [[graft.kv.BucketedPotTable.readClustered]]: the published
    * layout generation is opened, the structurally derived bucket set
    * becomes the literal `zb IN` partition filter, and a SQL-only user
    * gets the pruned range read without touching the Scala API — the
    * TVF-family rule (u13/u17/u21/u25) applied to q85's maintenance op.
    * Stale layouts and un-clustered dims fail loudly AT PLANNING (the
    * resolution runs in the TVF builder). Args are literals (the
    * family's planning-parameter rule). The probe (dim `a`, quarter
    * domain [128,191]) is disjoint from q85's b/c probes, so between
    * them every clustered dimension's pruned read is oracle-checked.
    */
  private def registerZOrderReadTvf(s: SparkSession): Unit =
    s.sessionState.tableFunctionRegistry.registerFunction(
      new org.apache.spark.sql.catalyst.FunctionIdentifier(
        "graft_zorder_read"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.kv.BucketedPotTable].getName, "graft_zorder_read"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        import org.apache.spark.sql.catalyst.expressions.Literal
        import org.apache.spark.unsafe.types.UTF8String
        val (root, name, dim, lo, hi) = exprs match {
          case Seq(Literal(r: UTF8String, _), Literal(t: UTF8String, _),
              Literal(dm: UTF8String, _), Literal(l: Int, _),
              Literal(h: Int, _)) =>
            (r.toString, t.toString, dm.toString, l, h)
          case other => throw new IllegalArgumentException(
            "graft_zorder_read: expected STRING literal root, table and " +
              s"dimension plus INTEGER literal lo/hi bounds, got $other")
        }
        new graft.kv.BucketedPotTable(
          org.apache.spark.sql.SparkSession.active, root, name, 0)
          .readClustered(dim, lo, hi).queryExecution.analyzed
      })

  def sqlZorderRead(s: SparkSession, d: String): DataFrame = {
    registerZOrderReadTvf(s)
    // ensure the q85 store + fresh published layout, then read via SQL
    graft.operators.Aggregates.storeZorderTable(s, d)
    val root = graft.operators.Aggregates.storeZorderRoot(s, d)
    s.sql(
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(SUM(doc_id) AS BIGINT) AS sum_id,
         |  CAST(MIN(a) AS BIGINT) AS a_min,
         |  CAST(MAX(a) AS BIGINT) AS a_max
         |FROM graft_zorder_read('$root', 'docs_z', 'a', 128, 191)
         |ORDER BY n_rows""".stripMargin)
  }

  val sqlZorderReadSql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(doc_id) AS BIGINT) AS sum_id,
      |  CAST(MIN(doc_id % 256) AS BIGINT) AS a_min,
      |  CAST(MAX(doc_id % 256) AS BIGINT) AS a_max
      |FROM documents WHERE doc_id % 256 BETWEEN 128 AND 191
      |ORDER BY n_rows""".stripMargin

  def sqlBucketedPot(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    registerBucketedPotTvf(s)
    Scratch.withDir("graft-bpot-tvf") { root =>
      val t = new graft.kv.BucketedPotTable(s, root, "cust_tvf", 8)
      val base = Tables.customer(s, d)
        .filter($"c_custkey" <= 200)
        .select($"c_custkey".cast("string").as("key"),
          $"c_mktsegment", $"c_nationkey")
      t.upsert(base)
      t.upsert(base.filter($"key".cast("bigint") % 5 === 0)
        .withColumn("c_mktsegment", lit("MOVED")))
      t.remove((0 to 200).filter(_ % 9 == 0).map(_.toString))
      s.sql(
        s"""SELECT c_mktsegment, COUNT(*) AS n_keys,
           |  SUM(CAST(c_nationkey AS BIGINT)) AS sum_nation
           |FROM graft_bucketed_pot('$root', 'cust_tvf')
           |GROUP BY c_mktsegment
           |ORDER BY c_mktsegment""".stripMargin).localCheckpoint(true)
    }
  }

  val sqlBucketedPotSql: String =
    """SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_keys,
      |  CAST(SUM(c_nationkey) AS BIGINT) AS sum_nation
      |FROM (
      |  SELECT c_custkey,
      |    CASE WHEN c_custkey % 5 = 0 THEN 'MOVED' ELSE c_mktsegment END
      |      AS c_mktsegment,
      |    c_nationkey
      |  FROM customer
      |  WHERE c_custkey <= 200 AND c_custkey % 9 <> 0) t
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** u25: TIME TRAVEL for the bucketed store — `graft_bucketed_pot`'s
    * optional generation argument (u16/u17's VERSION AS OF discipline at
    * bucket scale): the manifest overlay stops at the pinned generation,
    * so the scan opens exactly the staged dirs that generation's readers
    * saw; an uncommitted pin fails loudly. The lifecycle writes three
    * generations (base, LWW wave, predicate sweep via the r14
    * `removeWhere`) and reads ALL THREE states in one SQL statement —
    * the audit/rollback-inspection query a production store serves
    * ("what did the segment mix look like before the sweep?").
    */
  def sqlBucketedTimeTravel(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    registerBucketedPotTvf(s)
    Scratch.withDir("graft-bpot-tt") { root =>
      val t = new graft.kv.BucketedPotTable(s, root, "cust_tt", 8)
      val base = Tables.customer(s, d)
        .filter($"c_custkey" <= 150)
        .select($"c_custkey".cast("string").as("key"), $"c_mktsegment")
      t.upsert(base)
      t.upsert(base.filter($"key".cast("long") % 3 === 0)
        .withColumn("c_mktsegment", lit("MOVED")))
      t.removeWhere($"key".cast("long") % 7 === 0)
      def at(g: Int, state: String) =
        s"""SELECT '$state' AS state, c_mktsegment
           |FROM graft_bucketed_pot('$root', 'cust_tt', 8, $g)""".stripMargin
      s.sql(
        s"""SELECT state, c_mktsegment, COUNT(*) AS n
           |FROM (${at(1, "g1")} UNION ALL ${at(2, "g2")}
           |      UNION ALL ${at(3, "head")}) u
           |GROUP BY state, c_mktsegment
           |ORDER BY state, c_mktsegment""".stripMargin).localCheckpoint(true)
    }
  }

  val sqlBucketedTimeTravelSql: String =
    """WITH base AS (
      |  SELECT c_custkey AS k, c_mktsegment AS seg
      |  FROM customer WHERE c_custkey <= 150),
      |g2s AS (
      |  SELECT k, CASE WHEN k % 3 = 0 THEN 'MOVED' ELSE seg END AS seg
      |  FROM base)
      |SELECT state, seg AS c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n
      |FROM (
      |  SELECT 'g1' AS state, seg FROM base
      |  UNION ALL SELECT 'g2', seg FROM g2s
      |  UNION ALL SELECT 'head', seg FROM g2s WHERE k % 7 <> 0
      |) u
      |GROUP BY state, seg
      |ORDER BY state, c_mktsegment""".stripMargin

  /** u24: chain observability — `graft_pot_history('<path>')`, the
    * DESCRIBE HISTORY analogue for a pot chain (A12's observability
    * surface at the SQL level): one row per committed generation with
    * its artifact KIND (`snapshot` = full-object commit, `delta` = an
    * r14 streaming epoch's O(change-set) `.dgen-`) and the generation's
    * applied change counts (upserts, deletes) derived from the SAME
    * change-feed partitions u20 reads — so the numbers are the feed's
    * truth, not a parallel bookkeeping that could drift. Kinds are a
    * driver-side metadata walk (bounded by chain length); the counts
    * aggregate runs distributed, one partition per generation.
    */
  private[graft] def registerPotHistoryTvf(s: SparkSession): Unit =
    s.sessionState.tableFunctionRegistry.registerFunction(
      new org.apache.spark.sql.catalyst.FunctionIdentifier(
        "graft_pot_history"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.sources.PotV2Source].getName, "graft_pot_history"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        import org.apache.spark.sql.catalyst.expressions.Literal
        import org.apache.spark.unsafe.types.UTF8String
        val path = exprs match {
          case Seq(Literal(p: UTF8String, _)) => p.toString
          case other => throw new IllegalArgumentException(
            s"graft_pot_history: expected a STRING literal path, got $other")
        }
        val spark = org.apache.spark.sql.SparkSession.active
        import spark.implicits._
        val hp = new org.apache.hadoop.fs.Path(path)
        val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val commits = new org.apache.hadoop.fs.Path(hp.getParent, ".commits")
        val kinds = graft.kv.CommitMarker
          .committedGenerations(fs, commits).sorted.map { g =>
            val body = graft.sources.PotChain.artifactOf(fs, commits, g)
            (g, if (graft.sources.PotChain.isDgen(body)) "delta"
              else "snapshot")
          }
        val kindsDf = kinds.toDF("gen", "kind")
        val changes = spark.read
          .format(classOf[graft.sources.PotV2Source].getName)
          .option("path", path).option("changesFrom", "0").load()
          .select(regexp_extract($"pot_file", "@([0-9]+)$", 1)
            .cast("long").as("gen"),
            ($"doc_json" === "null").as("del"))
          .groupBy($"gen")
          .agg(sum(when(!$"del", 1L).otherwise(0L)).as("ups"),
            sum(when($"del", 1L).otherwise(0L)).as("dels"))
        kindsDf.join(changes, Seq("gen"), "left")
          .select($"gen", $"kind",
            coalesce($"ups", lit(0L)).as("upserts"),
            coalesce($"dels", lit(0L)).as("deletes"))
          .queryExecution.analyzed
      })

  def sqlPotHistory(s: SparkSession, d: String): DataFrame = {
    registerPotHistoryTvf(s)
    Scratch.withDir("graft-potv2hist") { dir =>
      val pot = s"$dir/t/data.json"
      val fmt = classOf[graft.sources.PotV2Source].getName
      import s.implicits._
      def docs(df: DataFrame, v: Int) = df.select(
        lit("").as("pot_file"),
        concat(lit("n"), col("n_nationkey").cast("string")).as("key"),
        to_json(struct(col("n_name").as("name"), lit(v).as("v")))
          .as("doc_json"))
      val nat = Tables.nation(s, d)
      docs(nat.filter($"n_regionkey" <= 1), 0)
        .write.format(fmt).option("path", pot).mode("overwrite").save()
      docs(nat.filter($"n_regionkey" === 0), 1)
        .write.format(fmt).option("path", pot).mode("append").save()
      docs(nat.filter($"n_regionkey" === 1 ||
          ($"n_regionkey" === 0 && $"n_nationkey" % 2 === 0)), 2)
        .write.format(fmt).option("path", pot).mode("overwrite").save()
      s.sql(
        s"""SELECT gen, kind, upserts, deletes
           |FROM graft_pot_history('$pot')
           |ORDER BY gen""".stripMargin).localCheckpoint(true)
    }
  }

  val sqlPotHistorySql: String =
    """SELECT gen, kind, upserts, deletes FROM (
      |  SELECT CAST(1 AS BIGINT) AS gen, 'snapshot' AS kind,
      |    CAST((SELECT COUNT(*) FROM nation WHERE n_regionkey <= 1)
      |      AS BIGINT) AS upserts,
      |    CAST(0 AS BIGINT) AS deletes
      |  UNION ALL
      |  SELECT CAST(2 AS BIGINT), 'snapshot',
      |    CAST((SELECT COUNT(*) FROM nation WHERE n_regionkey = 0)
      |      AS BIGINT),
      |    CAST(0 AS BIGINT)
      |  UNION ALL
      |  SELECT CAST(3 AS BIGINT), 'snapshot',
      |    CAST((SELECT COUNT(*) FROM nation WHERE n_regionkey = 1
      |      OR (n_regionkey = 0 AND n_nationkey % 2 = 0)) AS BIGINT),
      |    CAST((SELECT COUNT(*) FROM nation
      |      WHERE n_regionkey = 0 AND n_nationkey % 2 = 1) AS BIGINT)
      |) t
      |ORDER BY gen""".stripMargin

  /** u23: multi-pot batch CDC with a PER-POT from-vector — the r13
    * verdict's #3, closing the batch/stream symmetry: a glob changes
    * read now takes the SAME per-pot generation map st18's stream
    * checkpoints ([[graft.sources.PotMultiGenOffset]] JSON), so "what
    * changed across the bucket since my last audit" is one TVF call —
    * `graft_pot_changes('<glob>', '<vector json>')` — with no stream to
    * stand up. Semantics are st18's verbatim: pots absent from the
    * vector replay their full chain (new-pot rule), vector entries for
    * absent pots are inert, out-of-range entries fail loudly per pot.
    * The query builds three pots with different chain lengths, audits
    * from a vector that has consumed p1/p2 at generation 1 (p3 unseen),
    * and reads exactly p1's tail + p3's full history — upserts AND
    * truncate tombstones.
    */
  def sqlPotChangesVector(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    registerPotChangesTvf(s)
    Scratch.withDir("graft-potv2vec") { dir =>
      val fmt = classOf[graft.sources.PotV2Source].getName
      def docs(df: DataFrame, v: Int) = df.select(
        lit("").as("pot_file"),
        concat(lit("n"), col("n_nationkey").cast("string")).as("key"),
        to_json(struct(col("n_name").as("name"), lit(v).as("v")))
          .as("doc_json"))
      def put(pot: String, df: DataFrame, v: Int, mode: String): Unit =
        docs(df, v).write.format(fmt)
          .option("path", s"$dir/pots/$pot/data.json").mode(mode).save()
      val nat = Tables.nation(s, d)
      put("p1", nat.filter($"n_regionkey" === 0), 0, "overwrite")
      put("p1", nat.filter($"n_regionkey" === 0 && $"n_nationkey" % 2 === 0),
        1, "append")
      put("p2", nat.filter($"n_regionkey" === 1), 0, "overwrite")
      put("p3", nat.filter($"n_regionkey" === 2), 0, "overwrite")
      put("p3", nat.filter($"n_regionkey" === 2 && $"n_nationkey" % 3 === 0),
        1, "overwrite")
      put("p3", nat.filter($"n_regionkey" === 2 && $"n_nationkey" % 3 === 1),
        2, "append")
      // the consumer's checkpoint: p1/p2 consumed through generation 1,
      // p3 never seen — exactly a resumed st18 vector
      val vec = graft.sources.PotMultiGenOffset(Map(
        s"$dir/pots/p1/data.json" -> 1L,
        s"$dir/pots/p2/data.json" -> 1L)).json
      s.sql(
        s"""SELECT regexp_extract(pot_file, 'pots/(p[0-9]+)/', 1) AS pot,
           |  CAST(regexp_extract(pot_file, '@([0-9]+)$$', 1) AS INT) AS gen,
           |  key,
           |  CAST(get_json_object(doc_json, '$$.v') AS INT) AS v,
           |  (doc_json = 'null') AS deleted
           |FROM graft_pot_changes('$dir/pots/*/data.json', '$vec')
           |ORDER BY pot, gen, key""".stripMargin).localCheckpoint(true)
    }
  }

  val sqlPotChangesVectorSql: String =
    """WITH r0 AS (
      |  SELECT n_nationkey AS nk,
      |    'n' || CAST(n_nationkey AS VARCHAR) AS key
      |  FROM nation WHERE n_regionkey = 0),
      |r2 AS (
      |  SELECT n_nationkey AS nk,
      |    'n' || CAST(n_nationkey AS VARCHAR) AS key
      |  FROM nation WHERE n_regionkey = 2)
      |SELECT pot, gen, key, v, deleted FROM (
      |  SELECT 'p1' AS pot, CAST(2 AS INTEGER) AS gen, key,
      |    CAST(1 AS INTEGER) AS v, FALSE AS deleted
      |  FROM r0 WHERE nk % 2 = 0
      |  UNION ALL
      |  SELECT 'p3', CAST(1 AS INTEGER), key, CAST(0 AS INTEGER), FALSE
      |  FROM r2
      |  UNION ALL
      |  SELECT 'p3', CAST(2 AS INTEGER), key, CAST(1 AS INTEGER), FALSE
      |  FROM r2 WHERE nk % 3 = 0
      |  UNION ALL
      |  SELECT 'p3', CAST(2 AS INTEGER), key, CAST(NULL AS INTEGER), TRUE
      |  FROM r2 WHERE nk % 3 <> 0
      |  UNION ALL
      |  SELECT 'p3', CAST(3 AS INTEGER), key, CAST(2 AS INTEGER), FALSE
      |  FROM r2 WHERE nk % 3 = 1
      |) t
      |ORDER BY pot, gen, key""".stripMargin

  /** u22: the bucketed store's SQL WRITE surface — the r13 verdict's #2.
    * [[graft.sources.BucketedPotV2Source]] shards the pot-object format
    * by `xxhash64(key) pmod buckets` (`<root>/_b=<i>/data.json`, each
    * bucket a full pot chain), so the WHOLE DML verb set lands per
    * bucket: INSERT routes rows to touched buckets only (write
    * amplification bounded by the change set, like BucketedPotTable),
    * MERGE pins a per-bucket generation vector (scan and conflict check
    * see the same state on every shard), metadata DELETE rewrites only
    * the buckets its keys hash to, and exact key predicates PRUNE the
    * read to one bucket object at planning. The query drives the full
    * lifecycle — seed INSERT, LWW wave, 3-action MERGE, key-list DELETE
    * — through pure SQL and reads the survivors back; the oracle is the
    * customer-slice recompute of the same fold.
    */
  def sqlBucketedWrite(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Scratch.withDir("graft-bpot-sql") { root =>
      val fmt = classOf[graft.sources.BucketedPotV2Source].getName
      val tbl = "graft_u22_bpot"
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      s.sql(s"CREATE TABLE $tbl (pot_file STRING, key STRING, " +
        s"doc_json STRING) USING $fmt OPTIONS (path '$root', buckets '8')")
      Tables.customer(s, d).filter($"c_custkey" <= 240)
        .select($"c_custkey".cast("long").as("c"),
          $"c_mktsegment".as("seg"), $"c_nationkey".cast("int").as("nat"))
        .createOrReplaceTempView("u22_base")
      s.sql(s"""INSERT INTO $tbl
      SELECT '' AS pot_file, concat('c', CAST(c AS STRING)) AS key,
        to_json(named_struct('seg', seg, 'nat', nat)) AS doc_json
      FROM u22_base""")
      s.sql(s"""INSERT INTO $tbl
      SELECT '', concat('c', CAST(c AS STRING)),
        to_json(named_struct('seg', 'MOVED', 'nat', nat))
      FROM u22_base WHERE c % 7 = 0""")
      val mergeSql =
        s"""MERGE INTO $tbl t USING (
           |  SELECT concat('c', CAST(c AS STRING)) AS key, 'd' AS op,
           |    CAST(NULL AS STRING) AS doc
           |  FROM u22_base WHERE c % 11 = 0
           |  UNION ALL
           |  SELECT concat('c', CAST(c AS STRING)), 'u',
           |    to_json(named_struct('seg', 'UPD', 'nat', nat + 100))
           |  FROM u22_base WHERE c % 11 = 1
           |  UNION ALL
           |  SELECT concat('x', CAST(c AS STRING)), 'i',
           |    to_json(named_struct('seg', 'NEW', 'nat', 0))
           |  FROM u22_base WHERE c % 50 = 0
           |) s ON t.key = s.key
           |WHEN MATCHED AND s.op = 'd' THEN DELETE
           |WHEN MATCHED AND s.op = 'u' THEN UPDATE SET doc_json = s.doc
           |WHEN NOT MATCHED AND s.op = 'i' THEN
           |  INSERT (pot_file, key, doc_json) VALUES ('', s.key, s.doc)"""
          .stripMargin
      s.sql(mergeSql)
      val delKeys = (1 to 240).filter(_ % 13 == 0)
        .map(c => s"'c$c'").mkString(", ")
      s.sql(s"DELETE FROM $tbl WHERE key IN ($delKeys)")
      val out = s.sql(
        s"""SELECT get_json_object(doc_json, '$$.seg') AS seg,
           |  COUNT(*) AS n_keys,
           |  SUM(CAST(get_json_object(doc_json, '$$.nat') AS BIGINT))
           |    AS sum_nat
           |FROM $tbl
           |GROUP BY get_json_object(doc_json, '$$.seg')
           |ORDER BY seg""".stripMargin).localCheckpoint(true)
      s.sql(s"DROP TABLE $tbl")
      out
    }
  }

  val sqlBucketedWriteSql: String =
    """WITH base AS (
      |  SELECT c_custkey AS c, c_mktsegment AS seg, c_nationkey AS nat
      |  FROM customer WHERE c_custkey <= 240),
      |merged AS (
      |  SELECT CASE WHEN c % 11 = 1 THEN 'UPD'
      |              WHEN c % 7 = 0 THEN 'MOVED' ELSE seg END AS seg,
      |    nat + CASE WHEN c % 11 = 1 THEN 100 ELSE 0 END AS nat
      |  FROM base
      |  WHERE c % 11 <> 0 AND c % 13 <> 0),
      |inserted AS (
      |  SELECT 'NEW' AS seg, 0 AS nat FROM base WHERE c % 50 = 0)
      |SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_keys,
      |  CAST(SUM(nat) AS BIGINT) AS sum_nat
      |FROM (SELECT seg, nat FROM merged
      |      UNION ALL SELECT seg, nat FROM inserted) t
      |GROUP BY seg
      |ORDER BY seg""".stripMargin

  /** u26: batch CDC for the BUCKETED store — the last cell of the
    * batch/stream symmetry the connector pins everywhere else (u20:
    * single-pot batch ≡ st17 stream; u23: multi-pot vector batch ≡ st18;
    * st21: bucketed STREAM CDC; this: bucketed BATCH CDC). The store's
    * SQL DML history (seed INSERT, LWW wave, SQL DELETE) is read back
    * through `graft_pot_changes` over the `_b=*` glob — each shard is a
    * pot chain, so the TVF composes with zero new machinery. The output
    * aggregates per KEY (event count + terminal tombstone flag), which
    * is bucket-ASSIGNMENT-FREE — exactly the property the oracle can
    * recompute without replaying xxhash64 routing (st21's multiset
    * discipline applied to the batch read). Mods %7/%13 mirrored
    * literally.
    */
  def sqlBucketedChanges(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    registerPotChangesTvf(s)
    Scratch.withDir("graft-bpot-cdc") { root =>
      val fmt = classOf[graft.sources.BucketedPotV2Source].getName
      val tbl = "graft_u26_bpot"
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      s.sql(s"CREATE TABLE $tbl (pot_file STRING, key STRING, " +
        s"doc_json STRING) USING $fmt OPTIONS (path '$root', buckets '8')")
      Tables.customer(s, d).filter($"c_custkey" <= 200)
        .select($"c_custkey".cast("long").as("c"),
          $"c_nationkey".cast("int").as("nat"))
        .createOrReplaceTempView("u26_base")
      s.sql(s"""INSERT INTO $tbl
      SELECT '' AS pot_file, concat('c', CAST(c AS STRING)) AS key,
        to_json(named_struct('nat', nat, 'v', 0)) AS doc_json
      FROM u26_base""")
      s.sql(s"""INSERT INTO $tbl
      SELECT '', concat('c', CAST(c AS STRING)),
        to_json(named_struct('nat', nat, 'v', 1))
      FROM u26_base WHERE c % 7 = 0""")
      val delKeys = (1 to 200).filter(_ % 13 == 0)
        .map(c => s"'c$c'").mkString(", ")
      s.sql(s"DELETE FROM $tbl WHERE key IN ($delKeys)")
      val out = s.sql(
        s"""SELECT key, CAST(COUNT(*) AS BIGINT) AS n_events,
           |  MAX(CASE WHEN doc_json = 'null' THEN TRUE ELSE FALSE END)
           |    AS deleted
           |FROM graft_pot_changes('$root/_b=*/data.json', 0)
           |GROUP BY key
           |ORDER BY key""".stripMargin).localCheckpoint(true)
      s.sql(s"DROP TABLE $tbl")
      out
    }
  }

  val sqlBucketedChangesSql: String =
    """SELECT 'c' || CAST(c_custkey AS VARCHAR) AS key,
      |  CAST(1 + CASE WHEN c_custkey % 7 = 0 THEN 1 ELSE 0 END
      |         + CASE WHEN c_custkey % 13 = 0 AND c_custkey > 0
      |           THEN 1 ELSE 0 END
      |    AS BIGINT) AS n_events,
      |  (c_custkey % 13 = 0 AND c_custkey > 0) AS deleted
      |FROM customer
      |WHERE c_custkey <= 200
      |ORDER BY key""".stripMargin

  /** u27: STATISTICS-DRIVEN broadcast join over a pot relation (r15).
    * The pot connector reports `sizeInBytes` from chain metadata
    * ([[graft.sources.PotV2Scan.estimateStatistics]]), so a small pot dim
    * joined to a parquet fact plans a BroadcastHashJoin WITHOUT a hint —
    * before r15 a V2 relation without stats weighed `defaultSizeInBytes`
    * (Long.MaxValue) and never auto-broadcast, leaving a 100 TB fact
    * join to shuffle both sides or hope for AQE's post-shuffle rescue.
    * The query is deliberately hint-free: PlanAuditSpec pins the pot
    * scan inside the broadcast build side. Oracle: the same join straight
    * off the nation table (the pot holds `{"name": n_name}` per nation).
    */
  private[graft] def statsBroadcastBuild(
      s: SparkSession, d: String, dir: String): DataFrame = {
    import s.implicits._
    Tables.nation(s, d)
      .select(lit("").as("pot_file"),
        concat(lit("n"), $"n_nationkey".cast("string")).as("key"),
        to_json(struct($"n_name".as("name"))).as("doc_json"))
      .write.format(classOf[graft.sources.PotV2Source].getName)
      .option("path", s"$dir/nation/data.json").mode("overwrite").save()
    val pot = s.read.format(classOf[graft.sources.PotV2Source].getName)
      .option("path", s"$dir/nation/data.json").load()
      .select($"key",
        get_json_object($"doc_json", "$.name").as("n_name"))
    Tables.customer(s, d)
      .withColumn("key", concat(lit("n"), $"c_nationkey".cast("string")))
      .join(pot, "key") // NO broadcast() hint — stats must plan it
      .groupBy($"n_name")
      .agg(count(lit(1)).as("n_cust"),
        sum($"c_custkey".cast("bigint")).as("sum_cust"))
      .orderBy($"n_name")
  }

  def statsBroadcastJoin(s: SparkSession, d: String): DataFrame =
    Scratch.withDir("graft-potstats") { dir =>
      statsBroadcastBuild(s, d, dir).localCheckpoint(true)
    }

  val statsBroadcastJoinSql: String =
    """SELECT n.n_name AS n_name, CAST(COUNT(*) AS BIGINT) AS n_cust,
      |  CAST(SUM(c.c_custkey) AS BIGINT) AS sum_cust
      |FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
      |GROUP BY n.n_name
      |ORDER BY n_name""".stripMargin

  /** u28: LIMIT / TopN PUSHDOWN through the SQL front door (r15).
    * `ORDER BY key LIMIT k` over a pot relation pushes as a per-object
    * top-k (each reader returns k key-ordered rows, only the winners'
    * documents stringify; Spark merges the partials), and a bare LIMIT
    * pushes as an early-stop streaming parse — `SELECT … LIMIT 10` over
    * a 100 MB object parses ~10 entries instead of the whole map. The
    * query reads both directions off one 200-key pot; every row carries
    * its direction tag so the union has a total order. Oracle: the same
    * top-k straight off customer.
    */
  def sqlTopNPushdown(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    registerPotTvf(s)
    Scratch.withDir("graft-pottopn") { dir =>
      Tables.customer(s, d).filter($"c_custkey" <= 200)
        .select(lit("").as("pot_file"),
          concat(lit("c"), lpad($"c_custkey".cast("string"), 3, "0"))
            .as("key"),
          to_json(struct($"c_custkey".cast("long").as("v"))).as("doc_json"))
        .write.format(classOf[graft.sources.PotV2Source].getName)
        .option("path", s"$dir/cust/data.json").mode("overwrite").save()
      s.sql(
        s"""SELECT dir, key, v FROM (
           |  SELECT 'asc' AS dir, key,
           |    CAST(get_json_object(doc_json, '$$.v') AS BIGINT) AS v
           |  FROM graft_pot('$dir/cust/data.json')
           |  ORDER BY key LIMIT 10
           |) UNION ALL
           |SELECT dir, key, v FROM (
           |  SELECT 'desc' AS dir, key,
           |    CAST(get_json_object(doc_json, '$$.v') AS BIGINT) AS v
           |  FROM graft_pot('$dir/cust/data.json')
           |  ORDER BY key DESC LIMIT 7
           |)
           |ORDER BY dir, key""".stripMargin).localCheckpoint(true)
    }
  }

  val sqlTopNPushdownSql: String =
    """WITH pot AS (
      |  SELECT 'c' || lpad(CAST(c_custkey AS VARCHAR), 3, '0') AS key,
      |    CAST(c_custkey AS BIGINT) AS v
      |  FROM customer WHERE c_custkey <= 200)
      |SELECT dir, key, v FROM (
      |  SELECT 'asc' AS dir, key, v FROM pot ORDER BY key LIMIT 10)
      |UNION ALL
      |SELECT dir, key, v FROM (
      |  SELECT 'desc' AS dir, key, v FROM pot ORDER BY key DESC LIMIT 7)
      |ORDER BY dir, key""".stripMargin

  /** u30: the DSv2 FUNCTION CATALOG surface — s5's int8-quantized top-k
    * restated with the ranking dot computed by
    * `graft_fns.ops.int8dot(...)`, a catalog-namespaced V2
    * [[graft.sources.GraftFunctionCatalog ScalarFunction]] wired in by
    * CONFIG alone (`spark.sql.catalog.graft_fns`), not by session-registry
    * code: the registration path a shared cluster gateway exposes.
    * Resolution binds the typed function at analysis and codegens a direct
    * call to its magic `invoke` method — GraftExtensionsSpec pins the
    * physical plan's ranking column is the bound V2 function (and that a
    * bad input type or unknown name fails at ANALYSIS, not execute).
    * Hash-matching s5's oracle proves the catalog path is bit-identical
    * to the HOF `aggregate(zip_with(...))` shape. One scan, broadcast'd
    * single-row query side, TakeOrderedAndProject — s5's plan exactly.
    */
  def sqlFunctionCatalog(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft_fns",
      classOf[graft.sources.GraftFunctionCatalog].getName)
    Tables.embeddings(s, d).createOrReplaceTempView("g_embeddings")
    s.sql(
      """WITH codes AS (
        |  SELECT vec_id, label,
        |    transform(embedding, x ->
        |      CAST(floor(CAST(x AS DOUBLE) *
        |        (127.0 / aggregate(embedding, CAST(0.0 AS DOUBLE),
        |           (m, v) -> greatest(m, abs(CAST(v AS DOUBLE)))))) AS INT))
        |      AS code
        |  FROM g_embeddings),
        |q AS (SELECT code AS qc FROM codes WHERE vec_id = 0)
        |SELECT e.vec_id, e.label, graft_fns.ops.int8dot(e.code, q.qc) AS qdot
        |FROM codes e CROSS JOIN q
        |WHERE e.vec_id <> 0
        |ORDER BY qdot DESC, e.vec_id ASC
        |LIMIT 20""".stripMargin)
  }

  /** Oracle: s5's quantized top-k SQL verbatim (same codes, same integer
    * dot, same order) — the catalog function must be indistinguishable
    * from the HOF it packages.
    */
  val sqlFunctionCatalogSql: String = Similarity.quantizedTopKSql

  /** u34: SQL-BODY FUNCTIONS (Spark 4, SPARK-46246) — `CREATE FUNCTION
    * ... RETURN <expr>` scalar UDFs and `RETURNS TABLE` UDTFs defined in
    * pure SQL. The engine-relevant property (and why this beats a Scala
    * UDF everywhere it can be used): the analyzer's ResolveSQLFunctions
    * INLINES the body into the calling plan — the optimized plan is
    * plain expressions, whole-stage-codegen'd, pushdown-transparent; a
    * Scala UDF is an opaque row-at-a-time black box that blocks both.
    * GraftExtensionsSpec pins the inlining (no UDF/function node
    * survives in the optimized plan). The query: a scalar SQL function
    * computing exact discounted cents (the Ora decimal discipline
    * packaged as a reusable function) + a TABLE-valued SQL function
    * serving quantity tiers, joined and aggregated; the oracle inlines
    * both bodies — which is exactly what the analyzer does.
    * Scale: everything stays one codegen'd partial-agg groupBy; the
    * tier TVF is a 3-row VALUES broadcast.
    */
  def sqlUdfInline(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("graft_u34_lineitem")
    s.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_disc_cents(
        |  price DOUBLE, disc DOUBLE) RETURNS BIGINT
        |RETURN CAST(CAST(price AS DECIMAL(38,2)) * 100 AS BIGINT)
        |  * (100 - CAST(CAST(disc AS DECIMAL(38,2)) * 100 AS BIGINT))"""
        .stripMargin)
    s.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_qty_tiers()
        |RETURNS TABLE(tier INT, lo INT, hi INT)
        |RETURN SELECT * FROM VALUES (1, 1, 10), (2, 11, 25), (3, 26, 50)
        |  AS t(tier, lo, hi)""".stripMargin)
    val out = s.sql(
      """SELECT l_returnflag, t.tier,
        |  CAST(SUM(graft_disc_cents(l_extendedprice, l_discount))
        |    AS BIGINT) AS disc_val,
        |  COUNT(*) AS n
        |FROM graft_u34_lineitem l
        |JOIN graft_qty_tiers() t
        |  ON l.l_quantity BETWEEN t.lo AND t.hi
        |GROUP BY l_returnflag, t.tier
        |ORDER BY l_returnflag, t.tier""".stripMargin)
      .localCheckpoint(true)
    s.catalog.dropTempView("graft_u34_lineitem")
    out
  }

  val sqlUdfInlineSql: String =
    """WITH tiers(tier, lo, hi) AS (
      |  VALUES (1, 1, 10), (2, 11, 25), (3, 26, 50))
      |SELECT l_returnflag, CAST(t.tier AS INTEGER) AS tier,
      |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(38,2)) * 100
      |             AS BIGINT)
      |         * (100 - CAST(CAST(l_discount AS DECIMAL(38,2)) * 100
      |             AS BIGINT))) AS BIGINT) AS disc_val,
      |  CAST(COUNT(*) AS BIGINT) AS n
      |FROM lineitem l
      |JOIN tiers t ON l.l_quantity BETWEEN t.lo AND t.hi
      |GROUP BY l_returnflag, t.tier
      |ORDER BY l_returnflag, tier""".stripMargin

  /** u33: RUNTIME BLOOM-FILTER join pruning (`InjectRuntimeFilter`) —
    * the row-level sibling of u27's stats-driven broadcast and the pot
    * scan's DPP: when a selective dimension filters a shuffle join, the
    * optimizer plants a `BloomFilterAggregate` on the dim side and a
    * `BloomFilterMightContain` probe UNDER the fact side's exchange, so
    * non-joining fact rows die before they are ever shuffled. At 100 TB
    * this is the difference between shuffling the whole fact table and
    * shuffling the ~2% that joins: the bloom probe is a codegen'd
    * expression on the scan output, no extra pass. The query runs on an
    * ISOLATED `newSession()` (own runtime conf; broadcast disabled to
    * force the shuffle-join shape the filter exists for, application-
    * side size floor dropped to fixture scale — production keeps the
    * 10 GB default and triggers on real fact sizes). The result is a
    * plain join aggregate the oracle replays; the bloom's presence is
    * plan-pinned in GraftExtensionsSpec (filters change plans, never
    * answers).
    */
  def bloomRuntimeJoin(s: SparkSession, d: String): DataFrame = {
    val ss = s.newSession()
    ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    ss.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    ss.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "0")
    ss.conf.set(
      "spark.sql.optimizer.runtimeFilter.semiJoinReduction.enabled", "false")
    bloomJoinPlan(ss, d)
  }

  /** The join both u33's query and its plan-pin spec build: urgent
    * orders (the selective creation side) against lineitem (the fact
    * whose shuffle the bloom prunes), revenue in exact cents per
    * return flag. */
  private[graft] def bloomJoinPlan(
      ss: SparkSession, d: String): DataFrame = {
    import ss.implicits._
    val o = Tables.orders(ss, d)
      .filter($"o_orderpriority" === "1-URGENT")
      .select($"o_orderkey")
    val l = Tables.lineitem(ss, d).select($"l_orderkey", $"l_returnflag",
      ($"l_extendedprice".cast(org.apache.spark.sql.types.DecimalType(38, 2))
        * 100).cast("long").as("cents"))
    l.join(o, $"l_orderkey" === $"o_orderkey")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"), sum($"cents").as("cents_sum"))
      .orderBy($"l_returnflag")
  }

  val bloomRuntimeJoinSql: String =
    """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(38,2)) * 100
      |    AS BIGINT)) AS BIGINT) AS cents_sum
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT'
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** u40: the OPTIMIZER-RULE leg of the grouped-top-k ladder
    * ([[graft.plans.WindowTopKRewrite]]): the classic BI pattern —
    * `row_number() OVER (PARTITION BY … ORDER BY …)` filtered to
    * `rn <= k` with the rank projected away — rewrites AUTOMATICALLY
    * to the [[graft.plans.GroupedTopK]] operator, so users get the
    * map-side k-heap + O(groups·k) exchange without knowing the
    * operator exists (q88 is the explicit API; this is the transparent
    * path). Runs on an ISOLATED newSession (extraOptimizations +
    * extraStrategies — u11's injection discipline) so the shared
    * session's plans stay byte-stable; GraftExtensionsSpec pins the
    * rewrite fired (GroupedTopK present, Window absent) and that the
    * guard rails hold it back when the rank column SURVIVES the
    * projection. The query is the window form verbatim — same result
    * as q88, same oracle — because an optimizer rule that changes
    * answers is a bug by definition.
    */
  def windowTopKRewrite(s: SparkSession, d: String): DataFrame = {
    val ss = s.newSession()
    ss.experimental.extraOptimizations =
      ss.experimental.extraOptimizations :+ graft.plans.WindowTopKRewrite
    ss.experimental.extraStrategies =
      ss.experimental.extraStrategies :+ new graft.plans.GroupedTopKStrategy
    windowTopKPlan(ss, d)
  }

  /** The window-form top-3 both u40 and its spec build (identical
    * semantics to q88's explicit-API query). */
  private[graft] def windowTopKPlan(
      ss: SparkSession, d: String): DataFrame = {
    import ss.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source", $"lang")
      .orderBy($"n_chars".desc, $"doc_id")
    Tables.documents(ss, d)
      .select($"source", $"lang", $"doc_id", $"n_chars")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3).drop("rn")
      .orderBy($"source", $"lang", $"n_chars".desc, $"doc_id")
  }

  val windowTopKRewriteSql: String = Aggregates.groupedTopKSql

  /** u44: the RANK() leg of the window→top-k rewrite (r17 — broadens
    * u40 beyond row_number): `rank() OVER (PARTITION BY source ORDER
    * BY n_chars DESC) <= 3` with the rank projected away rewrites to
    * [[graft.plans.GroupedTopK]] in [[graft.plans.RankK]] mode, whose
    * partial fold keeps TIES of the k-th position (output may exceed
    * k rows per group — exactly rank()'s contract, and exactly what
    * Spark's own WindowGroupLimit RankLimitIterator keeps). The
    * rewrite also STRIPS the WindowGroupLimit node Spark's
    * InferWindowGroupLimit has already inserted below the window —
    * otherwise the heap operator would sit on a redundant per-group
    * sort (GraftExtensionsSpec pins its absence plus bit-equality on
    * a tie-heavy fixture). Same isolated-session discipline as u40.
    */
  def rankTopKRewrite(s: SparkSession, d: String): DataFrame = {
    val ss = s.newSession()
    ss.experimental.extraOptimizations =
      ss.experimental.extraOptimizations :+ graft.plans.WindowTopKRewrite
    ss.experimental.extraStrategies =
      ss.experimental.extraStrategies :+ new graft.plans.GroupedTopKStrategy
    import ss.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"n_chars".desc)
    Tables.documents(ss, d)
      .select($"source", $"doc_id", $"n_chars")
      .withColumn("rk", org.apache.spark.sql.functions.rank().over(w))
      .filter($"rk" <= 3).drop("rk")
      .orderBy($"source", $"n_chars".desc, $"doc_id")
  }

  val rankTopKRewriteSql: String =
    """SELECT source, doc_id, n_chars FROM (
      |  SELECT source, doc_id, n_chars,
      |    RANK() OVER (PARTITION BY source ORDER BY n_chars DESC) AS rk
      |  FROM documents)
      |WHERE rk <= 3
      |ORDER BY source, n_chars DESC, doc_id""".stripMargin

  /** u43: TABLESAMPLE over the BUCKETED store — u41's pushdown
    * inherited through the bucketed scan builder, proving the sample
    * composes with sharding: every bucket's reader applies the same
    * key-hash admission, so the global sampled set is BUCKET-LAYOUT
    * INDEPENDENT (reshard the store, sample again, same keys — the
    * property that lets an audit sample survive maintenance;
    * PotJsonSpec pins set-equality with the single-pot fold). Oracle
    * is the same fold over the nation-derived keys.
    */
  def sqlBucketedSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Scratch.withDir("graft-u43") { root =>
      val fmt = classOf[graft.sources.BucketedPotV2Source].getName
      Tables.nation(s, d).select(
        lit("").as("pot_file"),
        concat(lit("n"), $"n_nationkey".cast("string")).as("key"),
        to_json(struct($"n_name".as("name"))).as("doc_json"))
        .write.format(fmt).option("path", root).option("buckets", "4")
        .mode("append").save()
      s.read.format(fmt).option("path", root)
        .option("buckets", "4").load()
        .sample(withReplacement = false, 0.4, seed = 3L)
        .select($"key", get_json_object($"doc_json", "$.name").as("name"))
        .orderBy($"key").localCheckpoint(true)
    }
  }

  /** Same admitted set as u41 (the fold is layout-independent).
    * LAZY: sqlTableSampleSql is declared below this point — a strict
    * val here would read null at object init (the kv12 lesson; direct
    * reference, so lazy is sufficient). */
  lazy val sqlBucketedSampleSql: String = sqlTableSampleSql

  /** u42: SHALLOW CLONE (`CALL graft_fns.sys.clone_pot` /
    * [[graft.sources.PotV2Source.clonePot]] — Delta/Iceberg CLONE
    * brought to the pot store): history is shared by re-publishing the
    * source's commit MARKERS (bodies keep absolute source paths — zero
    * artifact copies; the chain, which dominates storage, is never
    * duplicated), only the head `data.json` is copied (O(current
    * state)). The query proves the full lifecycle: clone equals source
    * (rows + generations); a write on the CLONE diverges (clone gains
    * the rows, SOURCE stays untouched — copy-on-write at generation
    * granularity via the unchanged CAS flow); TIME TRAVEL on the clone
    * reads the source's generation-1 artifact through the shared
    * marker; and the clone's VACUUM deletes ZERO bodies (the ownership
    * guard — borrowed history is the source's to retire, never the
    * clone's; the same guard protects any pot from a corrupted marker
    * naming a foreign path). The dev/staging fork every production
    * store eventually needs, at marker cost.
    */
  def sqlShallowClone(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    s.conf.set("spark.sql.catalog.graft_fns",
      classOf[graft.sources.GraftFunctionCatalog].getName)
    Scratch.withDir("graft-u42") { dir =>
      val src = s"$dir/src/data.json"
      val dst = s"$dir/dst/data.json"
      val fmt = classOf[graft.sources.PotV2Source].getName
      val nat = Tables.nation(s, d)
      def docs(df: org.apache.spark.sql.DataFrame, upd: Int) = df.select(
        lit("").as("pot_file"),
        concat(lit("n"), $"n_nationkey".cast("string")).as("key"),
        to_json(struct($"n_name".as("name"), lit(upd).as("upd")))
          .as("doc_json"))
      // source: gen 1 (all nations), gen 2 (region 0 LWW-updated)
      docs(nat, 0)
        .write.format(fmt).option("path", src).mode("overwrite").save()
      docs(nat.filter($"n_regionkey" === 0), 1)
        .write.format(fmt).option("path", src).mode("append").save()
      // collect() pins execution order: the clone must exist before the
      // divergent write below (CALL is a command, but explicit beats
      // relying on eager command semantics)
      val nClonedGens = s.sql(
        s"CALL graft_fns.sys.clone_pot('$src', '$dst')").collect().length
      val cloned = Seq(nClonedGens.toLong).toDF("n_cloned_gens")
      // divergence: a write on the CLONE must not touch the source
      docs(nat.filter($"n_regionkey" === 1), 2)
        .write.format(fmt).option("path", dst).mode("append").save()
      def upds(pot: String, gen: Option[Long]) = {
        val r = s.read.format(fmt).option("path", pot)
        gen.foreach(g => r.option("generation", g.toString))
        r.load().agg(count(lit(1)).as("n"),
          sum(get_json_object($"doc_json", "$.upd").cast("long")).as("upd_sum"))
      }
      val srcHead = upds(src, None)
        .select($"n".as("src_n"), $"upd_sum".as("src_upds"))
      val dstHead = upds(dst, None)
        .select($"n".as("dst_n"), $"upd_sum".as("dst_upds"))
      // time travel THROUGH the shared marker: clone gen 1 = source gen 1
      val dstV1 = upds(dst, Some(1L))
        .select($"n".as("dst_v1_n"), $"upd_sum".as("dst_v1_upds"))
      // ownership guard: the clone's vacuum reclaims NOTHING (its
      // pre-covering bodies are all borrowed source artifacts)
      val vacuumed = s.sql(s"CALL graft_fns.sys.vacuum_pot('$dst')")
        .agg(count(lit(1)).as("n_vacuumed"))
      cloned.crossJoin(srcHead).crossJoin(dstHead)
        .crossJoin(dstV1).crossJoin(vacuumed)
        .localCheckpoint(true)
    }
  }

  val sqlShallowCloneSql: String =
    """SELECT CAST(2 AS BIGINT) AS n_cloned_gens,
      |  CAST(COUNT(*) AS BIGINT) AS src_n,
      |  CAST(COUNT(CASE WHEN n_regionkey = 0 THEN 1 END) AS BIGINT)
      |    AS src_upds,
      |  CAST(COUNT(*) AS BIGINT) AS dst_n,
      |  CAST(COUNT(CASE WHEN n_regionkey = 0 THEN 1 END)
      |    + 2 * COUNT(CASE WHEN n_regionkey = 1 THEN 1 END) AS BIGINT)
      |    AS dst_upds,
      |  CAST(COUNT(*) AS BIGINT) AS dst_v1_n,
      |  CAST(0 AS BIGINT) AS dst_v1_upds,
      |  CAST(0 AS BIGINT) AS n_vacuumed
      |FROM nation""".stripMargin

  /** u47: BUCKETED shallow clone (r17 — closes the u42 gap the verdict
    * named: cloning a sharded store was N manual pot clones plus meta /
    * statement state nothing copied coherently).
    * `CALL graft_fns.sys.clone_pot('<root>', '<dstRoot>')` detects the
    * `_meta/buckets` stamp and clones the WHOLE store
    * ([[graft.sources.BucketedPotV2Source.cloneBucketedPot]]): every
    * bucket's marker chain shared + head copied (clonePot per bucket,
    * inheriting the idempotent mid-crash resume), the target stamped
    * with the source's modulus, open statements rolled forward first so
    * the cloned frontier is statement-consistent, and NO statement log
    * or z-order layout carried (derived/borrowable artifacts — the
    * scaladoc states why). The query proves: clone equals source; a
    * divergent write on the clone leaves the source untouched; the
    * clone's per-bucket vacuum reclaims ZERO bodies (ownership guard
    * per bucket — borrowed history is the source's to retire).
    * `n_cloned_markers` is the deterministic marker count for nation's
    * 25 keys under xxhash64 mod 4 (all four buckets populated by gen 1;
    * region-0 keys' buckets gain gen 2) — an empirical constant
    * mirrored literally in the oracle, like the d5/s2 geometry.
    */
  def bucketedClone(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    s.conf.set("spark.sql.catalog.graft_fns",
      classOf[graft.sources.GraftFunctionCatalog].getName)
    Scratch.withDir("graft-u47") { dir =>
      val srcRoot = s"$dir/src"
      val dstRoot = s"$dir/dst"
      val fmt = classOf[graft.sources.BucketedPotV2Source].getName
      val nat = Tables.nation(s, d)
      def docs(df: org.apache.spark.sql.DataFrame, upd: Int) = df.select(
        lit("").as("pot_file"),
        concat(lit("n"), $"n_nationkey".cast("string")).as("key"),
        to_json(struct($"n_name".as("name"), lit(upd).as("upd")))
          .as("doc_json"))
      def write(df: org.apache.spark.sql.DataFrame, root: String): Unit =
        df.write.format(fmt).option("path", root).option("buckets", "4")
          .mode("append").save()
      write(docs(nat, 0), srcRoot)
      write(docs(nat.filter($"n_regionkey" === 0), 1), srcRoot)
      val nCloned = s.sql(
        s"CALL graft_fns.sys.clone_pot('$srcRoot', '$dstRoot')")
        .collect().length
      // divergence: a write on the CLONE must not touch the source
      write(docs(nat.filter($"n_regionkey" === 1), 2), dstRoot)
      def state(root: String) = s.read.format(fmt).option("path", root)
        .option("buckets", "4").load()
        .agg(count(lit(1)).as("n"),
          sum(get_json_object($"doc_json", "$.upd").cast("long")).as("upds"))
      val srcHead = state(srcRoot)
        .select($"n".as("src_n"), $"upds".as("src_upds"))
      val dstHead = state(dstRoot)
        .select($"n".as("dst_n"), $"upds".as("dst_upds"))
      // ownership guard PER BUCKET: the clone's vacuums reclaim nothing
      val nVacuumed = (0 until 4).map { b =>
        s.sql(s"CALL graft_fns.sys.vacuum_pot('" +
          graft.sources.BucketedPotV2Source.bucketPot(dstRoot, b) +
          "')").collect().length
      }.sum
      Seq((nCloned.toLong, nVacuumed.toLong))
        .toDF("n_cloned_markers", "n_vacuumed")
        .crossJoin(srcHead).crossJoin(dstHead)
        .select($"n_cloned_markers", $"src_n", $"src_upds",
          $"dst_n", $"dst_upds", $"n_vacuumed")
        .localCheckpoint(true)
    }
  }

  val bucketedCloneSql: String =
    """SELECT CAST(7 AS BIGINT) AS n_cloned_markers,
      |  CAST(COUNT(*) AS BIGINT) AS src_n,
      |  CAST(COUNT(CASE WHEN n_regionkey = 0 THEN 1 END) AS BIGINT)
      |    AS src_upds,
      |  CAST(COUNT(*) AS BIGINT) AS dst_n,
      |  CAST(COUNT(CASE WHEN n_regionkey = 0 THEN 1 END)
      |    + 2 * COUNT(CASE WHEN n_regionkey = 1 THEN 1 END) AS BIGINT)
      |    AS dst_upds,
      |  CAST(0 AS BIGINT) AS n_vacuumed
      |FROM nation""".stripMargin

  /** u48: the z-order MAINTENANCE LOOP behind CALL (r17 — the verdict's
    * "operational loop half-exposed" gap): q85's `cluster()` /
    * `layoutFresh()` / `vacuumLayouts()` were API-only, so nothing
    * re-clustered when the layout went stale and every re-cluster
    * leaked a layout copy. Three verbs close the loop:
    * `CALL cluster_pot(store, 'name:expr;…')` publishes a layout,
    * `CALL ensure_clustered(store, dims)` is the idempotent operational
    * probe (fresh → no-op, stale/absent → re-cluster, lost CAS →
    * adopt), `CALL vacuum_layouts(store)` retires superseded layout
    * dirs. The query drives one full lifecycle on a fresh store: seed →
    * cluster → ensure (fresh, the no-op proof) → pruned range read →
    * divergent write (layout now stale; a stale read fails loudly by
    * q85's contract) → ensure (re-clusters) → pruned read sees the new
    * rows → vacuum retires exactly the superseded layout. Oracle:
    * nation aggregates + the lifecycle's deterministic flags.
    */
  def zorderMaintenance(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    s.conf.set("spark.sql.catalog.graft_fns",
      classOf[graft.sources.GraftFunctionCatalog].getName)
    Scratch.withDir("graft-u48") { dir =>
      val store = s"$dir/zstore"
      val t = graft.kv.BucketedPotTable(s, dir, "zstore", 4)
      val nat = Tables.nation(s, d)
      t.upsert(nat.select(
        concat(lit("n"), $"n_nationkey".cast("string")).as("key"),
        $"n_nationkey".cast("long").as("a"),
        pmod($"n_nationkey" * 37, lit(256)).cast("long").as("b")))
      val dims = "a:a;b:b"
      def call(sql: String): Seq[String] =
        s.sql(sql).collect().map(_.getString(0)).toSeq
      val clustered = call(
        s"CALL graft_fns.sys.cluster_pot('$store', '$dims')")
      val freshProbe = call(
        s"CALL graft_fns.sys.ensure_clustered('$store', '$dims')")
      val n1 = t.readClustered("a", 5, 12).count()
      // divergent write: five new keys land a in [100, 104] — the layout
      // is now STALE and ensure_clustered must rebuild it
      t.upsert(nat.filter($"n_nationkey" < 5).select(
        concat(lit("x"), $"n_nationkey".cast("string")).as("key"),
        ($"n_nationkey" + 100).cast("long").as("a"),
        pmod(($"n_nationkey" + 100) * 37, lit(256)).cast("long").as("b")))
      val reclustered = call(
        s"CALL graft_fns.sys.ensure_clustered('$store', '$dims')")
      val n2 = t.readClustered("a", 100, 104).count()
      val vacuumed = call(s"CALL graft_fns.sys.vacuum_layouts('$store')")
      Seq((
        if (clustered == Seq("layout_gen=1")) 1L else 0L,
        if (freshProbe == Seq("fresh")) 1L else 0L,
        n1,
        if (reclustered == Seq("layout_gen=2")) 1L else 0L,
        n2,
        vacuumed.length.toLong))
        .toDF("clustered_v1", "fresh_noop", "pruned_a5_12",
          "reclustered_v2", "pruned_new", "n_layouts_vacuumed")
        .localCheckpoint(true)
    }
  }

  val zorderMaintenanceSql: String =
    """SELECT CAST(1 AS BIGINT) AS clustered_v1,
      |  CAST(1 AS BIGINT) AS fresh_noop,
      |  CAST(COUNT(CASE WHEN n_nationkey BETWEEN 5 AND 12 THEN 1 END)
      |    AS BIGINT) AS pruned_a5_12,
      |  CAST(1 AS BIGINT) AS reclustered_v2,
      |  CAST(COUNT(CASE WHEN n_nationkey < 5 THEN 1 END) AS BIGINT)
      |    AS pruned_new,
      |  CAST(1 AS BIGINT) AS n_layouts_vacuumed
      |FROM nation""".stripMargin

  /** u50: manual chain COMPACTION behind CALL (r17 — with u48 this
    * closes the "maintenance verbs half-exposed" gap completely):
    * `CALL graft_fns.sys.compact_pot('<pot>')` folds a DELTA-HEADED
    * chain (streaming epochs since the last snapshot) into one full
    * snapshot at head+1 through the standard commit flow with an empty
    * change set — state identical by construction, and the `_pot_gen`
    * provenance column collapses from per-writer generations to the
    * fold generation (u32's documented OPTIMIZE semantics, here pinned
    * BY THE ORACLE: distinct provenance 3 → 1 across the CALL). The
    * query builds a 3-generation chain (snapshot + two hand-staged
    * delta epochs carrying LWW overwrites and a tombstone), reads the
    * pre-compact shape (head is a dgen; per-key provenance spans all
    * three generations), CALLs the verb, and proves state identity at
    * the new head AND through a generation-pinned read of the old one
    * (the chain survives — compaction adds, vacuum retires). A
    * bucketed-store root compacts every delta-headed bucket (clone_pot's
    * detection rule); already-compact pots emit nothing.
    */
  def compactPotVerb(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    s.conf.set("spark.sql.catalog.graft_fns",
      classOf[graft.sources.GraftFunctionCatalog].getName)
    Scratch.withDir("graft-u50") { dir =>
      val pot = s"$dir/t/data.json"
      val fmt = classOf[graft.sources.PotV2Source].getName
      val nat = Tables.nation(s, d)
        .select($"n_nationkey", $"n_name", $"n_regionkey").collect().toSeq
      def doc(name: String, upd: Int) = s"""{"name": "$name", "upd": $upd}"""
      // gen 1: full snapshot through the batch write
      nat.map(r => ("", s"n${r.getInt(0)}", doc(r.getString(1), 0)))
        .toDF("pot_file", "key", "doc_json")
        .write.format(fmt).option("path", pot).mode("overwrite").save()
      // gens 2-3: hand-staged DELTA epochs through the streaming commit
      // path (dgen artifacts — the chain shape compaction exists for)
      val fs = new org.apache.hadoop.fs.Path(pot)
        .getFileSystem(graft.kv.HadoopConf.get)
      def epoch(tag: String, lines: Seq[String]): Unit = {
        val staging = new org.apache.hadoop.fs.Path(s"$dir/t/.staging-$tag")
        fs.mkdirs(staging)
        val frag = new org.apache.hadoop.fs.Path(staging, "f.jsonl")
        val out = fs.create(frag, false)
        try out.write(lines.mkString("", "\n", "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        val w = new graft.sources.PotV2Write(pot,
          graft.sources.PotV2Source.Schema, tag, truncateFirst = false,
          graft.sources.PotV2Source.DefaultMaxObjectBytes)
        w.commitDeltaEpoch(
          Array(graft.sources.PotFragmentMessage(0, frag.toString)),
          tag, staging)
      }
      epoch("u50e1", nat.filter(_.getInt(2) == 0).map(r =>
        s"""{"k": "n${r.getInt(0)}", "d": ${doc(r.getString(1), 1)}}"""))
      epoch("u50e2", nat.filter(_.getInt(2) == 1).map(r =>
        s"""{"k": "n${r.getInt(0)}", "d": ${doc(r.getString(1), 2)}}""") :+
        """{"k": "n7", "d": null}""")
      val commits = new org.apache.hadoop.fs.Path(s"$dir/t/.commits")
      val gensBefore = graft.kv.CommitMarker.committedGenerations(fs, commits)
      val headDgenBefore = graft.sources.PotChain.isDgen(
        graft.sources.PotChain.artifactOf(fs, commits, gensBefore.max))
      def state(gen: Option[Long]) = {
        val r = s.read.format(fmt).option("path", pot)
        gen.foreach(g => r.option("generation", g.toString))
        r.load()
      }
      // MATERIALIZED before the CALL — a lazy frame would fold the
      // post-compact chain and read one provenance value instead of three
      val pgenBefore = state(None)
        .select(col(graft.sources.PotV2Source.PotGenCol).as("pg"))
        .agg(countDistinct($"pg").as("pgen_distinct_before"))
        .localCheckpoint(true)
      val folds = s.sql(s"CALL graft_fns.sys.compact_pot('$pot')")
        .collect().length
      def sums(df: org.apache.spark.sql.DataFrame) = df.agg(
        count(lit(1)).as("n"),
        sum(get_json_object($"doc_json", "$.upd").cast("long")).as("upd"))
      val after = sums(state(None))
        .select($"n".as("n_after"), $"upd".as("upd_after"))
      val v3 = sums(state(Some(3L)))
        .select($"n".as("n_v3"), $"upd".as("upd_v3"))
      val pgenAfter = state(None)
        .select(col(graft.sources.PotV2Source.PotGenCol).as("pg"))
        .agg(countDistinct($"pg").as("pgen_distinct_after"),
          max($"pg").as("pgen_head"))
      Seq((gensBefore.length.toLong,
        if (headDgenBefore) 1L else 0L, folds.toLong))
        .toDF("n_gens_before", "head_dgen_before", "n_folds")
        .crossJoin(pgenBefore).crossJoin(after).crossJoin(v3)
        .crossJoin(pgenAfter)
        .localCheckpoint(true)
    }
  }

  val compactPotVerbSql: String =
    """WITH st AS (
      |  SELECT n_nationkey AS k,
      |    CASE WHEN n_regionkey = 0 THEN 1
      |         WHEN n_regionkey = 1 THEN 2 ELSE 0 END AS upd
      |  FROM nation WHERE n_nationkey <> 7)
      |SELECT CAST(3 AS BIGINT) AS n_gens_before,
      |  CAST(1 AS BIGINT) AS head_dgen_before,
      |  CAST(1 AS BIGINT) AS n_folds,
      |  CAST(3 AS BIGINT) AS pgen_distinct_before,
      |  CAST(COUNT(*) AS BIGINT) AS n_after,
      |  CAST(SUM(upd) AS BIGINT) AS upd_after,
      |  CAST(COUNT(*) AS BIGINT) AS n_v3,
      |  CAST(SUM(upd) AS BIGINT) AS upd_v3,
      |  CAST(1 AS BIGINT) AS pgen_distinct_after,
      |  CAST(4 AS BIGINT) AS pgen_head
      |FROM st""".stripMargin

  /** u41: TABLESAMPLE pushdown on the pot scan
    * (`SupportsPushDownTableSample`) — `TABLESAMPLE (p PERCENT)`
    * reaches the reader as a KEY-HASH admission test evaluated during
    * the streaming parse, so a 10% sample of a 100 MB object
    * stringifies ~10% of the bodies instead of materializing
    * everything and dropping rows above the scan. The connector's
    * sampling is CONSISTENT (systematic): admitted keys are a pure
    * function of the keys (md5 fold mod 10000 under p·100),
    * independent of Spark's seed — re-runs, re-partitions, and two
    * replicas of the same pot sample the SAME keys, which is what a
    * cross-store audit sample needs and what makes a pushed sample
    * hash-comparable at all (stated in the scan description; seeded
    * Bernoulli shapes decline to Spark's post-scan Sample).
    * PotJsonSpec pins the pushed plan, the declined plan, and
    * run-to-run consistency. Stats scale by the admitted fraction, so
    * the planner sees the sampled cardinality.
    */
  def sqlTableSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Scratch.withDir("graft-u41") { dir =>
      val pot = s"$dir/t/data.json"
      val fmt = classOf[graft.sources.PotV2Source].getName
      val tbl = "graft_u41_pot"
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      s.sql(s"CREATE TABLE $tbl (pot_file STRING, key STRING, " +
        s"doc_json STRING) USING $fmt OPTIONS (path '$pot')")
      Tables.nation(s, d).select(
        lit("").as("pot_file"),
        concat(lit("n"), $"n_nationkey".cast("string")).as("key"),
        to_json(struct($"n_name".as("name"))).as("doc_json"))
        .write.format(fmt).option("path", pot).mode("overwrite").save()
      val out = s.sql(
        s"""SELECT key, get_json_object(doc_json, '$$.name') AS name
           |FROM $tbl TABLESAMPLE (40 PERCENT)
           |ORDER BY key""".stripMargin).localCheckpoint(true)
      s.sql(s"DROP TABLE $tbl")
      out
    }
  }

  val sqlTableSampleSql: String =
    """WITH k AS (
      |  SELECT 'n' || CAST(n_nationkey AS VARCHAR) AS key,
      |    n_name AS name
      |  FROM nation)
      |SELECT key, name FROM k
      |WHERE list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(range(1, 13),
      |      i -> CAST(strpos('0123456789abcdef',
      |             substr(md5(key), i, 1)) - 1 AS BIGINT))),
      |    (acc, v) -> acc * 16 + v) % 10000 < 4000
      |ORDER BY key""".stripMargin

  /** u45: DOCUMENT-FIELD predicate pushdown on the pot scan (r17) — the
    * scan win a key→document store's users hit first: documents are the
    * entire value model (reference `server.go:315-331` stores opaque
    * JSON documents), so the predicates that matter are on fields
    * INSIDE `doc_json`. `.option("shred", "field:type,…")` projects
    * named top-level fields as real nullable columns (u35's VARIANT
    * shredding surfaced where Catalyst can push), so an ordinary
    * `WHERE seg = 'BUILDING' AND nat >= 10` reaches `pushFilters` as
    * plain column predicates, evaluated during the streaming Jackson
    * parse BEFORE document stringification — losers die as parse
    * tokens (counted in the `docSkippedEntries` scan metric), and with
    * `doc_json` dropped from the projection NO body is ever
    * stringified. PotJsonSpec pins the pushed plan (residual-free), the
    * metric, NULL semantics for missing/mistyped fields, and equality
    * with the post-scan-filter form.
    */
  def docFieldPushdown(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Scratch.withDir("graft-u45") { dir =>
      val pot = s"$dir/t/data.json"
      val fmt = classOf[graft.sources.PotV2Source].getName
      Tables.customer(s, d).select(
        lit("").as("pot_file"),
        concat(lit("c"), $"c_custkey".cast("string")).as("key"),
        to_json(struct($"c_mktsegment".as("seg"),
          $"c_nationkey".cast("long").as("nat"))).as("doc_json"))
        .write.format(fmt).option("path", pot).mode("overwrite").save()
      s.read.format(fmt).option("path", pot)
        .option("shred", "seg:string,nat:bigint").load()
        .filter($"seg" === "BUILDING" && $"nat" >= 10)
        .select($"key", $"nat")
        .orderBy($"key")
        .localCheckpoint(true)
    }
  }

  val docFieldPushdownSql: String =
    """SELECT 'c' || CAST(c_custkey AS VARCHAR) AS key,
      |  CAST(c_nationkey AS BIGINT) AS nat
      |FROM customer
      |WHERE c_mktsegment = 'BUILDING' AND c_nationkey >= 10
      |ORDER BY key""".stripMargin

  /** u39: `Dataset.observe` — ZERO-EXTRA-PASS pipeline telemetry (the
    * `Observation` API over `CollectMetrics`): named aggregates ride
    * the SAME execution that produces the pipeline's real output (here
    * a noop sink standing in for the production parquet write), so
    * row counts / quality tallies / checksums cost nothing beyond the
    * pass the job already pays — at 100 TB the alternative is a second
    * full scan per audit metric. The emitted row IS the observed
    * metric set (exact integers), and the oracle recomputes the same
    * aggregates relationally — pinning that observe-during-write
    * equals aggregate-after-write. This is the mechanism every
    * `queries()` pipeline would use for production run-ledgers
    * (d22's release manifest records counts; observe is how they're
    * gathered for free).
    */
  def observeMetrics(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val obs = org.apache.spark.sql.Observation(
      "graft_u39_" + java.util.UUID.randomUUID().toString.replace("-", ""))
    Tables.lineitem(s, d)
      .select($"l_returnflag", $"l_quantity",
        ($"l_extendedprice".cast(org.apache.spark.sql.types.DecimalType(38, 2))
          * 100).cast("long").as("cents"))
      .observe(obs,
        count(lit(1)).as("n_rows"),
        sum($"cents").as("cents_total"),
        count(when($"l_quantity" > 45, 1)).as("n_heavy"),
        min($"cents").as("cents_min"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    Seq((m("n_rows").asInstanceOf[Long], m("cents_total").asInstanceOf[Long],
      m("n_heavy").asInstanceOf[Long], m("cents_min").asInstanceOf[Long]))
      .toDF("n_rows", "cents_total", "n_heavy", "cents_min")
  }

  val observeMetricsSql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(38,2)) * 100
      |    AS BIGINT)) AS BIGINT) AS cents_total,
      |  CAST(COUNT(CASE WHEN l_quantity > 45 THEN 1 END) AS BIGINT)
      |    AS n_heavy,
      |  CAST(MIN(CAST(CAST(l_extendedprice AS DECIMAL(38,2)) * 100
      |    AS BIGINT)) AS BIGINT) AS cents_min
      |FROM lineitem""".stripMargin

  /** u38: AQE SKEW-JOIN SPLIT — the RUNTIME half of the skew story
    * (u6/Scale.saltedJoin is the plan-time half, for shapes AQE can't
    * re-plan): a 90%-hot join key melts one reducer in a static plan;
    * AQE observes the actual shuffle-partition sizes at the stage
    * boundary and SPLITS the skewed partition across tasks, replicating
    * the matching build rows — no salting column, no query rewrite. The
    * query manufactures the skew (CASE-collapsed lineitem partkey) on an
    * isolated `newSession` with fixture-scale skew thresholds
    * (production keeps the 256 MB default — the POINT is thresholds are
    * bytes of real data, so the same query self-heals at 100 TB where it
    * matters); GraftExtensionsSpec pins `skew=true` in the FINAL
    * adaptive plan and its absence in the static plan. Result = a plain
    * join aggregate the oracle replays; AQE must never change answers.
    */
  def aqeSkewJoin(s: SparkSession, d: String): DataFrame = {
    val ss = s.newSession()
    ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    ss.conf.set("spark.sql.adaptive.enabled", "true")
    ss.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    ss.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
    ss.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32k")
    ss.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k")
    aqeSkewPlan(ss, d)
  }

  /** The skewed join both u38 and its plan-pin spec build: 90% of
    * lineitem rows collapse onto partkey 1, joined to part, aggregated
    * by brand. */
  private[graft] def aqeSkewPlan(ss: SparkSession, d: String): DataFrame = {
    import ss.implicits._
    // skew split regroups MAP-side blocks, so a reduce partition is only
    // divisible into as many chunks as there are map tasks — the fixture
    // parquet is one split, production facts are thousands; repartition
    // stands in for that map-task fan-out
    val l = Tables.lineitem(ss, d).repartition(8).select(
      when($"l_partkey" % 10 =!= 0, lit(1L)).otherwise($"l_partkey")
        .as("k"),
      ($"l_extendedprice".cast(org.apache.spark.sql.types.DecimalType(38, 2))
        * 100).cast("long").as("cents"))
    val p = Tables.part(ss, d).select($"p_partkey".as("k"), $"p_brand")
    l.join(p, "k")
      .groupBy($"p_brand")
      .agg(count(lit(1)).as("n"), sum($"cents").as("cents_sum"))
      .orderBy($"p_brand")
  }

  val aqeSkewJoinSql: String =
    """WITH l AS (
      |  SELECT CASE WHEN l_partkey % 10 != 0 THEN 1
      |              ELSE l_partkey END AS k,
      |    CAST(CAST(l_extendedprice AS DECIMAL(38,2)) * 100 AS BIGINT)
      |      AS cents
      |  FROM lineitem)
      |SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(cents) AS BIGINT) AS cents_sum
      |FROM l JOIN part ON l.k = p_partkey
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  /** u37: SQL PIPE SYNTAX (Spark 4, SPARK-49555 — the `FROM t |> op`
    * composable dialect from Google's "SQL Has Problems" pipe-SQL
    * paper): each `|>` stage consumes the previous relation, so query
    * logic reads top-to-bottom like the DataFrame API while remaining
    * pure SQL. The query chains six pipe operators — WHERE (pre-agg),
    * EXTEND (computed cents column), AGGREGATE … GROUP BY, WHERE
    * (post-agg HAVING), SELECT projection reorder, ORDER BY — over
    * lineitem. The ANALYZED plan is identical to the classic form (the
    * parser desugars stages; nothing new executes), which is exactly
    * the point: syntax surface, zero planner risk — the oracle IS the
    * classic form.
    */
  def sqlPipeSyntax(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("graft_u37_lineitem")
    val out = s.sql(
      """FROM graft_u37_lineitem
        ||> WHERE l_quantity <= 25
        ||> EXTEND CAST(CAST(l_extendedprice AS DECIMAL(38,2)) * 100
        |     AS BIGINT) AS cents
        ||> AGGREGATE COUNT(*) AS n, SUM(cents) AS cents_sum
        |     GROUP BY l_returnflag, l_linestatus
        ||> WHERE n > 10
        ||> SELECT l_returnflag, l_linestatus, n, cents_sum
        ||> ORDER BY l_returnflag, l_linestatus""".stripMargin)
      .localCheckpoint(true)
    s.catalog.dropTempView("graft_u37_lineitem")
    out
  }

  val sqlPipeSyntaxSql: String =
    """SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(38,2)) * 100
      |    AS BIGINT)) AS BIGINT) AS cents_sum
      |FROM lineitem
      |WHERE l_quantity <= 25
      |GROUP BY l_returnflag, l_linestatus
      |HAVING COUNT(*) > 10
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** u36: DSv2 STORED PROCEDURES (`CALL`, SPARK-44167) — the store's
    * maintenance verbs catalog-addressable from pure SQL, completing the
    * catalog matrix u30/u31 opened (functions = compute, procedures =
    * lifecycle): `CALL graft_fns.sys.vacuum_pot('<pot>')` runs chain
    * retention (snapshot bodies below the covering snapshot, CAS-fenced,
    * live-writer-safe — vacuumSnapshots' exact semantics) and returns
    * one row per deleted body; `CALL ...recover_statements('<root>')`
    * rolls crashed multi-bucket statements forward (the r16
    * auto-recovery's manual trigger) returning recovered qids. The
    * query: a 2-generation pot (both batch snapshots) vacuums exactly
    * its pre-covering body, state unharmed; a clean bucketed store
    * recovers zero statements. Reference: pot's admin endpoints share
    * server.go's route table with its reads — procedures are that
    * addressable-admin surface in SQL, runnable from a gateway with no
    * JVM access to graft's API. Scale: maintenance verbs return
    * paths/qids (driver-sized by contract), never data.
    */
  def sqlStoredProcedure(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    s.conf.set("spark.sql.catalog.graft_fns",
      classOf[graft.sources.GraftFunctionCatalog].getName)
    Scratch.withDir("graft-u36") { dir =>
      val pot = s"$dir/t/data.json"
      val fmt = classOf[graft.sources.PotV2Source].getName
      val nat = Tables.nation(s, d)
      def docs(df: org.apache.spark.sql.DataFrame, upd: Int) = df.select(
        lit("").as("pot_file"),
        concat(lit("n"), $"n_nationkey".cast("string")).as("key"),
        to_json(struct($"n_name".as("name"), lit(upd).as("upd")))
          .as("doc_json"))
      docs(nat, 0)
        .write.format(fmt).option("path", pot).mode("overwrite").save()
      docs(nat.filter($"n_regionkey" === 0), 1)
        .write.format(fmt).option("path", pot).mode("append").save()
      // the CALL: gen 1's snapshot body is below the covering snapshot
      // (gen 2) — exactly one body reclaimed, chain + state intact
      val deleted = s.sql(s"CALL graft_fns.sys.vacuum_pot('$pot')")
        .agg(count(lit(1)).as("n_deleted"),
          sum(when($"deleted_path".rlike("\\.snap-.*\\.json$"), 1L)
            .otherwise(0L)).as("n_snap_bodies"))
      val recovered = s.sql(
        s"CALL graft_fns.sys.recover_statements('$dir/clean-store')")
        .agg(count(lit(1)).as("n_recovered"))
      val after = s.read.format(fmt).option("path", pot).load()
        .agg(count(lit(1)).as("n_rows_after"),
          sum(when(get_json_object($"doc_json", "$.upd") === "1", 1L)
            .otherwise(0L)).as("n_upd"))
      deleted.crossJoin(recovered).crossJoin(after)
        .select($"n_deleted", $"n_snap_bodies", $"n_recovered",
          $"n_rows_after", $"n_upd")
        .localCheckpoint(true)
    }
  }

  val sqlStoredProcedureSql: String =
    """SELECT CAST(1 AS BIGINT) AS n_deleted,
      |  CAST(1 AS BIGINT) AS n_snap_bodies,
      |  CAST(0 AS BIGINT) AS n_recovered,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows_after,
      |  CAST(COUNT(CASE WHEN n_regionkey = 0 THEN 1 END) AS BIGINT)
      |    AS n_upd
      |FROM nation""".stripMargin

  /** u35: the VARIANT type (Spark 4 / the open Parquet Variant binary
    * encoding) — semi-structured JSON decoded ONCE into a typed binary
    * value instead of re-parsed per probe. `parse_json` builds the
    * variant, `variant_get` navigates paths with a target type,
    * `try_variant_get` turns absent paths/type mismatches into NULL
    * (probed here on a path the fixture never carries — the
    * all-rows-miss proof), `schema_of_variant` reports the inferred
    * shape the shredder would use. The query re-encodes each event's
    * `props` (fixture contract: exactly {"k": <int>} — q51's pin) into
    * a NESTED document {"p": props, "u": user_id} and navigates both
    * levels, grouped per event_type with integer-exact functionals.
    * At 100 TB the point is parse-once + shredding: a string-JSON
    * pipeline re-tokenizes every probe, the variant path decodes at
    * ingest and every probe is a typed offset read.
    */
  def variantJson(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d).createOrReplaceTempView("graft_u35_events")
    val out = s.sql(
      """WITH v AS (
        |  SELECT event_type,
        |    parse_json(concat('{"p":', props, ',"u":', CAST(user_id AS STRING), '}')) AS doc
        |  FROM graft_u35_events)
        |SELECT event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(variant_get(doc, '$.p.k', 'bigint')) AS BIGINT) AS sum_k,
        |  CAST(SUM(variant_get(doc, '$.u', 'bigint')) AS BIGINT) AS sum_u,
        |  CAST(COUNT(try_variant_get(doc, '$.p.missing', 'bigint'))
        |    AS BIGINT) AS n_missing_hits,
        |  MIN(schema_of_variant(doc)) AS vschema
        |FROM v
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin).localCheckpoint(true)
    s.catalog.dropTempView("graft_u35_events")
    out
  }

  val variantJsonSql: String =
    """SELECT event_type,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
      |    AS sum_k,
      |  CAST(SUM(user_id) AS BIGINT) AS sum_u,
      |  CAST(0 AS BIGINT) AS n_missing_hits,
      |  'OBJECT<p: OBJECT<k: BIGINT>, u: BIGINT>' AS vschema
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** u31: the AGGREGATE half of the u30 catalog surface —
    * `graft_fns.ops.vsum(...)`, a V2 `AggregateFunction` resolved from
    * the same config-wired catalog and planned as Spark's `V2Aggregator`
    * (partial update per partition, associative merge at the exchange —
    * the 1000-executor centroid shape, exercised for real: GROUP BY
    * label over every input partition). Per-label integer centroid sums
    * over the KMeans-quantized corpus, emitted as scalar functionals of
    * the summed vector (first/last component + total checksum) so the
    * driver hash covers the array content without comparing raw arrays.
    * Oracle replays the element-wise sums relationally (UNNEST + two
    * filtered sums). GraftExtensionsSpec pins state-merge correctness
    * across forced repartitions and the analysis-time bad-type failure.
    */
  def sqlCatalogAgg(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft_fns",
      classOf[graft.sources.GraftFunctionCatalog].getName)
    Tables.embeddings(s, d).createOrReplaceTempView("g_embeddings")
    val sql =
      """WITH qv AS (
        |  SELECT vec_id, label,
        |    transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) * __SCALE__.0) AS BIGINT)) AS q
        |  FROM g_embeddings),
        |cent AS (
        |  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
        |    graft_fns.ops.vsum(q) AS vs
        |  FROM qv GROUP BY label)
        |SELECT label, n_vecs,
        |  element_at(vs, 1) AS c_first,
        |  element_at(vs, 64) AS c_last,
        |  aggregate(vs, CAST(0 AS BIGINT), (acc, x) -> acc + x) AS checksum
        |FROM cent
        |ORDER BY label""".stripMargin
        .replace("__SCALE__", KMeans.QScale.toString)
    s.sql(sql)
  }

  val sqlCatalogAggSql: String =
    """WITH qv AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding,
      |      x -> CAST(floor(CAST(x AS DOUBLE) * __SCALE__.0) AS BIGINT)) AS q
      |  FROM embeddings),
      |ex AS (
      |  SELECT label, i, q[i] AS v
      |  FROM qv, UNNEST(range(1, len(q) + 1)) AS t(i))
      |SELECT e.label,
      |  CAST(COUNT(*) FILTER (WHERE i = 1) AS BIGINT) AS n_vecs,
      |  CAST(SUM(v) FILTER (WHERE i = 1) AS BIGINT) AS c_first,
      |  CAST(SUM(v) FILTER (WHERE i = 64) AS BIGINT) AS c_last,
      |  CAST(SUM(v) AS BIGINT) AS checksum
      |FROM ex e
      |GROUP BY e.label
      |ORDER BY e.label""".stripMargin
      .replace("__SCALE__", KMeans.QScale.toString)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "u31_sql_catalog_agg" -> (sqlCatalogAgg _),
    "u32_pot_gen_metadata_col" -> (potGenMetadataCol _),
    "u33_bloom_runtime_join" -> (bloomRuntimeJoin _),
    "u34_sql_udf_inline" -> (sqlUdfInline _),
    "u35_variant_json" -> (variantJson _),
    "u36_sql_stored_procedure" -> (sqlStoredProcedure _),
    "u37_sql_pipe_syntax" -> (sqlPipeSyntax _),
    "u38_aqe_skew_join" -> (aqeSkewJoin _),
    "u39_observe_metrics" -> (observeMetrics _),
    "u40_window_topk_rewrite" -> (windowTopKRewrite _),
    "u41_sql_table_sample" -> (sqlTableSample _),
    "u42_shallow_clone" -> (sqlShallowClone _),
    "u43_bucketed_sample" -> (sqlBucketedSample _),
    "u44_rank_topk_rewrite" -> (rankTopKRewrite _),
    "u45_doc_field_pushdown" -> (docFieldPushdown _),
    "u46_timestamp_as_of" -> (timestampAsOfRead _),
    "u47_bucketed_clone" -> (bucketedClone _),
    "u48_zorder_maintenance" -> (zorderMaintenance _),
    "u49_agg_minmax_pushdown" -> (aggMinMaxPushdown _),
    "u50_compact_pot" -> (compactPotVerb _),
    "u51_storage_partitioned_join" -> (storagePartitionedJoin _),
    "u52_chain_inventory" -> (chainInventory _),
    "u53_list_pagination" -> (listPagination _),
    "u54_bucketed_key_spj" -> (bucketedKeySpj _),
    "u55_bucketed_as_of" -> (bucketedTimestampAsOf _),
    "u56_agg_shred_pushdown" -> (aggShredPushdown _),
    "u57_zone_map_pruning" -> (zoneMapPruning _),
    "u58_vacuum_retention" -> (vacuumRetention _),
    "u59_stmt_history" -> (stmtHistory _),
    "u60_catalog_sql_dml" -> (catalogSqlDml _),
    "u61_zone_map_inventory" -> (zoneMapInventory _),
    "u62_stmt_checkpoint" -> (stmtCheckpoint _),
    "u63_catalog_time_travel" -> (catalogTimeTravel _),
    "u64_bucketed_zmap_prune" -> (bucketedZmapPrune _),
    "u65_shred_zmap_prune" -> (shredZmapPrune _),
    "u66_catalog_shred" -> (catalogShred _),
    "u67_topn_object_skip" -> (topnObjectSkip _),
    "u68_stats_only_agg" -> (statsOnlyAgg _),
    "u69_delta_chain_zmap" -> (deltaChainZmapPrune _),
    "u70_ensure_stats" -> (ensureStatsCall _),
    "u71_field_stats_tvf" -> (fieldStatsInventory _),
    "u72_runtime_key_prune" -> (runtimeKeyPrune _),
    "u73_check_pot" -> (checkPotCall _),
    "u30_sql_function_catalog" -> (sqlFunctionCatalog _),
    "u29_sql_zorder_read" -> (sqlZorderRead _),
    "u28_sql_topn_pushdown" -> (sqlTopNPushdown _),
    "u27_stats_broadcast" -> (statsBroadcastJoin _),
    "u26_sql_bucketed_changes" -> (sqlBucketedChanges _),
    "u25_sql_bucketed_tt" -> (sqlBucketedTimeTravel _),
    "u24_sql_pot_history" -> (sqlPotHistory _),
    "u23_sql_changes_vector" -> (sqlPotChangesVector _),
    "u22_sql_bucketed_write" -> (sqlBucketedWrite _),
    "u21_sql_bucketed_pot" -> (sqlBucketedPot _),
    "u20_sql_pot_changes" -> (sqlPotChanges _),
    "u19_sql_merge_pot" -> (sqlMergePot _),
    "u18_sql_delete_pot" -> (sqlDeletePot _),
    "u17_sql_tvf_time_travel" -> (sqlTvfTimeTravel _),
    "u16_pot_time_travel" -> (potTimeTravel _),
    "u15_sql_insert_pot" -> (sqlInsertPot _),
    "u14_dsv2_pot_write" -> (dsv2PotWrite _),
    "u13_sql_tvf" -> (sqlTvf _),
    "u12_dsv2_agg_pushdown" -> (dsv2AggPushdown _),
    "u11_rule_dot_rewrite" -> (hofDotRewrite _),
    "u10_dsv2_pot_read" -> (dsv2PotRead _),
    "u9_native_hll_agg" -> (nativeHllAgg _),
    "u7_sql_native_dot" -> (sqlNativeDot _),
    "u8_sql_maxsim"     -> (sqlMaxSim _),
    "u6_salted_join"    -> (saltedJoinAgg _),
    "u1_udf_keyderiv"   -> (udfKeyDerivation _),
    "u2_typed_agg_wavg" -> (typedAggWeightedAvg _),
    "u3_vector_centroid" -> (vectorCentroid _),
    "u4_join_mergehint" -> (mergeHintJoin _),
    "u5_typed_dataset"  -> (typedDataset _))

  val oracle: Map[String, String] = Map(
    "u31_sql_catalog_agg" -> sqlCatalogAggSql,
    "u32_pot_gen_metadata_col" -> potGenMetadataColSql,
    "u33_bloom_runtime_join" -> bloomRuntimeJoinSql,
    "u34_sql_udf_inline" -> sqlUdfInlineSql,
    "u35_variant_json" -> variantJsonSql,
    "u36_sql_stored_procedure" -> sqlStoredProcedureSql,
    "u37_sql_pipe_syntax" -> sqlPipeSyntaxSql,
    "u38_aqe_skew_join" -> aqeSkewJoinSql,
    "u39_observe_metrics" -> observeMetricsSql,
    "u40_window_topk_rewrite" -> windowTopKRewriteSql,
    "u41_sql_table_sample" -> sqlTableSampleSql,
    "u42_shallow_clone" -> sqlShallowCloneSql,
    "u43_bucketed_sample" -> sqlBucketedSampleSql,
    "u44_rank_topk_rewrite" -> rankTopKRewriteSql,
    "u45_doc_field_pushdown" -> docFieldPushdownSql,
    "u46_timestamp_as_of" -> timestampAsOfReadSql,
    "u47_bucketed_clone" -> bucketedCloneSql,
    "u48_zorder_maintenance" -> zorderMaintenanceSql,
    "u49_agg_minmax_pushdown" -> aggMinMaxPushdownSql,
    "u50_compact_pot" -> compactPotVerbSql,
    "u51_storage_partitioned_join" -> storagePartitionedJoinSql,
    "u52_chain_inventory" -> chainInventorySql,
    "u53_list_pagination" -> listPaginationSql,
    "u54_bucketed_key_spj" -> bucketedKeySpjSql,
    "u55_bucketed_as_of" -> bucketedTimestampAsOfSql,
    "u56_agg_shred_pushdown" -> aggShredPushdownSql,
    "u57_zone_map_pruning" -> zoneMapPruningSql,
    "u58_vacuum_retention" -> vacuumRetentionSql,
    "u59_stmt_history" -> stmtHistorySql,
    "u60_catalog_sql_dml" -> catalogSqlDmlSql,
    "u61_zone_map_inventory" -> zoneMapInventorySql,
    "u62_stmt_checkpoint" -> stmtCheckpointSql,
    "u63_catalog_time_travel" -> catalogTimeTravelSql,
    "u64_bucketed_zmap_prune" -> bucketedZmapPruneSql,
    "u65_shred_zmap_prune" -> shredZmapPruneSql,
    "u66_catalog_shred" -> catalogShredSql,
    "u67_topn_object_skip" -> topnObjectSkipSql,
    "u68_stats_only_agg" -> statsOnlyAggSql,
    "u69_delta_chain_zmap" -> deltaChainZmapPruneSql,
    "u70_ensure_stats" -> ensureStatsCallSql,
    "u71_field_stats_tvf" -> fieldStatsInventorySql,
    "u72_runtime_key_prune" -> runtimeKeyPruneSql,
    "u73_check_pot" -> checkPotCallSql,
    "u30_sql_function_catalog" -> sqlFunctionCatalogSql,
    "u29_sql_zorder_read" -> sqlZorderReadSql,
    "u28_sql_topn_pushdown" -> sqlTopNPushdownSql,
    "u27_stats_broadcast" -> statsBroadcastJoinSql,
    "u26_sql_bucketed_changes" -> sqlBucketedChangesSql,
    "u25_sql_bucketed_tt" -> sqlBucketedTimeTravelSql,
    "u24_sql_pot_history" -> sqlPotHistorySql,
    "u23_sql_changes_vector" -> sqlPotChangesVectorSql,
    "u22_sql_bucketed_write" -> sqlBucketedWriteSql,
    "u21_sql_bucketed_pot" -> sqlBucketedPotSql,
    "u20_sql_pot_changes" -> sqlPotChangesSql,
    "u19_sql_merge_pot" -> sqlMergePotSql,
    "u18_sql_delete_pot" -> sqlDeletePotSql,
    "u17_sql_tvf_time_travel" -> sqlTvfTimeTravelSql,
    "u16_pot_time_travel" -> potTimeTravelSql,
    "u15_sql_insert_pot" -> sqlInsertPotSql,
    "u14_dsv2_pot_write" -> dsv2PotWriteSql,
    "u13_sql_tvf" -> sqlTvfSql,
    "u12_dsv2_agg_pushdown" -> dsv2AggPushdownSql,
    "u11_rule_dot_rewrite" -> hofDotRewriteSql,
    "u10_dsv2_pot_read" -> dsv2PotReadSql,
    "u9_native_hll_agg" -> nativeHllAggSql,
    "u7_sql_native_dot" -> sqlNativeDotSql,
    "u8_sql_maxsim"     -> sqlMaxSimSql,
    "u6_salted_join"    -> saltedJoinAggSql,
    "u1_udf_keyderiv"   -> udfKeyDerivationSql,
    "u2_typed_agg_wavg" -> typedAggWeightedAvgSql,
    "u3_vector_centroid" -> vectorCentroidSql,
    "u4_join_mergehint" -> mergeHintJoinSql,
    "u5_typed_dataset"  -> typedDatasetSql)
}
