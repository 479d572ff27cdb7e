package graft.operators

import graft.{Scratch, Tables}
import graft.kv.PotTable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pot-parity operations as oracle-checkable dataflow (SURVEY.md §2-A
  * A1-A7). The stateful commit protocol lives in [[graft.kv.PotTable]] (tested
  * in KvSpec); these entries express each operation's data semantics over the
  * read-only fixtures so the driver's DuckDB oracle can replay them.
  */
object Kv {

  /** A2/A3 upsert: last-writer-wins union-by-key (server.go:385-393). New
    * docs = every 10th customer with a bumped balance; merged map = new wins,
    * others unchanged. The window-dedup form shuffles once by key and is the
    * scalable MERGE shape (vs. pot's whole-object rewrite).
    */
  def upsertMerge(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = Tables.customer(s, d)
    val updates = base.filter($"c_custkey" % 10 === 0)
      .withColumn("c_acctbal", $"c_acctbal" + 1000.0)
      .withColumn("c_mktsegment", lit("UPDATED"))
    val w = Window.partitionBy($"c_custkey").orderBy($"_src".desc)
    updates.withColumn("_src", lit(1))
      .unionByName(base.withColumn("_src", lit(0)))
      .withColumn("_rn", row_number().over(w))
      .filter($"_rn" === 1)
      .drop("_rn", "_src")
      .orderBy($"c_custkey")
  }

  val upsertMergeSql: String =
    """WITH updates AS (
      |  SELECT c_custkey, c_name, c_nationkey, c_acctbal + 1000.0 AS c_acctbal,
      |         'UPDATED' AS c_mktsegment
      |  FROM customer WHERE c_custkey % 10 = 0)
      |SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM updates
      |UNION ALL
      |SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer
      |WHERE c_custkey NOT IN (SELECT c_custkey FROM updates)
      |ORDER BY c_custkey""".stripMargin

  /** A5 remove: multi-key delete as left-anti join (server.go:536-538);
    * absent keys are a no-op by construction.
    */
  def deleteAnti(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = Tables.customer(s, d)
    val delKeys = base.filter($"c_custkey" % 7 === 0)
      .select($"c_custkey".as("key"))
    base.join(delKeys, base("c_custkey") === delKeys("key"), "left_anti")
      .select($"c_custkey", $"c_name", $"c_acctbal")
      .orderBy($"c_custkey")
  }

  val deleteAntiSql: String =
    """SELECT c_custkey, c_name, c_acctbal
      |FROM customer
      |WHERE c_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_custkey % 7 = 0)
      |ORDER BY c_custkey""".stripMargin

  /** A2 key derivation applied to a document batch: key = `id` overriding
    * `name` (server.go:347-354 — id wins when both present). Two
    * DELIBERATE parity deviations, documented in SURVEY 7.4 and asserted
    * in KvSpec: the reference PANICS on a non-string `id`/`name` (the bare
    * `.(string)` assertions, server.go:349-353) — here any type casts to
    * its string form; and the reference keeps a doc with neither field
    * under key `""` — here such docs are dropped (an empty key cannot
    * address the row back).
    */
  def deriveKeys(df: DataFrame): DataFrame = {
    val cols = df.columns.toSet
    def strCol(c: String) =
      if (cols(c)) col(c).cast("string") else lit(null).cast("string")
    df.withColumn("key", coalesce(strCol("id"), strCol("name")))
      // empty-string keys are as unaddressable as missing ones (the
      // reference would file id="" under key "" just like the
      // neither-field case) — both fall under the documented drop
      .filter(col("key").isNotNull && col("key") =!= "")
  }

  /** A2 key derivation as a declared query: [[deriveKeys]] over synthesized
    * id/name columns — every 3rd part has no id -> falls back to name.
    */
  def keyDerivation(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.part(s, d)
      .withColumn("id",
        when($"p_partkey" % 3 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("id-"), $"p_partkey")))
      .withColumn("name", $"p_name")
    deriveKeys(docs)
      .select(
        $"p_partkey",
        $"key",
        ($"id".isNotNull).as("from_id"))
      .orderBy($"p_partkey")
  }

  val keyDerivationSql: String =
    """SELECT p_partkey,
      | COALESCE(CASE WHEN p_partkey % 3 = 0 THEN NULL
      |               ELSE 'id-' || CAST(p_partkey AS VARCHAR) END,
      |          p_name) AS key,
      | (CASE WHEN p_partkey % 3 = 0 THEN NULL
      |       ELSE 'id-' || CAST(p_partkey AS VARCHAR) END) IS NOT NULL AS from_id
      |FROM part
      |ORDER BY p_partkey""".stripMargin

  /** A4 no-rewrite conflict set: incoming keys semi-joined against existing
    * docs whose lease is still live at a fixed evaluation time
    * (server.go:365-393: `lastModification + dur < now` permits rewrite).
    * o_orderdate plays `_modified`; lease = 90 days; "now" = 2001-01-01.
    */
  def conflictDetect(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val existing = Tables.orders(s, d)
    val incoming = existing.filter($"o_orderkey" % 100 === 0)
      .select($"o_orderkey".as("key"))
    existing
      .join(incoming, existing("o_orderkey") === incoming("key"), "left_semi")
      .filter($"o_orderdate" + expr("INTERVAL 90 DAYS") >
        lit("2001-01-01").cast("timestamp"))
      .select($"o_orderkey", $"o_orderdate")
      .orderBy($"o_orderkey")
  }

  val conflictDetectSql: String =
    """SELECT o_orderkey, o_orderdate
      |FROM orders
      |WHERE o_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderkey % 100 = 0)
      |  AND o_orderdate + INTERVAL 90 DAY > TIMESTAMP '2001-01-01 00:00:00'
      |ORDER BY o_orderkey""".stripMargin

  /** A6 ListPaths: catalog listing of the warehouse root — names of parquet
    * tables, internal files excluded (server.go:425-466 lists the data.json
    * objects under a prefix and drops `.potlock`s).
    */
  def listTables(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rootPath = new Path(d)
    val fs = rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    val names = fs.listStatus(rootPath)
      .map(_.getPath.getName)
      .filter(_.endsWith(".parquet"))
      .filterNot(_.startsWith("."))
      .map(_.stripSuffix(".parquet"))
      .sorted.toSeq
    names.toDF("path")
  }

  val listTablesSql: String =
    """SELECT path FROM (VALUES ('customer'),('documents'),('embeddings'),
      | ('events'),('lineitem'),('nation'),('orders'),('part'),('region'),
      | ('supplier')) AS t(path)
      |ORDER BY path""".stripMargin

  /** A7 snapshot: exercise the real PotTable layer end-to-end (build a pot
    * from `nation`, upsert, snapshot, report manifest). Side-effecting ->
    * rows-only check (no oracle), like the driver contract's escape hatch.
    */
  def snapshotOp(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Scratch.withDir("graft-pot") { root =>
      val pot = PotTable(s, root, "nation_pot")
      val docs = Tables.nation(s, d)
        .select($"n_nationkey".cast("string").as("key"), $"n_name", $"n_regionkey")
      pot.upsert(docs)
      pot.snapshot(s"$root/_export")
    }
  }

  /** kv11: A7 ROUND-TRIP — snapshot/bundle then restore into a fresh
    * warehouse, upgrading the snapshot surface from kv6's rows-only check
    * to an oracle-verified equality: build a pot from `nation`, mutate it
    * (so restore provably carries the LATEST generation, not the first),
    * `snapshotAll` + `bundle`, `PotTable.restore` the tar.gz into a new
    * root, and emit the RESTORED table's content — which must equal the
    * mutated source relation the oracle recomputes from the fixture. The
    * restored pot reads through the normal commit protocol (generation 1),
    * proving the archive carries everything a cold warehouse needs.
    */
  def snapshotRestore(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Scratch.withDir("graft-pot-sr") { root =>
      val pot = PotTable(s, root, "nation_pot")
      val docs = Tables.nation(s, d)
        .select($"n_nationkey".cast("string").as("key"), $"n_name", $"n_regionkey")
      pot.upsert(docs) // generation 1
      val upd = docs.filter($"key".cast("int") % 5 === 0)
        .withColumn("n_regionkey", $"n_regionkey" + 100)
      pot.upsert(upd) // generation 2 — the state the snapshot must carry
      PotTable.snapshotAll(s, root, s"$root/_export")
      Scratch.withDir("graft-pot-sr2") { root2 =>
        PotTable.restore(s, s"$root/_export/bundle.tar.gz", root2)
        PotTable(s, root2, "nation_pot").get()
          .select($"key".cast("int").as("key"), $"n_name", $"n_regionkey")
          .orderBy($"key")
          .localCheckpoint(true)
      }
    }
  }

  val snapshotRestoreSql: String =
    """SELECT n_nationkey AS key, n_name,
      |  CASE WHEN n_nationkey % 5 = 0 THEN n_regionkey + 100
      |       ELSE n_regionkey END AS n_regionkey
      |FROM nation
      |ORDER BY key""".stripMargin

  /** kv14: SCHEMA EVOLUTION across generations — the document-store
    * semantic the reference gets for free from JSON (a doc may or may not
    * carry a field, server.go:347-354) expressed on the parquet-backed
    * pot: gen 1 writes narrow docs (key, n_name); gen 2 upserts a batch
    * that INTRODUCES `n_regionkey` (table widens, untouched rows read
    * null); gen 3 re-upserts some widened keys with the OLD narrow shape —
    * and because pot upserts replace the whole document (LWW, never a
    * column-merge), their `n_regionkey` reverts to null. The final read
    * proves all three: widening, null-backfill, and whole-doc replacement.
    * Every generation still commits through the same CAS; readers at any
    * generation see that generation's schema.
    */
  def schemaEvolution(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Scratch.withDir("graft-pot-evo") { root =>
      val pot = PotTable(s, root, "nation_evo")
      val n = Tables.nation(s, d)
      pot.upsert(n.select($"n_nationkey".cast("string").as("key"), $"n_name"))
      pot.upsert(n.filter($"n_nationkey" % 3 === 0)
        .select($"n_nationkey".cast("string").as("key"), $"n_name", $"n_regionkey"))
      pot.upsert(n.filter($"n_nationkey" % 6 === 0)
        .select($"n_nationkey".cast("string").as("key"),
          concat($"n_name", lit("!")).as("n_name")))
      pot.get()
        .select($"key".cast("int").as("key"), $"n_name", $"n_regionkey")
        .orderBy($"key")
        .localCheckpoint(true)
    }
  }

  val schemaEvolutionSql: String =
    """SELECT n_nationkey AS key,
      |  CASE WHEN n_nationkey % 6 = 0 THEN n_name || '!' ELSE n_name END
      |    AS n_name,
      |  CASE WHEN n_nationkey % 3 = 0 AND n_nationkey % 6 <> 0
      |       THEN n_regionkey ELSE NULL END AS n_regionkey
      |FROM nation
      |ORDER BY key""".stripMargin

  /** q68: INCREMENTAL VIEW MAINTENANCE — the capability that makes a
    * materialized aggregate survive 100 TB: when the base table changes,
    * apply the CDC delta's ± contributions to the stored aggregate instead
    * of rescanning. The base aggregate (per-segment customer count + exact
    * cents balance) is merged with the delta aggregate derived from kv7's
    * mutation set (update %10 → −old +new, delete %7 → −old, insert %13 →
    * +new; a row changing segment moves between groups naturally as a minus
    * in one and a plus in the other). The oracle recomputes the AFTER
    * state directly — the maintained aggregate must be indistinguishable
    * from a full rescan, which is the whole IVM contract. Exact cents
    * (q67's DECIMAL(38,2)·100 BIGINT) keep the ± merge associative.
    *
    * Scale: the base side stands in for the stored aggregate (group-count
    * sized); the delta side scales with the CHANGE SET, not the corpus —
    * one partial agg over the delta + one tiny outer merge. Groups whose
    * maintained count reaches 0 are retired.
    */
  def incrementalView(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val before = Tables.customer(s, d).select(
      $"c_custkey".as("key"),
      ($"c_acctbal".cast(org.apache.spark.sql.types.DecimalType(38, 2)) * 100)
        .cast("long").as("cents"),
      $"c_mktsegment".as("seg"))
    val baseAgg = before.groupBy($"seg")
      .agg(count(lit(1)).as("bn"), sum($"cents").as("bc"))
    // CDC events: (sign, row) pairs per kv7's mutation rules
    val minus = before.filter($"key" % 7 === 0 || $"key" % 10 === 0)
      .withColumn("sign", lit(-1L))
    val plusUpd = before.filter($"key" % 10 === 0 && $"key" % 7 =!= 0)
      .withColumn("cents", $"cents" + 100000L)
      .withColumn("seg", lit("UPDATED"))
      .withColumn("sign", lit(1L))
    val plusIns = before.filter($"key" % 13 === 0)
      .withColumn("key", $"key" + 1000000L)
      .withColumn("sign", lit(1L))
    maintainAgg(s, baseAgg,
      minus.unionByName(plusUpd).unionByName(plusIns))
      .orderBy($"seg")
  }

  /** The IVM merge algebra, factored for q68 and PropertySpec: a
    * (seg, bn, bc) stored aggregate + (sign, cents, seg, ...) CDC events →
    * the maintained (seg, n_customers, cents_total), zero-count groups
    * retired. Pure column algebra — associative and replayable because
    * every term is an exact BIGINT.
    */
  private[graft] def maintainAgg(
      s: SparkSession, baseAgg: DataFrame, delta: DataFrame): DataFrame = {
    import s.implicits._
    val deltaAgg = delta.groupBy($"seg")
      .agg(sum($"sign").as("dn"), sum($"sign" * $"cents").as("dc"))
    baseAgg.join(deltaAgg, Seq("seg"), "full_outer")
      .select($"seg",
        (coalesce($"bn", lit(0L)) + coalesce($"dn", lit(0L))).as("n_customers"),
        (coalesce($"bc", lit(0L)) + coalesce($"dc", lit(0L))).as("cents_total"))
      .filter($"n_customers" > 0)
  }

  /** Oracle: the full rescan of the mutated state — IVM must match it. */
  val incrementalViewSql: String =
    """WITH before AS (
      |  SELECT c_custkey AS key,
      |    CAST(CAST(c_acctbal AS DECIMAL(38,2)) * 100 AS BIGINT) AS cents,
      |    c_mktsegment AS seg
      |  FROM customer),
      |after AS (
      |  SELECT key,
      |    CASE WHEN key % 10 = 0 THEN cents + 100000 ELSE cents END AS cents,
      |    CASE WHEN key % 10 = 0 THEN 'UPDATED' ELSE seg END AS seg
      |  FROM before WHERE key % 7 <> 0
      |  UNION ALL
      |  SELECT key + 1000000, cents, seg FROM before WHERE key % 13 = 0)
      |SELECT seg, COUNT(*) AS n_customers,
      |  CAST(SUM(cents) AS BIGINT) AS cents_total
      |FROM after
      |GROUP BY seg
      |ORDER BY seg""".stripMargin

  /** kv15: REPLICA CONVERGENCE (anti-entropy) — two replicas that applied
    * the same two update batches in OPPOSITE orders must converge once
    * merge is a deterministic version-max (LWW register on an explicit
    * `ver` column with a key tie-break — never wall-clock). Replica A
    * applies batch1 then batch2, replica B applies batch2 then batch1;
    * the query asserts A ≡ B inside the plan (an EXCEPT-based divergence
    * count that must be 0 — a nondeterministic merge would hash-fail the
    * driver anyway, but the explicit check names the property) and emits
    * the converged state. The reference's generation numbers are exactly
    * this total version order (server.go:244-258).
    *
    * Scale: each apply is one key-keyed window (kv1's merge exchange); the
    * divergence check is two aggregates over the same partitioning.
    */
  def replicaConvergence(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = Tables.nation(s, d)
      .select($"n_nationkey".as("key"), $"n_name".as("v"), lit(0L).as("ver"))
    val b1 = Tables.nation(s, d).filter($"n_nationkey" % 2 === 0)
      .select($"n_nationkey".as("key"),
        concat($"n_name", lit("-b1")).as("v"), lit(1L).as("ver"))
    val b2 = Tables.nation(s, d).filter($"n_nationkey" % 3 === 0)
      .select($"n_nationkey".as("key"),
        concat($"n_name", lit("-b2")).as("v"), lit(2L).as("ver"))
    def applyBatch(state: DataFrame, batch: DataFrame): DataFrame = {
      val w = Window.partitionBy($"key").orderBy($"ver".desc)
      state.unionByName(batch)
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1).drop("rn")
    }
    val repA = applyBatch(applyBatch(base, b1), b2)
    val repB = applyBatch(applyBatch(base, b2), b1)
    val diverged = repA.exceptAll(repB).agg(count(lit(1)).as("nd"))
    repA.crossJoin(broadcast(diverged))
      .select($"key".cast("int").as("key"), $"v", $"ver", $"nd".as("divergence"))
      .orderBy($"key")
  }

  val replicaConvergenceSql: String =
    """SELECT n_nationkey AS key,
      |  CASE WHEN n_nationkey % 3 = 0 THEN n_name || '-b2'
      |       WHEN n_nationkey % 2 = 0 THEN n_name || '-b1'
      |       ELSE n_name END AS v,
      |  CAST(CASE WHEN n_nationkey % 3 = 0 THEN 2
      |       WHEN n_nationkey % 2 = 0 THEN 1
      |       ELSE 0 END AS BIGINT) AS ver,
      |  CAST(0 AS BIGINT) AS divergence
      |FROM nation
      |ORDER BY key""".stripMargin

  /** kv16: ONLINE RESHARD — the bucket-count change every bucketed store
    * eventually needs (hot buckets, table growth): the 4-bucket table's
    * LWW overlay state is rewritten into a 16-bucket twin in ONE
    * distributed job ([[graft.kv.BucketedPotTable.reshardTo]]) while the
    * old table keeps serving; cutover is a path-pointer swap, abandoning
    * the new path aborts with no effect. The emitted state is the
    * RESHARDED table's full scan — equal to the old table's overlay (the
    * reshard contract); BucketedPotSpec pins that point gets on the new
    * table prune to exactly one 16-bucket dir.
    */
  def reshard(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Scratch.withDir("graft-bpot-rs") { root =>
      val t = new graft.kv.BucketedPotTable(s, root, "cust_rs", 4)
      val base = Tables.customer(s, d)
        .filter($"c_custkey" <= 300)
        .select($"c_custkey".cast("string").as("key"),
          $"c_mktsegment", $"c_nationkey")
      t.upsert(base)
      t.upsert(base.filter($"key".cast("bigint") % 7 === 0)
        .withColumn("c_mktsegment", lit("UPDATED")))
      val wide = t.reshardTo(16)
      wide.get()
        .select($"key".cast("bigint").as("key"), $"c_mktsegment", $"c_nationkey")
        .orderBy($"key")
        .localCheckpoint(true)
    }
  }

  val reshardSql: String =
    """SELECT c_custkey AS key,
      |  CASE WHEN c_custkey % 7 = 0 THEN 'UPDATED' ELSE c_mktsegment END
      |    AS c_mktsegment,
      |  c_nationkey
      |FROM customer
      |WHERE c_custkey <= 300
      |ORDER BY key""".stripMargin

  /** kv17: warehouse storage report — the `SHOW TABLES EXTENDED` of the
    * pot warehouse (A6's listing upgraded with lifecycle facts): one row
    * per pot with its committed generation count and live row count,
    * produced from a mixed-lifecycle build (a 2-generation update pot, a
    * write-once pot, and a 3-generation pot that survived a delete wave
    * and an insert wave). The inventory an operator consults before
    * vacuum/compaction — generation count ≈ reclaimable history.
    */
  def storageReport(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Scratch.withDir("graft-pot-report") { root =>
      val alpha = PotTable(s, root, "alpha")
      alpha.upsert(Tables.nation(s, d)
        .select($"n_nationkey".cast("string").as("key"), $"n_name"))
      alpha.upsert(Tables.nation(s, d).filter($"n_nationkey" % 5 === 0)
        .select($"n_nationkey".cast("string").as("key"),
          concat($"n_name", lit("+")).as("n_name")))
      val beta = PotTable(s, root, "beta")
      beta.upsert(Tables.region(s, d)
        .select($"r_regionkey".cast("string").as("key"), $"r_name"))
      val gamma = PotTable(s, root, "gamma")
      val cust = Tables.customer(s, d).filter($"c_custkey" <= 100)
        .select($"c_custkey".cast("string").as("key"), $"c_mktsegment")
      gamma.upsert(cust)
      gamma.remove(cust.filter($"key".cast("bigint") % 9 === 0)
        .select($"key").as[String].collect().toSeq)
      gamma.upsert(cust.filter($"key".cast("bigint") % 50 === 0)
        .select(concat(lit("x"), $"key").as("key"), $"c_mktsegment"))
      val rows = Seq(("alpha", alpha), ("beta", beta), ("gamma", gamma))
        .map { case (name, pot) =>
          pot.get().agg(count(lit(1)).as("n_live"))
            .select(lit(name).as("pot"),
              lit(pot.generation).as("n_generations"), $"n_live")
        }
      rows.reduce(_ unionByName _)
        .orderBy($"pot").localCheckpoint(true)
    }
  }

  val storageReportSql: String =
    """SELECT 'alpha' AS pot, CAST(2 AS BIGINT) AS n_generations,
      |  (SELECT COUNT(*) FROM nation) AS n_live
      |UNION ALL
      |SELECT 'beta', CAST(1 AS BIGINT), (SELECT COUNT(*) FROM region)
      |UNION ALL
      |SELECT 'gamma', CAST(3 AS BIGINT),
      |  (SELECT COUNT(*) FROM customer
      |   WHERE c_custkey <= 100 AND c_custkey % 9 <> 0)
      |  + (SELECT COUNT(*) FROM customer
      |     WHERE c_custkey <= 100 AND c_custkey % 50 = 0)
      |ORDER BY pot""".stripMargin

  /** Generation diff / change feed (CDC — the data semantics of
    * [[PotTable.diff]], replayed over fixtures so the oracle can check it):
    * BEFORE = customer; AFTER = kv1's upsert (every 10th: balance+1000, seg
    * UPDATED) + kv2's delete (every 7th) + an insert batch (every 13th
    * re-keyed +1000000). One full-outer join by key classifies every key as
    * added/removed/changed; unchanged keys are suppressed — the single-
    * shuffle merge shape that makes a 100 TB diff one co-partitioned pass.
    */
  def generationDiff(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val before = Tables.customer(s, d)
      .select($"c_custkey".as("key"), $"c_acctbal", $"c_mktsegment")
    val updated = before
      .withColumn("c_acctbal",
        when($"key" % 10 === 0, $"c_acctbal" + 1000.0).otherwise($"c_acctbal"))
      .withColumn("c_mktsegment",
        when($"key" % 10 === 0, lit("UPDATED")).otherwise($"c_mktsegment"))
    val inserts = before.filter($"key" % 13 === 0)
      .select(($"key" + 1000000L).as("key"), $"c_acctbal", $"c_mktsegment")
    val after = updated.filter($"key" % 7 =!= 0).unionByName(inserts)
    val a = before.select($"key",
      $"c_acctbal".as("bal_before"), $"c_mktsegment".as("seg_before"))
    val b = after.select($"key",
      $"c_acctbal".as("bal_after"), $"c_mktsegment".as("seg_after"))
    a.join(b, Seq("key"), "full_outer")
      .withColumn("change",
        when($"bal_before".isNull, lit("added"))
          .when($"bal_after".isNull, lit("removed"))
          .when($"bal_before" =!= $"bal_after" ||
            $"seg_before" =!= $"seg_after", lit("changed"))
          .otherwise(lit("unchanged")))
      .filter($"change" =!= "unchanged")
      .select($"key", $"change", $"bal_before", $"bal_after")
      .orderBy($"key")
  }

  val generationDiffSql: String =
    """WITH before_t AS (
      |  SELECT c_custkey AS key, c_acctbal, c_mktsegment FROM customer),
      |updated AS (
      |  SELECT key,
      |    CASE WHEN key % 10 = 0 THEN c_acctbal + 1000.0 ELSE c_acctbal END AS c_acctbal,
      |    CASE WHEN key % 10 = 0 THEN 'UPDATED' ELSE c_mktsegment END AS c_mktsegment
      |  FROM before_t),
      |inserts AS (
      |  SELECT key + 1000000 AS key, c_acctbal, c_mktsegment
      |  FROM before_t WHERE key % 13 = 0),
      |after_t AS (
      |  SELECT * FROM updated WHERE key % 7 <> 0
      |  UNION ALL SELECT * FROM inserts),
      |joined AS (
      |  SELECT COALESCE(a.key, b.key) AS key,
      |    a.c_acctbal AS bal_before, a.c_mktsegment AS seg_before,
      |    b.c_acctbal AS bal_after, b.c_mktsegment AS seg_after
      |  FROM before_t a FULL OUTER JOIN after_t b ON a.key = b.key)
      |SELECT key,
      |  CASE WHEN bal_before IS NULL THEN 'added'
      |       WHEN bal_after IS NULL THEN 'removed'
      |       WHEN bal_before <> bal_after OR seg_before <> seg_after THEN 'changed'
      |       ELSE 'unchanged' END AS change,
      |  bal_before, bal_after
      |FROM joined
      |WHERE CASE WHEN bal_before IS NULL THEN 'added'
      |           WHEN bal_after IS NULL THEN 'removed'
      |           WHEN bal_before <> bal_after OR seg_before <> seg_after THEN 'changed'
      |           ELSE 'unchanged' END <> 'unchanged'
      |ORDER BY key""".stripMargin

  /** A1'/A11 time-travel read (kv8): the REAL [[PotTable]] versioned store
    * end-to-end — commit generation 1 (full customer projection), commit
    * generation 2 (every 10th balance bumped, segment UPDATED — the kv1
    * merge), then read generation 1 back via [[PotTable.getAt]] and join it
    * against the current generation. The output (changed keys with their
    * before/after balances) is fully fixture-derived, so the oracle replays
    * it without seeing the store — what it checks is that the committed
    * history is immutable and addressable: a reader handed generation 1
    * gets EXACTLY the pre-update rows back after generation 2 landed
    * (client.go:115-120's generation handle as a query surface).
    */
  def timeTravel(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Scratch.withDir("graft-pot-tt") { root =>
      val pot = PotTable(s, root, "cust_pot")
      val base = Tables.customer(s, d)
        .select($"c_custkey".cast("string").as("key"),
          $"c_acctbal", $"c_mktsegment")
      pot.upsert(base) // generation 1
      val updates = base.filter($"key".cast("bigint") % 10 === 0)
        .withColumn("c_acctbal", $"c_acctbal" + 1000.0)
        .withColumn("c_mktsegment", lit("UPDATED"))
      pot.upsert(updates) // generation 2 (LWW merge)
      val g1 = pot.getAt(1L)
        .select($"key", $"c_acctbal".as("bal_g1"))
      val cur = pot.get()
        .select($"key", $"c_acctbal".as("bal_g2"), $"c_mktsegment".as("seg_g2"))
      // Materialize (lineage cut) before deleting the run's temp store:
      // repeated invocations must not grow tmpdir (st1's pattern).
      g1.join(cur, Seq("key"))
        .filter($"bal_g1" =!= $"bal_g2")
        .select($"key".cast("bigint").as("key"),
          $"bal_g1", $"bal_g2", $"seg_g2")
        .orderBy($"key")
        .localCheckpoint(true)
    }
  }

  val timeTravelSql: String =
    """SELECT c_custkey AS key, c_acctbal AS bal_g1,
      |  c_acctbal + 1000.0 AS bal_g2, 'UPDATED' AS seg_g2
      |FROM customer
      |WHERE c_custkey % 10 = 0
      |ORDER BY key""".stripMargin

  /** A2' bucketed store end-to-end (kv9): the SCALE path of the KV layer
    * driven through the hash gate, not just specs — a real
    * [[graft.kv.BucketedPotTable]] takes a base load, an LWW upsert wave,
    * a multi-key delete, and a compaction, and the queried survivor state
    * must equal the oracle's relational replay of those four operations.
    * Each write staged only its touched buckets (one `partitionBy("_b")`
    * job per batch); compact() folds the version chain to one generation.
    * Integer-only output (segment survivor counts + nation-key sums).
    * Temp store deleted after materialization (kv8's lifecycle pattern).
    */
  def bucketedScan(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Scratch.withDir("graft-bpot-q") { root =>
      val t = new graft.kv.BucketedPotTable(s, root, "cust_bpot", 16)
      val base = Tables.customer(s, d)
        .filter($"c_custkey" <= 300)
        .select($"c_custkey".cast("string").as("key"),
          $"c_mktsegment", $"c_nationkey")
      t.upsert(base) // gen 1: base load
      t.upsert(base.filter($"key".cast("bigint") % 7 === 0)
        .withColumn("c_mktsegment", lit("UPDATED"))) // gen 2: LWW wave
      t.remove((0 to 300).filter(_ % 13 == 0).map(_.toString)) // gen 3
      t.compact() // gen 4: fold the chain
      t.get()
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_keys"),
          sum($"c_nationkey".cast("bigint")).as("sum_nation"))
        .orderBy($"c_mktsegment")
        .localCheckpoint(true)
    }
  }

  val bucketedScanSql: String =
    """WITH survivors AS (
      |  SELECT c_custkey,
      |    CASE WHEN c_custkey % 7 = 0 THEN 'UPDATED' ELSE c_mktsegment END
      |      AS c_mktsegment,
      |    c_nationkey
      |  FROM customer
      |  WHERE c_custkey <= 300 AND c_custkey % 13 <> 0)
      |SELECT c_mktsegment, COUNT(*) AS n_keys,
      |  CAST(SUM(c_nationkey) AS BIGINT) AS sum_nation
      |FROM survivors
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** kv10: bucket-pruned POINT reads on the bucketed store — the read
    * path that makes [[graft.kv.BucketedPotTable]] a KV store and not
    * just a partition-scoped writer: `get(key)` resolves the key's
    * bucket driver-side and scans ONLY that bucket's staged dir (one
    * bucket's files regardless of table size, vs the reference reading
    * the whole path object per get, server.go:210-239). Three point
    * gets across the LWW overlay (one updated at gen 2, one untouched,
    * one removed at gen 3 — the empty result proves the remove is
    * visible to the pruned read too), unioned; the oracle replays the
    * waves relationally.
    */
  def pointGet(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Scratch.withDir("graft-bpot-pg") { root =>
      val t = new graft.kv.BucketedPotTable(s, root, "cust_pg", 16)
      val base = Tables.customer(s, d)
        .filter($"c_custkey" <= 300)
        .select($"c_custkey".cast("string").as("key"),
          $"c_mktsegment", $"c_nationkey")
      t.upsert(base) // gen 1: base load
      t.upsert(base.filter($"key".cast("bigint") % 7 === 0)
        .withColumn("c_mktsegment", lit("UPDATED"))) // gen 2: LWW wave
      t.remove(Seq("260")) // gen 3: one key gone
      Seq("42", "137", "260").map(t.get(_))
        .reduce(_ unionByName _)
        .select($"key", $"c_mktsegment", $"c_nationkey")
        .orderBy($"key")
        .localCheckpoint(true)
    }
  }

  val pointGetSql: String =
    """SELECT CAST(c_custkey AS VARCHAR) AS key,
      |  CASE WHEN c_custkey % 7 = 0 THEN 'UPDATED' ELSE c_mktsegment END
      |    AS c_mktsegment,
      |  c_nationkey
      |FROM customer
      |WHERE c_custkey IN (42, 137) AND c_custkey <= 300
      |ORDER BY key""".stripMargin

  /** kv13: secondary-index lifecycle on [[graft.kv.IndexedPot]] — the
    * query-by-value surface the reference's key-only API cannot express.
    * Base load (300 customers indexed on mktsegment), then a segment-move
    * wave (keys % 7 → 'MOVED') that must drop movers from their OLD
    * postings and add them to the new one, both landing through one
    * PotTxn commit point. The result reads two values back THROUGH the
    * index (posting point read → key fetch → re-check) and the oracle
    * recomputes the expected membership from the fixture.
    */
  def secondaryIndex(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Scratch.withDir("graft-ixpot") { root =>
      val ip = new graft.kv.IndexedPot(s, root, "cust")
      val base = Tables.customer(s, d)
        .filter($"c_custkey" <= 300)
        .select($"c_custkey".cast("string").as("key"),
          $"c_mktsegment".as("fval"), $"c_nationkey")
      ip.upsert(base)
      ip.upsert(base.filter($"key".cast("bigint") % 7 === 0)
        .withColumn("fval", lit("MOVED")))
      Seq("MOVED", "BUILDING").map(ip.lookup)
        .reduce(_ unionByName _)
        .select($"fval", $"key", $"c_nationkey")
        .orderBy($"fval", $"key")
        .localCheckpoint(true)
    }
  }

  val secondaryIndexSql: String =
    """WITH state AS (
      |  SELECT CAST(c_custkey AS VARCHAR) AS key,
      |    CASE WHEN c_custkey % 7 = 0 THEN 'MOVED' ELSE c_mktsegment END
      |      AS fval,
      |    c_nationkey
      |  FROM customer WHERE c_custkey <= 300)
      |SELECT fval, key, c_nationkey
      |FROM state
      |WHERE fval IN ('MOVED', 'BUILDING')
      |ORDER BY fval, key""".stripMargin

  /** kv19: TTL EXPIRY sweep — the retention lifecycle every production
    * KV runs: documents carry a lease (`exp_day = key % 11`), a refresh
    * wave renews a subset's lease (`key % 4 == 0` → +11, whole-doc LWW
    * re-upsert, gen 2), and the sweep commits the expiry of every lease
    * below the cutoff (5) as ONE generation (gen 3) through the same CAS
    * chain — so the expiry is atomic, time-travelable (kv8 reads gen 2
    * and sees the pre-sweep state) and diffable (kv7 shows exactly the
    * expired set). The sweep reads CURRENT state — a lease renewed in
    * gen 2 survives a cutoff its gen-1 lease would have failed, which is
    * the entire point of leases. The sweep is `PotTable.removeWhere`
    * (r14): the predicate IS the rewrite — no driver-side key
    * materialization at any scale (the bucketed twin,
    * `BucketedPotTable.removeWhere`, restages only matching buckets).
    * Mods %11/%4 and cutoff 5 mirrored literally in the oracle.
    */
  def ttlExpiry(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Scratch.withDir("graft-pot-ttl") { root =>
      val pot = PotTable(s, root, "cust_ttl")
      val docs = Tables.customer(s, d)
        .select($"c_custkey".cast("string").as("key"), $"c_name",
          ($"c_custkey" % 11).cast("int").as("exp_day"))
      pot.upsert(docs) // gen 1: every doc with its initial lease
      pot.upsert(docs.filter($"key".cast("long") % 4 === 0)
        .withColumn("exp_day", ($"exp_day" + 11).cast("int"))) // gen 2: renewals
      pot.removeWhere($"exp_day" < 5) // gen 3: the sweep, one atomic
      // generation — fully distributed (r14: the expired keys are never
      // materialized on the driver; the predicate is the rewrite)
      pot.get()
        .select($"key".cast("long").as("key"), $"c_name", $"exp_day")
        .orderBy($"key").localCheckpoint(true)
    }
  }

  /** kv20: the TTL sweep at BUCKETED-store scale — kv19's lifecycle
    * (lease, renewal wave, atomic expiry) run through
    * `BucketedPotTable.removeWhere` (r14): the sweep restages ONLY the
    * buckets containing expired docs, the expired-key set never touches
    * the driver (the one bounded collect is bucket IDs), and the expiry
    * is still one CAS'd generation on the manifest chain. Mods %13/%5
    * and cutoff 6 mirrored literally in the oracle; the report
    * aggregates survivors by lease day (integer sums — oracle-exact).
    */
  def bucketedTtl(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Scratch.withDir("graft-bpot-ttl") { root =>
      val pot = graft.kv.BucketedPotTable(s, root, "cust_bttl", 16)
      val docs = Tables.customer(s, d).select(
        $"c_custkey".cast("string").as("key"),
        $"c_nationkey".cast("int").as("nat"),
        ($"c_custkey" % 13).cast("int").as("exp_day"))
      pot.upsert(docs) // gen 1: initial leases
      pot.upsert(docs.filter($"key".cast("long") % 5 === 0)
        .withColumn("exp_day", ($"exp_day" + 13).cast("int"))) // gen 2
      pot.removeWhere($"exp_day" < 6) // gen 3: distributed sweep
      pot.get()
        .groupBy($"exp_day")
        .agg(count(lit(1)).as("n"),
          sum($"nat".cast("long")).as("sum_nat"))
        .orderBy($"exp_day").localCheckpoint(true)
    }
  }

  val bucketedTtlSql: String =
    """SELECT exp_day, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(c_nationkey) AS BIGINT) AS sum_nat
      |FROM (
      |  SELECT c_nationkey,
      |    CAST((c_custkey % 13) +
      |      CASE WHEN c_custkey % 5 = 0 THEN 13 ELSE 0 END AS INTEGER)
      |      AS exp_day
      |  FROM customer) t
      |WHERE exp_day >= 6
      |GROUP BY exp_day
      |ORDER BY exp_day""".stripMargin

  val ttlExpirySql: String =
    """SELECT c_custkey AS key, c_name,
      |  CAST(CASE WHEN c_custkey % 4 = 0 THEN c_custkey % 11 + 11
      |            ELSE c_custkey % 11 END AS INTEGER) AS exp_day
      |FROM customer
      |WHERE (CASE WHEN c_custkey % 4 = 0 THEN c_custkey % 11 + 11
      |            ELSE c_custkey % 11 END) >= 5
      |ORDER BY key""".stripMargin

  /** kv21: point-in-time ROLLBACK of the bucketed store — the
    * bad-deploy incident verb: gen 1 seeds, gen 2 is the good LWW wave,
    * then a bad release both SWEEPS live keys (gen 3 removeWhere) and
    * WRITES junk keys (gen 4). The rollback is FORWARD-MOVING (u16/kv11
    * discipline — history is never rewritten): re-upsert the gen-2
    * state read through `getAt` (u25's pinned read), then remove the
    * keys that exist now but did not exist then (one distributed
    * anti-join; the collect it feeds is sized to the INCIDENT's write
    * set, never the table — the bad deploy's own output is the bound).
    * After rollback the head state must equal gen 2 exactly — the
    * oracle recomputes that state from the base tables; the chain keeps
    * all six generations for audit (head = 6: sweep, junk, restore
    * upsert, extras removal).
    */
  def bucketedRestore(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Scratch.withDir("graft-bpot-rb") { root =>
      val pot = graft.kv.BucketedPotTable(s, root, "cust_rb", 8)
      val base = Tables.customer(s, d)
        .filter($"c_custkey" <= 300)
        .select($"c_custkey".cast("string").as("key"),
          $"c_mktsegment", $"c_nationkey".cast("int").as("nat"))
      pot.upsert(base) // gen 1
      pot.upsert(base.filter($"key".cast("long") % 4 === 0)
        .withColumn("c_mktsegment", lit("MOVED"))) // gen 2: the good state
      pot.removeWhere($"key".cast("long") % 6 === 0) // gen 3: bad sweep
      pot.upsert(base.filter($"key".cast("long") % 50 === 0)
        .select(concat(lit("junk-"), $"key").as("key"),
          lit("BAD").as("c_mktsegment"), lit(-1).as("nat"))) // gen 4: junk
      // rollback to gen 2, forward-moving
      val good = pot.getAt(2L).select($"key", $"c_mktsegment", $"nat")
      pot.upsert(good) // gen 5: restore overwritten/removed keys
      val extras = pot.get().select($"key")
        .join(good.select($"key"), Seq("key"), "left_anti")
        .as[String].collect().toSeq.sorted // incident-sized, not table-sized
      pot.remove(extras) // gen 6: drop the bad deploy's own writes
      val result = pot.get()
        .select($"key".cast("long").as("key"), $"c_mktsegment", $"nat")
        .orderBy($"key").localCheckpoint(true)
      require(pot.generation == 6L,
        s"rollback must preserve history: expected head 6, got ${pot.generation}")
      result
    }
  }

  val bucketedRestoreSql: String =
    """SELECT c_custkey AS key,
      |  CASE WHEN c_custkey % 4 = 0 THEN 'MOVED' ELSE c_mktsegment END
      |    AS c_mktsegment,
      |  CAST(c_nationkey AS INTEGER) AS nat
      |FROM customer
      |WHERE c_custkey <= 300
      |ORDER BY key""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "kv21_bucketed_restore" -> (bucketedRestore _),
    "kv20_bucketed_ttl" -> (bucketedTtl _),
    "kv19_ttl_expiry" -> (ttlExpiry _),
    "kv17_storage_report" -> (storageReport _),
    "kv16_reshard" -> (reshard _),
    "q68_incremental_view" -> (incrementalView _),
    "kv15_replica_convergence" -> (replicaConvergence _),
    "kv14_schema_evolution" -> (schemaEvolution _),
    "kv13_secondary_index" -> (secondaryIndex _),
    "kv10_point_get"      -> (pointGet _),
    "kv9_bucketed_scan"   -> (bucketedScan _),
    "kv8_time_travel"     -> (timeTravel _),
    "kv1_upsert_merge"    -> (upsertMerge _),
    "kv2_delete_anti"     -> (deleteAnti _),
    "kv3_key_derivation"  -> (keyDerivation _),
    "kv4_conflict_detect" -> (conflictDetect _),
    "kv5_list_tables"     -> (listTables _),
    "kv6_snapshot"        -> (snapshotOp _),
    "kv11_snapshot_restore" -> (snapshotRestore _),
    "kv12_txn_commit"     -> (txnCommit _),
    "kv18_txn_snapshot_read" -> (txnSnapshotRead _),
    "kv7_generation_diff" -> (generationDiff _))

  val oracle: Map[String, String] = Map(
    "kv21_bucketed_restore" -> bucketedRestoreSql,
    "kv20_bucketed_ttl" -> bucketedTtlSql,
    "kv19_ttl_expiry" -> ttlExpirySql,
    "kv17_storage_report" -> storageReportSql,
    "kv16_reshard" -> reshardSql,
    "q68_incremental_view" -> incrementalViewSql,
    "kv15_replica_convergence" -> replicaConvergenceSql,
    "kv14_schema_evolution" -> schemaEvolutionSql,
    "kv13_secondary_index" -> secondaryIndexSql,
    "kv1_upsert_merge"    -> upsertMergeSql,
    "kv2_delete_anti"     -> deleteAntiSql,
    "kv3_key_derivation"  -> keyDerivationSql,
    "kv4_conflict_detect" -> conflictDetectSql,
    "kv5_list_tables"     -> listTablesSql,
    "kv7_generation_diff" -> generationDiffSql,
    "kv8_time_travel"     -> timeTravelSql,
    "kv9_bucketed_scan"   -> bucketedScanSql,
    "kv10_point_get"      -> pointGetSql,
    "kv11_snapshot_restore" -> snapshotRestoreSql,
    "kv12_txn_commit"     -> txnCommitSql,
    "kv18_txn_snapshot_read" -> txnSnapshotReadSql)

  /** kv12: CROSS-POT atomic commit ([[graft.kv.PotTxn]]) — the multi-table
    * transaction the reference cannot express. The query drives the full
    * protocol surface on two pots built from fixture dims and emits the
    * final LWW state of BOTH pots, which the oracle recomputes from the
    * fixture:
    *   - txn1 `commitAll` seeds nation_pot + region_pot (atomic ingest);
    *   - a DIRECT single-pot writer then bumps nation_pot (the competitor
    *     a txn must rebase over, +100 on even keys);
    *   - txn2 `commitAll` updates subsets of both pots (applies after the
    *     head moved — exercising the conflict-retry rebase, +1000 on %3
    *     keys / 'x'-prefix on region keys >= 3);
    *   - txn3 is `prepare`d only (simulated crash between commit point and
    *     apply) and completed by `recover()` ('recovered' at region key 0)
    *     — proving a committed txn is never half-lost.
    */
  def txnCommit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Scratch.withDir("graft-pot-txn") { root =>
      val txn = new graft.kv.PotTxn(s, root)
      val nat = Tables.nation(s, d)
        .select($"n_nationkey".cast("string").as("key"), $"n_name", $"n_regionkey")
      val reg = Tables.region(s, d)
        .select($"r_regionkey".cast("string").as("key"), $"r_name")
      txn.commitAll(Seq("nation_pot" -> nat, "region_pot" -> reg))
      PotTable(s, root, "nation_pot").upsert(
        nat.filter($"key".cast("int") % 2 === 0)
          .withColumn("n_regionkey", $"n_regionkey" + 100))
      txn.commitAll(Seq(
        "nation_pot" -> nat.filter($"key".cast("int") % 3 === 0)
          .withColumn("n_regionkey", $"n_regionkey" + 1000),
        "region_pot" -> reg.filter($"key".cast("int") >= 3)
          .withColumn("r_name", concat(lit("x"), $"r_name"))))
      txn.prepare(Seq("region_pot" -> reg.filter($"key".cast("int") === 0)
        .withColumn("r_name", lit("recovered"))))
      txn.recover()
      val natOut = PotTable(s, root, "nation_pot").get()
        .select(lit("nation_pot").as("pot"), $"key".cast("int").as("key"),
          concat($"n_name", lit(":"), $"n_regionkey".cast("string")).as("payload"))
      val regOut = PotTable(s, root, "region_pot").get()
        .select(lit("region_pot").as("pot"), $"key".cast("int").as("key"),
          $"r_name".as("payload"))
      natOut.unionByName(regOut)
        .orderBy($"pot", $"key")
        .localCheckpoint(true)
    }
  }

  /** kv18: cross-pot CONSISTENT SNAPSHOT READ at a txn frontier —
    * [[graft.kv.PotTxn.snapshotAt]] composes the txn log (each applied
    * marker now records the generation its upsert produced) with kv7's
    * per-pot time travel: a reader pinned to frontier(n) sees every
    * participant pot exactly as txn n's apply left it — later txns AND
    * later independent single-pot writes are invisible. The query builds
    * three txns across two pots with an independent nation write landing
    * BETWEEN txn1 and txn3, then emits BOTH views: `f2` (frontier at
    * txn2 — nation as of txn1, so the independent +100 bump is absent;
    * region with txn2's x-prefix) and `f3` (head — all three txns plus
    * the independent write). The oracle replays both states relationally;
    * the f2/f3 difference IS the isolation property under test.
    */
  def txnSnapshotRead(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Scratch.withDir("graft-pot-txnsnap") { root =>
      val txn = new graft.kv.PotTxn(s, root)
      val nat = Tables.nation(s, d)
        .select($"n_nationkey".cast("string").as("key"), $"n_name", $"n_regionkey")
      val reg = Tables.region(s, d)
        .select($"r_regionkey".cast("string").as("key"), $"r_name")
      txn.commitAll(Seq("nation_pot" -> nat, "region_pot" -> reg))
      // independent single-pot writer between txns: invisible at frontier 2
      PotTable(s, root, "nation_pot").upsert(
        nat.filter($"key".cast("int") % 2 === 0)
          .withColumn("n_regionkey", $"n_regionkey" + 100))
      val n2 = txn.commitAll(Seq(
        "region_pot" -> reg.filter($"key".cast("int") >= 3)
          .withColumn("r_name", concat(lit("x"), $"r_name"))))
      val n3 = txn.commitAll(Seq(
        "nation_pot" -> nat.filter($"key".cast("int") % 3 === 0)
          .withColumn("n_regionkey", $"n_regionkey" + 1000)))
      def emit(state: String, snap: Map[String, org.apache.spark.sql.DataFrame]) = {
        val n0 = snap("nation_pot")
          .select(lit(state).as("state"), lit("nation_pot").as("pot"),
            $"key".cast("int").as("key"),
            concat($"n_name", lit(":"), $"n_regionkey".cast("string"))
              .as("payload"))
        val r0 = snap("region_pot")
          .select(lit(state).as("state"), lit("region_pot").as("pot"),
            $"key".cast("int").as("key"), $"r_name".as("payload"))
        n0.unionByName(r0)
      }
      emit("f2", txn.snapshotAt(n2))
        .unionByName(emit("f3", txn.snapshotAt(n3)))
        .orderBy($"state", $"pot", $"key")
        .localCheckpoint(true)
    }
  }

  lazy val txnSnapshotReadSql: String =
    """SELECT * FROM (
      |  SELECT 'f2' AS state, 'nation_pot' AS pot,
      |    CAST(n_nationkey AS INTEGER) AS key,
      |    n_name || ':' || CAST(n_regionkey AS VARCHAR) AS payload
      |  FROM nation
      |  UNION ALL
      |  SELECT 'f2', 'region_pot', CAST(r_regionkey AS INTEGER),
      |    CASE WHEN r_regionkey >= 3 THEN 'x' || r_name ELSE r_name END
      |  FROM region
      |  UNION ALL
      |  SELECT 'f3', 'nation_pot', CAST(n_nationkey AS INTEGER),
      |    n_name || ':' || CAST(CASE
      |      WHEN n_nationkey % 3 = 0 THEN n_regionkey + 1000
      |      WHEN n_nationkey % 2 = 0 THEN n_regionkey + 100
      |      ELSE n_regionkey END AS VARCHAR)
      |  FROM nation
      |  UNION ALL
      |  SELECT 'f3', 'region_pot', CAST(r_regionkey AS INTEGER),
      |    CASE WHEN r_regionkey >= 3 THEN 'x' || r_name ELSE r_name END
      |  FROM region) t
      |ORDER BY state, pot, key""".stripMargin

  // lazy: declared below the oracle map that references it
  lazy val txnCommitSql: String =
    """SELECT * FROM (
      |  SELECT 'nation_pot' AS pot, CAST(n_nationkey AS INTEGER) AS key,
      |    n_name || ':' || CAST(CASE
      |      WHEN n_nationkey % 3 = 0 THEN n_regionkey + 1000
      |      WHEN n_nationkey % 2 = 0 THEN n_regionkey + 100
      |      ELSE n_regionkey END AS VARCHAR) AS payload
      |  FROM nation
      |  UNION ALL
      |  SELECT 'region_pot', CAST(r_regionkey AS INTEGER),
      |    CASE WHEN r_regionkey = 0 THEN 'recovered'
      |         WHEN r_regionkey >= 3 THEN 'x' || r_name
      |         ELSE r_name END
      |  FROM region) t
      |ORDER BY pot, key""".stripMargin
}
