package graft.operators

import graft.Tables
import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (BASELINE.json north_star):
  * brute-force cosine top-k as the correctness baseline, and a
  * random-hyperplane LSH bucketed variant as the scale path (bucket the 100 TB
  * corpus once, then each query only scans its bucket).
  *
  * Hyperplanes are derived deterministically from md5 so Spark and the DuckDB
  * oracle use the exact same planes: component j of plane p is +-1 by the top
  * bit of the first hex digit of md5("p:j").
  */
object Similarity {

  val NumPlanes = 8
  val Dim = 64

  /** +-1.0 hyperplane components, identical to the SQL derivation below. */
  private[operators] lazy val planes: Array[Array[Double]] = {
    val mdt = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(NumPlanes, Dim) { (p, j) =>
      val hex = mdt.digest(s"$p:$j".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val digit = Integer.parseInt(hex.substring(0, 1), 16)
      if (((digit >> 3) & 1) == 1) 1.0 else -1.0
    }
  }

  /** LSH signature column: NumPlanes chars of '0'/'1' — sign of the dot with
    * each plane, accumulated left-to-right like everything else.
    */
  private[operators] def sigCol(emb: Column): Column = {
    val bits = planes.map { plane =>
      val s = aggregate(
        zip_with(emb.cast("array<double>"), typedLit(plane.toSeq), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x)
      when(s > 0.0, lit("1")).otherwise(lit("0"))
    }
    concat(bits: _*)
  }

  /** SQL fragment mirroring [[sigCol]] for DuckDB. */
  private def sigSql(embExpr: String): String =
    planes.map { plane =>
      val lst = plane.map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ",", "]")
      s"""(CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |   list_transform(range(1, ${Dim + 1}),
         |     i -> CAST($embExpr[i] AS DOUBLE) * ($lst)[i])),
         |   (acc, x) -> acc + x) > 0.0 THEN '1' ELSE '0' END)""".stripMargin
    }.mkString(" || ")

  private val dotSql =
    """list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |    list_transform(range(1, len(e.embedding) + 1),
      |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))),
      |    (acc, x) -> acc + x)""".stripMargin

  /** Query-vector point lookup for the persisted-index ANN queries: read
    * the vector from the BASE embeddings table with a pushed `vec_id`
    * predicate (one row group of one file) and recompute its signature
    * with the ingest expression ([[sigCol]] — bit-identical by
    * construction). Never fetch it from the index itself: an unpruned
    * filter over the partitioned index lists every bucket's files per
    * lookup, an index-wide listing at corpus scale.
    */
  private[graft] def queryPointDf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, d).filter($"vec_id" === 0)
      .select($"embedding", sigCol($"embedding").as("sig"))
  }

  private def queryPoint(s: SparkSession, d: String): (Array[Float], String) = {
    val q = queryPointDf(s, d).head()
    (q.getSeq[Float](0).toArray, q.getString(1))
  }

  /** st14 backing — ingest one micro-batch of embeddings as an APPENDED
    * index generation at `base`: same sig derivation, same `sigp` layout and
    * `_idmap` sidecar as the cold build, published through
    * [[AnnIndex.append]]'s stage-once/CAS-at-next-gen protocol (a lost race
    * re-offers the staged rows, never drops a batch — the property streaming
    * ingest lives or dies by).
    */
  private[graft] def appendEmbeddingBatch(
      s: SparkSession, base: org.apache.hadoop.fs.Path,
      batch: DataFrame, batchId: Long = -1L,
      scope: String = ""): Unit = {
    // batchId >= 0 tags the generation for exactly-once replay: a
    // checkpoint-recovered micro-batch re-offering the same id adopts
    // the already-committed generation instead of appending duplicates.
    // `scope` must carry a stable per-query identity when MORE THAN ONE
    // streaming query can append to the same index base: a bare
    // `b<batchId>` tag would let two independent queries with overlapping
    // batch ids adopt each other's generations and silently drop a batch
    // (the collision class PotV2StreamingWrite's q<qid8>e<epoch> tags
    // already close at the connector level).
    val tag = if (batchId >= 0) Some(s"${scope}b$batchId") else None
    val sigd = batch
      .withColumn("sig", sigCol(col("embedding")))
      .withColumn("sigp", concat(lit("s"), col("sig")))
    // r19 opt: pinned-count repartition (Tables.spread) — a bare
    // repartition(col) is REPARTITION_BY_COL, which AQE coalesces to ~1
    // task on byte-tiny batches, serializing the 256-way dynamic
    // partition write (one task opening every sigp file: measured 5.2 s
    // vs 0.6 s spread at sf0.1).
    var built = false
    val (_, dir) = AnnIndex.append(s, base, tag) { staging =>
      built = true
      graft.Tables.spread(sigd, col("sigp"))
        .write.partitionBy("sigp").mode("overwrite").parquet(staging)
    }
    // idempotent on replay: the sidecar content is a pure function of the
    // (identical) replayed batch, so rewriting it is a deterministic
    // no-op. r19 opt: derive it from the in-hand batch frame
    // (writeIdMapFrom) instead of re-listing and re-reading the 256
    // just-written bucket files — content identical by construction.
    // r20 (r19 ADVICE): on append's tag-ADOPTION early exit (replay of a
    // batch another attempt already committed) the in-hand frame is not
    // provably the committed content — derive the sidecar from the
    // on-disk generation (read-back), exactly like the pre-r19 path; the
    // fast in-hand derivation stays for the common freshly-built case.
    if (built)
      AnnIndex.writeIdMapFrom(sigd.select(col("vec_id"), col("sigp")), dir)
    else AnnIndex.writeIdMap(s, dir)
  }

  /** st14 backing — the s3 multiprobe lookup over the UNION of `base`'s
    * committed generations: each generation is independently `sigp`-pruned
    * by the literal probe filter, so an N-batch ingest costs N file
    * listings, never N rescans. Output is batch-split independent (no
    * `gen` column): however the stream chopped the corpus, the lookup must
    * equal the one-shot build's answer.
    */
  private[graft] def annLookupOverGenerations(
      s: SparkSession, d: String,
      base: org.apache.hadoop.fs.Path): DataFrame = {
    import s.implicits._
    val idx = AnnIndex.committedGenerations(s, base)
      .map { case (_, dir) => s.read.parquet(dir) }
      .reduce(_ unionByName _)
    val (qv, qsig) = queryPoint(s, d)
    val probes = qsig +: (0 until NumPlanes).map(i =>
      qsig.updated(i, if (qsig(i) == '0') '1' else '0'))
    idx.filter($"sigp".isin(probes.map("s" + _): _*) && $"vec_id" =!= 0)
      .select($"vec_id", $"label", $"sig",
        VectorFunctions.dot($"embedding", typedlit(qv)).as("score"))
      .orderBy($"score".desc, $"vec_id".asc)
      .limit(10)
  }

  /** Brute-force cosine top-20 for query vector vec_id=0 (unit vectors: dot
    * == cosine). TakeOrderedAndProject: per-partition top-k, k-row merge —
    * no global sort at any scale.
    */
  def bruteForceTopK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val q = e.filter($"vec_id" === 0).select($"embedding".as("qv"))
    e.crossJoin(broadcast(q))
      .filter($"vec_id" =!= 0)
      .select($"vec_id", $"label",
        VectorFunctions.dot($"embedding", $"qv").as("score"))
      .orderBy($"score".desc, $"vec_id".asc)
      .limit(20)
  }

  val bruteForceTopKSql: String =
    s"""SELECT e.vec_id, e.label, $dotSql AS score
       |FROM embeddings e
       |CROSS JOIN (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
       |WHERE e.vec_id <> 0
       |ORDER BY score DESC, e.vec_id ASC
       |LIMIT 20""".stripMargin

  /** ANN via random-hyperplane LSH over the PERSISTED index
    * ([[AnnIndex]]): signatures are computed once at ingest and the corpus
    * is parquet-partitioned by them, so the lookup below reaches the scan
    * as a literal PartitionFilter — only the query's own bucket's files are
    * listed, let alone read (1/2^8 of the corpus; tunable via NumPlanes /
    * multi-probe). The query vector comes from [[queryPoint]] — a pushed
    * point read of the BASE table (in production it arrives as a
    * parameter; reading it from the corpus keeps the fixture
    * self-contained). Results are byte-identical to the
    * query-time-signature form (same oracle).
    */
  def annLsh(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val idx = AnnIndex.read(s, d)
    val (qv, qsig) = queryPoint(s, d)
    idx.filter($"sigp" === s"s$qsig" && $"vec_id" =!= 0)
      .select($"vec_id", $"label", $"sig",
        VectorFunctions.dot($"embedding", typedlit(qv)).as("score"))
      .orderBy($"score".desc, $"vec_id".asc)
      .limit(10)
  }

  val annLshSql: String =
    s"""WITH sigs AS (
       |  SELECT vec_id, label, embedding, ${sigSql("embedding")} AS sig
       |  FROM embeddings),
       |q AS (SELECT embedding AS qv, sig AS qsig FROM sigs WHERE vec_id = 0)
       |SELECT e.vec_id, e.label, e.sig, $dotSql AS score
       |FROM sigs e CROSS JOIN q
       |WHERE e.sig = q.qsig AND e.vec_id <> 0
       |ORDER BY score DESC, e.vec_id ASC
       |LIMIT 10""".stripMargin

  /** Multi-probe ANN: widen the [[annLsh]] lookup to every bucket within
    * hamming distance 1 of the query signature (9 of the 2^8 partitions) —
    * the standard sign-LSH recall knob: ~9x the scan of s2, still 1/28 of
    * the corpus, and the probe list is STILL a literal partition filter
    * (an IN over sigp values — pruned at file listing, nothing else opened).
    */
  def annMultiProbe(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val idx = AnnIndex.read(s, d)
    val (qv, qsig) = queryPoint(s, d)
    val probes = qsig +: (0 until NumPlanes).map(i =>
      qsig.updated(i, if (qsig(i) == '0') '1' else '0'))
    idx.filter($"sigp".isin(probes.map("s" + _): _*) && $"vec_id" =!= 0)
      .select($"vec_id", $"label", $"sig",
        VectorFunctions.dot($"embedding", typedlit(qv)).as("score"))
      .orderBy($"score".desc, $"vec_id".asc)
      .limit(10)
  }

  val annMultiProbeSql: String =
    s"""WITH sigs AS (
       |  SELECT vec_id, label, embedding, ${sigSql("embedding")} AS sig
       |  FROM embeddings),
       |q AS (SELECT embedding AS qv, sig AS qsig FROM sigs WHERE vec_id = 0)
       |SELECT e.vec_id, e.label, e.sig, $dotSql AS score
       |FROM sigs e CROSS JOIN q
       |WHERE hamming(e.sig, q.qsig) <= 1 AND e.vec_id <> 0
       |ORDER BY score DESC, e.vec_id ASC
       |LIMIT 10""".stripMargin

  /** All signatures at hamming distance exactly `r` from `qsig`. */
  private def ringSigs(qsig: String, r: Int): Seq[String] =
    (0 until NumPlanes).combinations(r).map { pos =>
      pos.foldLeft(qsig)((s0, i) =>
        s0.updated(i, if (s0(i) == '0') '1' else '0'))
    }.toSeq

  /** s14: ADAPTIVE multi-probe — expand the probe radius until the probed
    * buckets hold at least k candidates, then rank those. The fix for the
    * fixed-probe variants' silent under-fill (s6 measures s2 at 0 hits on
    * a small fixture: one 8-bit bucket holds ~1/256 of the corpus, which
    * under-fills whenever corpus/256 < k — a real user's first complaint
    * about an ANN index). The radius loop is driver-side but bounded
    * (≤ NumPlanes+1 rings) and each ring count is a partition-PRUNED scan
    * of only that ring's buckets (the probe set stays a literal
    * PartitionFilter, pinned in PlanAuditSpec). Cost when stopping at
    * radius R: the heavy columns (embedding for the dot) are read ONCE,
    * by the final ranking scan over rings 0..R — equal to one s3-style
    * fixed probe at R — plus the ring-count pass, which re-lists the
    * same pruned files but reads ONLY `vec_id` (8 B/row vs ~260 B/row:
    * column pruning makes the counting pass ~3% of the bytes). Folding
    * the counts into the ranking pass would need per-ring driver-side
    * top-k merges — a worse trade than a second cheap column read.
    * Deterministic: rings expand in radius
    * order, the stop rule is cumulative-count ≥ k, ties rank by (score
    * DESC, vec_id ASC) like every ANN entry. `probe_radius` surfaces the
    * chosen radius so callers see what the lookup cost.
    */
  def annProbeUntilK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = 10
    val idx = AnnIndex.read(s, d)
    val (qv, qsig) = queryPoint(s, d)
    val probed = scala.collection.mutable.ArrayBuffer.empty[String]
    var radius = 0
    var have = 0L
    while (have < k && radius <= NumPlanes) {
      val ring = ringSigs(qsig, radius)
      have += idx
        .filter($"sigp".isin(ring.map("s" + _): _*) && $"vec_id" =!= 0)
        .count()
      probed ++= ring
      if (have < k) radius += 1
    }
    val r = math.min(radius, NumPlanes)
    idx.filter($"sigp".isin(probed.map("s" + _).toSeq: _*) && $"vec_id" =!= 0)
      .select($"vec_id", $"label", $"sig",
        VectorFunctions.dot($"embedding", typedlit(qv)).as("score"),
        lit(r).as("probe_radius"))
      .orderBy($"score".desc, $"vec_id".asc)
      .limit(k)
  }

  /** Oracle replay: per-row hamming distance to the query signature, the
    * minimal radius whose cumulative candidate count reaches k (cumulative
    * count is monotone and changes only at present distances, so MIN over
    * present distances with cum ≥ k equals the Spark ring loop's stop
    * radius), then the same ranked top-k within that radius. COALESCE
    * covers the corpus-smaller-than-k edge (all rings probed).
    */
  val annProbeUntilKSql: String =
    s"""WITH sigs AS (
       |  SELECT vec_id, label, embedding, ${sigSql("embedding")} AS sig
       |  FROM embeddings),
       |q AS (SELECT embedding AS qv, sig AS qsig FROM sigs WHERE vec_id = 0),
       |dist AS (
       |  SELECT e.vec_id, e.label, e.sig, $dotSql AS score,
       |    hamming(e.sig, q.qsig) AS hd
       |  FROM sigs e CROSS JOIN q
       |  WHERE e.vec_id <> 0),
       |rad AS (
       |  SELECT COALESCE(MIN(hd), $NumPlanes) AS r FROM (
       |    SELECT hd, SUM(COUNT(*)) OVER (ORDER BY hd) AS cum
       |    FROM dist GROUP BY hd) t
       |  WHERE cum >= 10)
       |SELECT vec_id, label, sig, score, CAST(r AS INTEGER) AS probe_radius
       |FROM dist, rad
       |WHERE hd <= r
       |ORDER BY score DESC, vec_id ASC
       |LIMIT 10""".stripMargin

  /** IVF ANN over the persisted [[AnnIndex.readIvf]] index, with TRAINED
    * centroids (one integer-quantized Lloyd round at build time — see
    * [[AnnIndex.buildIvf]]): the query's 2 nearest centroids by exact
    * integer squared-L2 (the centroid set is 16 rows read from the index's
    * `_centroids` sidecar — driver-side by design, like the query vector
    * itself) select the cells to probe; the scan opens only those cells'
    * files (literal partition IN-filter). The complementary index family
    * to sign-LSH: cells adapt to the data distribution, probes trade
    * recall for scan like s3.
    */
  def annIvf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val loc = AnnIndex.locateIvf(s, d)
    val idx = s.read.parquet(loc)
    val cents = s.read.parquet(s"$loc/_centroids")
      .collect().map(r => (r.getInt(0), r.getSeq[Long](1).toArray))
    val qv = Tables.embeddings(s, d).filter($"vec_id" === 0)
      .select($"embedding").head().getSeq[Float](0).toArray
    val qq = qv.map(x => math.floor(x.toDouble * KMeans.QScale).toLong)
    def l2(a: Array[Long], b: Array[Long]): Long = {
      var acc = 0L
      var i = 0
      while (i < a.length) { val t = a(i) - b(i); acc += t * t; i += 1 }
      acc
    }
    val probes = cents
      .map { case (cid, cq) => (cid, l2(qq, cq)) }
      .sortBy { case (cid, dist) => (dist, cid) }
      .take(2).map { case (cid, _) => s"c$cid" }
    idx.filter($"cellp".isin(probes.toSeq: _*) && $"vec_id" =!= 0)
      .select($"vec_id", $"label",
        VectorFunctions.dot($"embedding", typedlit(qv)).as("score"))
      .orderBy($"score".desc, $"vec_id".asc)
      .limit(10)
  }

  /** Oracle replays the whole IVF pipeline: centroid training
    * ([[KMeans.lloydCtes]] at k=16 — all-integer, so the trained centroids
    * are bit-identical), corpus cell assignment, query 2-cell probe
    * selection (integer squared-L2, ties to lowest cid), then the same
    * float dot ranking as s1 within the probed cells.
    */
  val annIvfSql: String =
    s"""WITH __LLOYD__,
       |cdist AS (
       |  SELECT v.vec_id, c.cid,
       |    CAST(list_sum(list_transform(range(1, ${Dim + 1}),
       |      i -> (v.q[i] - c.c[i]) * (v.q[i] - c.c[i]))) AS BIGINT) AS dist
       |  FROM q v CROSS JOIN c1 c),
       |cellof AS (
       |  SELECT e.vec_id, e.label, e.embedding, a.cell
       |  FROM embeddings e JOIN (
       |    SELECT vec_id, cid AS cell FROM (
       |      SELECT vec_id, cid,
       |        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |      FROM cdist) t WHERE rn = 1) a USING (vec_id)),
       |qcells AS (
       |  SELECT cell FROM (
       |    SELECT cid AS cell,
       |      ROW_NUMBER() OVER (ORDER BY dist, cid) AS rn
       |    FROM cdist WHERE vec_id = 0) t
       |  WHERE rn <= 2),
       |qv0 AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
       |SELECT e.vec_id, e.label, $dotSql AS score
       |FROM cellof e JOIN qcells USING (cell) CROSS JOIN qv0 q
       |WHERE e.vec_id <> 0
       |ORDER BY score DESC, e.vec_id ASC
       |LIMIT 10""".stripMargin
      .replace("__LLOYD__", KMeans.lloydCtes(AnnIndex.IvfCentroids))

  /** s5: int8-quantized search — the memory-bound trick every
    * billion-vector deployment uses: store 4x smaller symmetric int8
    * codes (per-vector scale = 127/max|x|), rank by the INTEGER dot
    * (SIMD-friendly, exact integer arithmetic => bit-identical on any
    * engine), return the top-20 by quantized score. Quantization uses
    * floor (not round) because the two engines' rounding modes differ at
    * .5 boundaries while floor is unambiguous; every step from the float
    * load to the int sum is the same IEEE op sequence on both sides, so
    * the codes — not just the ranking — hash-match. Scale shape: a narrow
    * map to codes (at 100 TB the codes are what you PERSIST — 64 B/vec),
    * broadcast query code, TakeOrderedAndProject.
    */
  /** Symmetric int8 quantization + integer dot, shared by s5 and s15. */
  private def int8Code = expr(
    """transform(embedding, x ->
      |  CAST(floor(CAST(x AS DOUBLE) *
      |    (127.0 / aggregate(embedding, CAST(0.0 AS DOUBLE),
      |       (m, v) -> greatest(m, abs(CAST(v AS DOUBLE)))))) AS INT))"""
      .stripMargin)

  private def int8Dot = expr(
    """aggregate(zip_with(code, qc, (x, y) -> CAST(x AS BIGINT) * y),
      |  CAST(0 AS BIGINT), (acc, v) -> acc + v)""".stripMargin)

  def quantizedTopK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d).withColumn("code", int8Code)
    val q = e.filter($"vec_id" === 0).select($"code".as("qc"))
    e.crossJoin(broadcast(q))
      .filter($"vec_id" =!= 0)
      .select($"vec_id", $"label", int8Dot.as("qdot"))
      .orderBy($"qdot".desc, $"vec_id".asc)
      .limit(20)
  }

  val quantizedTopKSql: String =
    s"""WITH codes AS (
       |  SELECT vec_id, label,
       |    list_transform(embedding, x ->
       |      CAST(floor(CAST(x AS DOUBLE) *
       |        (127.0 / list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |           list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))),
       |           (m, v) -> greatest(m, v)))) AS INTEGER)) AS code
       |  FROM embeddings),
       |q AS (SELECT code AS qc FROM codes WHERE vec_id = 0)
       |SELECT e.vec_id, e.label,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(range(1, len(e.code) + 1),
       |      i -> CAST(e.code[i] AS BIGINT) * q.qc[i])),
       |    (acc, v) -> acc + v) AS qdot
       |FROM codes e CROSS JOIN q
       |WHERE e.vec_id <> 0
       |ORDER BY qdot DESC, e.vec_id ASC
       |LIMIT 20""".stripMargin

  /** s20 late-interaction shape: token vectors per document and components
    * per token ([[graft.operators.KMeans.Dim]] = tokens * subdim). Both
    * mirrored literally in the oracle.
    */
  val MaxSimTokens = 4
  val MaxSimSubDim: Int = KMeans.Dim / MaxSimTokens
  private val MaxSimTopK = 10

  /** s20: MaxSim LATE-INTERACTION retrieval (Khattab & Zaharia, "ColBERT",
    * SIGIR'20) — multi-vector scoring where query and document each carry a
    * BAG of token embeddings and score = sum over query tokens of the max
    * dot against any document token: finer-grained than one pooled vector
    * (a doc matching every query term in different places outscores one
    * blob-similar doc). The fixture stores one 64-float vector per doc, so
    * the 4 16-dim subspace slices stand in for token vectors — the real
    * corpus shape is array<array<float>> per doc and the plumbing
    * (slice → per-token dot → max → sum) is identical. Runs in the
    * KMeans QScale integer domain (q = floor(e*2^20)): products <= 2^40,
    * a token dot <= 2^44, the 4-token sum <= 2^46 — exact BIGINTs, so
    * max/sum ordering is engine-identical with no float accumulation.
    *
    * Scale: ONE corpus scan with a broadcast query, the whole score a
    * NATIVE codegen'd triple loop per row
    * ([[graft.functions.MaxSimScore]] — the nested higher-order-function
    * form is CodegenFallback and measured 16x wall at 10x data; the
    * native expression is flat-array integer arithmetic inside
    * whole-stage codegen), top-10 via TakeOrderedAndProject — no shuffle,
    * no join. At billion-doc scale the production composition prunes
    * candidates with s2's LSH index first and MaxSims only the candidate
    * set (s15's two-stage discipline).
    */
  def maxSimTopK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val quant = expr(
      s"""transform(embedding, x ->
         |  CAST(floor(CAST(x AS DOUBLE) * ${KMeans.QScale}.0) AS BIGINT))"""
        .stripMargin)
    val e = Tables.embeddings(s, d)
      .select($"vec_id", $"label", quant.as("q"))
    val qrow = e.filter($"vec_id" === 0).select($"q".as("qq"))
    e.filter($"vec_id" =!= 0)
      .crossJoin(broadcast(qrow))
      .select($"vec_id", $"label",
        graft.functions.MaxSimScore.maxsim($"q", $"qq", MaxSimTokens)
          .as("maxsim"))
      .orderBy($"maxsim".desc, $"vec_id".asc)
      .limit(MaxSimTopK)
  }

  val maxSimTopKSql: String =
    s"""WITH qv AS (SELECT vec_id, label,
       |    list_transform(embedding, x ->
       |      CAST(floor(CAST(x AS DOUBLE) * ${KMeans.QScale}.0) AS BIGINT)) AS q
       |  FROM embeddings),
       |toks AS (SELECT vec_id, label,
       |    list_transform(range(0, $MaxSimTokens),
       |      t -> list_slice(q, t * $MaxSimSubDim + 1, t * $MaxSimSubDim + $MaxSimSubDim)) AS dtoks
       |  FROM qv),
       |qt AS (SELECT dtoks AS qtoks FROM toks WHERE vec_id = 0)
       |SELECT t.vec_id, t.label,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(q.qtoks, qtok ->
       |      list_reduce(
       |        list_transform(t.dtoks, dtok ->
       |          list_reduce(list_prepend(CAST(0 AS BIGINT),
       |            list_transform(range(1, $MaxSimSubDim + 1),
       |              i -> qtok[i] * dtok[i])),
       |            (a, v) -> a + v)),
       |        (a, v) -> greatest(a, v)))),
       |    (a, v) -> a + v) AS maxsim
       |FROM toks t CROSS JOIN qt q
       |WHERE t.vec_id <> 0
       |ORDER BY maxsim DESC, t.vec_id ASC
       |LIMIT $MaxSimTopK""".stripMargin

  /** s15: two-stage retrieval (retrieve-then-rerank) — the production
    * serving pattern for billion-vector search: stage 1 ranks the WHOLE
    * corpus by the int8 integer dot over s5's quantized codes (the
    * 4x-smaller representation is ALL stage 1 reads — at 100 TB the codes
    * are a separate ~64 B/vec dataset) and keeps the top-200 candidates;
    * stage 2 fetches only those 200 full vectors back from the base table
    * (200-row broadcast join on vec_id — never a second corpus pass over
    * the floats) and re-ranks by the exact float dot. Both stages are
    * deterministic (exact integer ranking; FloatDot's left-to-right
    * accumulation mirrored by list_reduce), so the composition
    * hash-checks end-to-end. Emitting qdot beside score makes the re-rank
    * visible: rows where quantized and exact order disagree are the
    * measured win of stage 2.
    */
  def twoStageRerank(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d).withColumn("code", int8Code)
    val q = e.filter($"vec_id" === 0).select($"code".as("qc"))
    val cand = e.crossJoin(broadcast(q))
      .filter($"vec_id" =!= 0)
      .select($"vec_id", int8Dot.as("qdot"))
      .orderBy($"qdot".desc, $"vec_id".asc)
      .limit(200)
    val qv = Tables.embeddings(s, d).filter($"vec_id" === 0)
      .select($"embedding".as("qv"))
    Tables.embeddings(s, d)
      .join(broadcast(cand), "vec_id")
      .crossJoin(broadcast(qv))
      .select($"vec_id", $"label", $"qdot",
        VectorFunctions.dot($"embedding", $"qv").as("score"))
      .orderBy($"score".desc, $"vec_id".asc)
      .limit(20)
  }

  val twoStageRerankSql: String =
    s"""WITH codes AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x ->
       |      CAST(floor(CAST(x AS DOUBLE) *
       |        (127.0 / list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |           list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))),
       |           (m, v) -> greatest(m, v)))) AS INTEGER)) AS code
       |  FROM embeddings),
       |qc AS (SELECT code AS qc FROM codes WHERE vec_id = 0),
       |cand AS (
       |  SELECT e.vec_id,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(1, len(e.code) + 1),
       |        i -> CAST(e.code[i] AS BIGINT) * q.qc[i])),
       |      (acc, v) -> acc + v) AS qdot
       |  FROM codes e CROSS JOIN qc q
       |  WHERE e.vec_id <> 0
       |  ORDER BY qdot DESC, e.vec_id ASC
       |  LIMIT 200)
       |SELECT e.vec_id, e.label, c.qdot, $dotSql AS score
       |FROM embeddings e JOIN cand c ON e.vec_id = c.vec_id
       |CROSS JOIN (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
       |ORDER BY score DESC, e.vec_id ASC
       |LIMIT 20""".stripMargin

  /** s16: hybrid retrieval — reciprocal-rank fusion of the lexical leg
    * (t10's BM25 top-100, reused verbatim) and the vector leg (s1's exact
    * dot top-100 for the vec_id=0 query). RRF fuses each subsystem's
    * PUBLISHED list by rank alone (`1/(60+rank)`, quantized to exact
    * BIGINT as `1e12 div (60+rank)` so the hash check never touches a
    * repeating decimal); docs retrieved by only one leg keep the other
    * rank NULL and score on the single contribution — the standard
    * union-fusion a production search stack runs over BM25 + ANN.
    *
    * Scale shape: each leg is an already-proven retrieval plan (t10's
    * two-pass broadcast-stats BM25; s1's broadcast-query corpus scan);
    * fusion itself only ever sees the two fixed 100-row lists — the
    * rank windows are single-partition over ≤100 rows by construction
    * (bounded, same class as s10's documented 20-row MMR pool), the
    * full-outer merge joins 100×100 ids, and the output is a fixed
    * top-20. At 100 TB the legs dominate; fusion stays O(k).
    */
  def hybridRrf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
    val lexr = TextAnalysis.bm25(s, d)
      .select($"doc_id", row_number()
        .over(w.orderBy($"bm25".desc, $"doc_id".asc)).as("r_lex"))
    val q = Tables.embeddings(s, d).filter($"vec_id" === 0)
      .select($"embedding".as("qv"))
    val vecr = Tables.embeddings(s, d).crossJoin(broadcast(q))
      .filter($"vec_id" =!= 0)
      .select($"vec_id".as("doc_id"),
        VectorFunctions.dot($"embedding", $"qv").as("vscore"))
      .orderBy($"vscore".desc, $"doc_id".asc).limit(100)
      .select($"doc_id", row_number()
        .over(w.orderBy($"vscore".desc, $"doc_id".asc)).as("r_vec"))
    lexr.join(vecr, Seq("doc_id"), "full_outer")
      .select($"doc_id", $"r_lex", $"r_vec",
        (coalesce(expr("1000000000000 div (60 + r_lex)"), lit(0L)) +
         coalesce(expr("1000000000000 div (60 + r_vec)"), lit(0L))).as("rrf"))
      .orderBy($"rrf".desc, $"doc_id".asc).limit(20)
  }

  val hybridRrfSql: String = {
    val vecLeg =
      s"""SELECT e.vec_id AS doc_id, $dotSql AS vscore
         |  FROM embeddings e
         |  CROSS JOIN (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
         |  WHERE e.vec_id <> 0
         |  ORDER BY vscore DESC, doc_id ASC LIMIT 100""".stripMargin
    """WITH lexr AS (
      |  SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS INTEGER) AS r_lex
      |  FROM (@LEX@) lex),
      |vecr AS (
      |  SELECT doc_id, CAST(row_number() OVER (ORDER BY vscore DESC, doc_id ASC) AS INTEGER) AS r_vec
      |  FROM (@VEC@) vec)
      |SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id, l.r_lex, v.r_vec,
      |  COALESCE(1000000000000 // (60 + l.r_lex), 0) +
      |  COALESCE(1000000000000 // (60 + v.r_vec), 0) AS rrf
      |FROM lexr l FULL OUTER JOIN vecr v ON l.doc_id = v.doc_id
      |ORDER BY rrf DESC, doc_id ASC LIMIT 20""".stripMargin
      .replace("@LEX@", TextAnalysis.bm25Sql)
      .replace("@VEC@", vecLeg)
  }

  /** s6: oracle-checked recall@10 of every ANN variant against the exact
    * top-10 — the first question a similarity-search user asks of an
    * approximate index, and the honest price tag on the s2/s3/s4 partition
    * pruning (s2's single bucket legitimately answers 0 rows on a small
    * fixture; this entry MEASURES that instead of hiding it). hits and
    * recall_pct stay in exact integer arithmetic (k = 10, so pct = hits *
    * 10) — no double division to drift between engines.
    */
  def annRecall(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val q = e.filter($"vec_id" === 0).select($"embedding".as("qv"))
    val exact = e.crossJoin(broadcast(q))
      .filter($"vec_id" =!= 0)
      .select($"vec_id", VectorFunctions.dot($"embedding", $"qv").as("score"))
      .orderBy($"score".desc, $"vec_id".asc)
      .limit(10)
      .select($"vec_id")
    def recallOf(name: String, ann: DataFrame): DataFrame =
      ann.select("vec_id").join(exact, "vec_id")
        .agg(count(lit(1)).cast("int").as("hits"))
        .select(lit(name).as("method"), $"hits")
    Seq(
      recallOf("s2_ann_lsh", annLsh(s, d)),
      recallOf("s3_ann_multiprobe", annMultiProbe(s, d)),
      recallOf("s4_ann_ivf", annIvf(s, d)),
      recallOf("s14_ann_probe_adaptive", annProbeUntilK(s, d)))
      .reduce(_ unionByName _)
      .withColumn("recall_pct", ($"hits" * 10).cast("int"))
      .orderBy($"method")
  }

  val annRecallSql: String =
    s"""WITH exact AS (
       |  SELECT vec_id FROM (
       |    SELECT e.vec_id, $dotSql AS score
       |    FROM embeddings e
       |    CROSS JOIN (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
       |    WHERE e.vec_id <> 0
       |    ORDER BY score DESC, e.vec_id ASC
       |    LIMIT 10) t),
       |a2 AS (SELECT vec_id FROM (__S2__) t),
       |a3 AS (SELECT vec_id FROM (__S3__) t),
       |a4 AS (SELECT vec_id FROM (__S4__) t),
       |a14 AS (SELECT vec_id FROM (__S14__) t),
       |r AS (
       |  SELECT 's2_ann_lsh' AS method, CAST(COUNT(*) AS INTEGER) AS hits
       |  FROM a2 JOIN exact USING (vec_id)
       |  UNION ALL
       |  SELECT 's3_ann_multiprobe', CAST(COUNT(*) AS INTEGER)
       |  FROM a3 JOIN exact USING (vec_id)
       |  UNION ALL
       |  SELECT 's4_ann_ivf', CAST(COUNT(*) AS INTEGER)
       |  FROM a4 JOIN exact USING (vec_id)
       |  UNION ALL
       |  SELECT 's14_ann_probe_adaptive', CAST(COUNT(*) AS INTEGER)
       |  FROM a14 JOIN exact USING (vec_id))
       |SELECT method, hits, hits * 10 AS recall_pct
       |FROM r
       |ORDER BY method""".stripMargin
      .replace("__S2__", annLshSql)
      .replace("__S3__", annMultiProbeSql)
      .replace("__S4__", annIvfSql)
      .replace("__S14__", annProbeUntilKSql)

  /** s7: BATCHED ANN — the production lookup shape: a whole table of query
    * vectors answered in ONE job instead of a per-query loop. Each query
    * joins only its own signature bucket (equi-join on the partition
    * column), per-query top-5 via a rank window. The query side is tiny
    * and broadcast, and because the join key IS the partition column,
    * Spark's dynamic partition pruning turns the broadcast side into a
    * runtime PartitionFilter on the index scan — the batch equivalent of
    * s2's literal pruning (PlanAuditSpec pins the dynamicpruning
    * expression). No driver-side loop, no collect of query vectors.
    */
  def annBatch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val idx = AnnIndex.read(s, d)
    val qs = Tables.embeddings(s, d).filter($"vec_id" < 8)
      .select($"vec_id".as("q_id"), $"embedding".as("qv"),
        concat(lit("s"), sigCol($"embedding")).as("qsigp"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"q_id").orderBy($"score".desc, $"vec_id".asc)
    idx.join(broadcast(qs), $"sigp" === $"qsigp" && $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id",
        VectorFunctions.dot($"embedding", $"qv").as("score"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 5)
      .orderBy($"q_id", $"vec_id")
  }

  val annBatchSql: String =
    s"""WITH sigs AS (
       |  SELECT vec_id, label, embedding, ${sigSql("embedding")} AS sig
       |  FROM embeddings),
       |qs AS (SELECT vec_id AS q_id, embedding AS qv, sig AS qsig
       |       FROM sigs WHERE vec_id < 8),
       |cand AS (
       |  SELECT q.q_id, e.vec_id, $dotSql AS score
       |  FROM sigs e JOIN qs q ON e.sig = q.qsig AND e.vec_id <> q.q_id),
       |ranked AS (
       |  SELECT q_id, vec_id, score,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY score DESC, vec_id ASC) AS INTEGER) AS rk
       |  FROM cand)
       |SELECT q_id, vec_id, score, rk
       |FROM ranked
       |WHERE rk <= 5
       |ORDER BY q_id, vec_id""".stripMargin

  /** s8: hard-negative mining — for each anchor vector, the top-5 most
    * similar vectors with a DIFFERENT label: the batch that contrastive /
    * embedding training loops consume (negatives close enough to the
    * anchor to carry gradient). Same one-job batch shape as [[annBatch]]
    * (broadcast anchors, per-anchor rank window, no driver loop); the
    * label inequality is the only semantic difference from plain top-k,
    * and at 100 TB the candidate side is the ANN index rather than the
    * full corpus — the operator shape is unchanged.
    */
  def hardNegatives(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val anchors = e.filter($"vec_id" < 4)
      .select($"vec_id".as("q_id"), $"label".as("q_label"),
        $"embedding".as("qv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"q_id").orderBy($"score".desc, $"vec_id".asc)
    e.crossJoin(broadcast(anchors))
      .filter($"vec_id" =!= $"q_id" && $"label" =!= $"q_label")
      .select($"q_id", $"vec_id", $"label",
        VectorFunctions.dot($"embedding", $"qv").as("score"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 5)
      .orderBy($"q_id", $"vec_id")
  }

  val hardNegativesSql: String =
    s"""WITH anchors AS (
       |  SELECT vec_id AS q_id, label AS q_label, embedding AS qv
       |  FROM embeddings WHERE vec_id < 4),
       |cand AS (
       |  SELECT q.q_id, e.vec_id, e.label, $dotSql AS score
       |  FROM embeddings e CROSS JOIN anchors q
       |  WHERE e.vec_id <> q.q_id AND e.label <> q.q_label),
       |ranked AS (
       |  SELECT q_id, vec_id, label, score,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY score DESC, vec_id ASC) AS INTEGER) AS rk
       |  FROM cand)
       |SELECT q_id, vec_id, label, score, rk
       |FROM ranked
       |WHERE rk <= 5
       |ORDER BY q_id, vec_id""".stripMargin

  /** s10: MMR (maximal marginal relevance) diversified re-ranking — the
    * retrieval shape RAG/search stacks run after ANN: fetch a candidate
    * pool by relevance, then greedily pick k results trading relevance
    * against redundancy: argmax over remaining candidates of
    * `0.5*rel(d) - 0.5*max_{s in picked} sim(d, s)` (Carbonell & Goldstein
    * 1998). The pool (top-20 by exact cosine, s1's TakeOrderedAndProject
    * shape) is computed DISTRIBUTED; the greedy loop runs driver-side over
    * the collected 20-row pool — bounded by design, like the query vector:
    * re-ranking is a per-query O(k·pool) step, not a data-scale one.
    *
    * Exactness: lambda = 0.5 makes both terms power-of-two multiplies
    * (exact); max-similarity is a selection, not accumulation; the final
    * subtraction is one IEEE op on identical operands — so the mmr DOUBLES
    * hash-match, not just the picked ids. Ties break to the lowest vec_id,
    * mirrored by the oracle's ORDER BY.
    */
  def mmrRerank(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val q = e.filter($"vec_id" === 0).select($"embedding".as("qv"))
    val pool = e.crossJoin(broadcast(q))
      .filter($"vec_id" =!= 0)
      .select($"vec_id", $"embedding",
        VectorFunctions.dot($"embedding", $"qv").as("rel"))
      .orderBy($"rel".desc, $"vec_id".asc)
      .limit(20)
      .collect() // the bounded per-query re-rank pool
    val ids = pool.map(_.getLong(0))
    val embs = pool.map(_.getSeq[Float](1).toArray)
    val rels = pool.map(_.getDouble(2))
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0
      var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    val picked = scala.collection.mutable.ArrayBuffer.empty[Int]
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double, Double)]
    for (pick <- 1 to 5) {
      var best = -1
      var bestMmr = Double.NegativeInfinity
      for (i <- ids.indices if !picked.contains(i)) {
        val mmr =
          if (picked.isEmpty) 0.5 * rels(i)
          else 0.5 * rels(i) -
            0.5 * picked.map(j => dot(embs(i), embs(j))).max
        if (mmr > bestMmr || (mmr == bestMmr && best >= 0 && ids(i) < ids(best))) {
          best = i; bestMmr = mmr
        }
      }
      picked += best
      out += ((pick, ids(best), rels(best), bestMmr))
    }
    s.createDataFrame(out.toSeq).toDF("pick", "vec_id", "rel", "mmr")
      .orderBy($"pick")
  }

  /** Oracle: the 5 greedy picks unrolled as CTEs — each selects the
    * argmax of `0.5*rel - 0.5*max(sim to already-picked)` over the
    * remaining pool, ties to lowest vec_id.
    */
  val mmrRerankSql: String = {
    val pairDot =
      """list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(range(1, len(a.embedding) + 1),
        |        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))),
        |      (acc, x) -> acc + x)""".stripMargin
    val sels = (2 to 5).map { n =>
      val prev = (1 until n).map(i => s"SELECT vec_id FROM sel$i")
        .mkString(" UNION ALL ")
      s"""sel$n AS (
         |  SELECT c.vec_id, c.rel,
         |    0.5 * c.rel - 0.5 * (SELECT MAX(p.sim) FROM pair p
         |      WHERE p.ia = c.vec_id AND p.ib IN ($prev)) AS mmr
         |  FROM cands c
         |  WHERE c.vec_id NOT IN ($prev)
         |  ORDER BY mmr DESC, c.vec_id ASC LIMIT 1)""".stripMargin
    }.mkString(",\n")
    val finals = (2 to 5).map(n =>
      s"SELECT CAST($n AS INTEGER) AS pick, vec_id, rel, mmr FROM sel$n")
      .mkString("\nUNION ALL ")
    s"""WITH cands AS (
       |  SELECT e.vec_id, e.embedding, $dotSql AS rel
       |  FROM embeddings e
       |  CROSS JOIN (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
       |  WHERE e.vec_id <> 0
       |  ORDER BY rel DESC, e.vec_id ASC
       |  LIMIT 20),
       |pair AS (
       |  SELECT a.vec_id AS ia, b.vec_id AS ib, __PAIRDOT__ AS sim
       |  FROM cands a JOIN cands b ON a.vec_id <> b.vec_id),
       |sel1 AS (
       |  SELECT vec_id, rel, 0.5 * rel AS mmr FROM cands
       |  ORDER BY rel DESC, vec_id ASC LIMIT 1),
       |__SELS__
       |SELECT * FROM (
       |  SELECT CAST(1 AS INTEGER) AS pick, vec_id, rel, mmr FROM sel1
       |  UNION ALL __FINALS__) t
       |ORDER BY pick""".stripMargin
      .replace("__PAIRDOT__", pairDot)
      .replace("__SELS__", sels)
      .replace("__FINALS__", finals)
  }

  /** s11: lookup over the INCREMENTALLY-maintained index
    * ([[AnnIndex.locateIncremental]]): the base index plus an appended
    * delta generation, unioned at read time — proving append-then-read
    * answers exactly what a full rebuild would (the oracle computes the
    * bucket over the whole corpus in one pass and derives each hit's
    * generation arithmetically). The `gen` column is the provenance a
    * production lookup reports; partition pruning to the query's bucket
    * holds independently in every generation, so an appended index costs
    * one extra file-listing per delta, not a rescan. Probes the s3
    * multi-probe bucket set (hamming <= 1) so the answer is non-empty at
    * fixture scale and hits from BOTH generations appear.
    */
  def annIncremental(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val idx = AnnIndex.readIncremental(s, d)
    val (qv, qsig) = queryPoint(s, d)
    val probes = qsig +: (0 until NumPlanes).map(i =>
      qsig.updated(i, if (qsig(i) == '0') '1' else '0'))
    idx.filter($"sigp".isin(probes.map("s" + _): _*) && $"vec_id" =!= 0)
      .select($"vec_id", $"label", $"sig", $"gen",
        VectorFunctions.dot($"embedding", typedlit(qv)).as("score"))
      .orderBy($"score".desc, $"vec_id".asc)
      .limit(10)
  }

  val annIncrementalSql: String =
    s"""WITH sigs AS (
       |  SELECT vec_id, label, embedding, ${sigSql("embedding")} AS sig
       |  FROM embeddings),
       |q AS (SELECT embedding AS qv, sig AS qsig FROM sigs WHERE vec_id = 0)
       |SELECT e.vec_id, e.label, e.sig,
       |  CAST(CASE WHEN e.vec_id % 5 = 3 THEN 2 ELSE 1 END AS INTEGER) AS gen,
       |  $dotSql AS score
       |FROM sigs e CROSS JOIN q
       |WHERE hamming(e.sig, q.qsig) <= 1 AND e.vec_id <> 0
       |ORDER BY score DESC, e.vec_id ASC
       |LIMIT 10""".stripMargin

  /** s17: lookup over an index with DELETIONS ([[AnnIndex.locateWithDeletes]]):
    * generation 1 is the full corpus, generation 2 a tombstone generation
    * deleting every `vec_id % 7 == 2` row — the takedown/right-to-erasure
    * flow. The read resolves tombstones (bucket-partitioned like the data,
    * so the probe filter prunes the tombstone scan through the `sigp`
    * equi-join) and the top-k is computed over survivors only — proving a
    * committed delete is invisible to search WITHOUT an index rebuild; the
    * next [[AnnIndex.compact]] makes it physical (AnnIndexSpec pins
    * lookup identity across delete → re-insert → fold → vacuum). Same s3
    * multi-probe bucket set; oracle recomputes over the corpus minus the
    * delete set.
    */
  def annWithDeletes(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val idx = AnnIndex.readWithDeletes(s, d)
    val (qv, qsig) = queryPoint(s, d)
    val probes = qsig +: (0 until NumPlanes).map(i =>
      qsig.updated(i, if (qsig(i) == '0') '1' else '0'))
    idx.filter($"sigp".isin(probes.map("s" + _): _*) && $"vec_id" =!= 0)
      .select($"vec_id", $"label", $"sig",
        VectorFunctions.dot($"embedding", typedlit(qv)).as("score"))
      .orderBy($"score".desc, $"vec_id".asc)
      .limit(10)
  }

  /** `vec_id % 7 <> 2` mirrors [[AnnIndex.DelMod]]/[[AnnIndex.DelRem]]
    * literally — change both or neither.
    */
  val annWithDeletesSql: String =
    s"""WITH sigs AS (
       |  SELECT vec_id, label, embedding, ${sigSql("embedding")} AS sig
       |  FROM embeddings),
       |q AS (SELECT embedding AS qv, sig AS qsig FROM sigs WHERE vec_id = 0)
       |SELECT e.vec_id, e.label, e.sig, $dotSql AS score
       |FROM sigs e CROSS JOIN q
       |WHERE hamming(e.sig, q.qsig) <= 1 AND e.vec_id <> 0
       |  AND e.vec_id % 7 <> 2
       |ORDER BY score DESC, e.vec_id ASC
       |LIMIT 10""".stripMargin

  /** s12: FILTERED ANN — the hybrid "metadata predicate + vector search"
    * every production vector store serves (search only label ∈ {1,2,3}).
    * PRE-filter semantics: the predicate applies before the top-k, so the
    * answer always holds k matching rows if they exist (post-filtering a
    * top-k pool silently under-fills — the classic hybrid-search bug).
    * On the persisted index both prunings compose: the probe list stays a
    * PartitionFilter (file listing) and the label predicate pushes into
    * the parquet scan (PushedFilters) — PlanAuditSpec pins both — so the
    * executor reads only matching row groups of the probed buckets.
    */
  def annFiltered(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val idx = AnnIndex.read(s, d)
    val (qv, qsig) = queryPoint(s, d)
    val probes = qsig +: (0 until NumPlanes).map(i =>
      qsig.updated(i, if (qsig(i) == '0') '1' else '0'))
    idx.filter($"sigp".isin(probes.map("s" + _): _*) &&
        $"label".isin(1, 2, 3) && $"vec_id" =!= 0)
      .select($"vec_id", $"label", $"sig",
        VectorFunctions.dot($"embedding", typedlit(qv)).as("score"))
      .orderBy($"score".desc, $"vec_id".asc)
      .limit(5)
  }

  val annFilteredSql: String =
    s"""WITH sigs AS (
       |  SELECT vec_id, label, embedding, ${sigSql("embedding")} AS sig
       |  FROM embeddings),
       |q AS (SELECT embedding AS qv, sig AS qsig FROM sigs WHERE vec_id = 0)
       |SELECT e.vec_id, e.label, e.sig, $dotSql AS score
       |FROM sigs e CROSS JOIN q
       |WHERE hamming(e.sig, q.qsig) <= 1 AND e.label IN (1, 2, 3)
       |  AND e.vec_id <> 0
       |ORDER BY score DESC, e.vec_id ASC
       |LIMIT 5""".stripMargin

  /** s13: int8 quantization error, MEASURED — the price tag on s5's 4x
    * memory saving, same family as s6 (ANN recall) / d11 (MinHash error) /
    * q48 (Count-Min overcount): overlap@20 between the float top-20 (s1)
    * and the int8-ranked top-20 (s5), plus how many of the top-5 float
    * ranks the quantized ranking preserves exactly. All-integer outputs
    * (hits, pct as hits*5), derived by joining the two result sets — at
    * 100 TB this runs on the (k-row) outputs, not the corpus.
    */
  def quantizationError(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"score".desc, $"vec_id".asc)
    val exact = bruteForceTopK(s, d)
      .select($"vec_id", row_number().over(w).as("f_rank"))
    val wq = org.apache.spark.sql.expressions.Window
      .orderBy($"qdot".desc, $"vec_id".asc)
    val quant = quantizedTopK(s, d)
      .select($"vec_id", row_number().over(wq).as("q_rank"))
    val joined = exact.join(quant, Seq("vec_id"))
    joined.agg(
      count(lit(1)).cast("int").as("overlap20"),
      sum(when($"f_rank" === $"q_rank" && $"f_rank" <= 5, 1).otherwise(0))
        .cast("int").as("top5_exact"))
      .select(
        $"overlap20", ($"overlap20" * 5).as("overlap_pct"),
        $"top5_exact", ($"top5_exact" * 20).as("top5_pct"))
  }

  val quantizationErrorSql: String =
    s"""WITH exact AS (
       |  SELECT vec_id,
       |    CAST(ROW_NUMBER() OVER (ORDER BY score DESC, vec_id ASC) AS INTEGER)
       |      AS f_rank
       |  FROM (__S1__) t),
       |quant AS (
       |  SELECT vec_id,
       |    CAST(ROW_NUMBER() OVER (ORDER BY qdot DESC, vec_id ASC) AS INTEGER)
       |      AS q_rank
       |  FROM (__S5__) t)
       |SELECT CAST(COUNT(*) AS INTEGER) AS overlap20,
       |  CAST(COUNT(*) * 5 AS INTEGER) AS overlap_pct,
       |  CAST(COUNT(*) FILTER (WHERE f_rank = q_rank AND f_rank <= 5)
       |    AS INTEGER) AS top5_exact,
       |  CAST(COUNT(*) FILTER (WHERE f_rank = q_rank AND f_rank <= 5) * 20
       |    AS INTEGER) AS top5_pct
       |FROM exact JOIN quant USING (vec_id)""".stripMargin
      .replace("__S1__", bruteForceTopKSql)
      .replace("__S5__", quantizedTopKSql)

  /** s23's radius in the integer-quantized L2² domain (≈ cosine ≥ ~0.27 on
    * unit vectors at QScale 2^20) — chosen so the fixture answer is a few
    * dozen rows; mirrored literally in the oracle.
    */
  val RangeR = 1600000000000L

  /** s23: RANGE search — "everything within distance r", the OTHER vector
    * query shape (top-k asks for the best k however far; range asks for
    * ALL matches however many — takedown sweeps, radius dedup, geo-style
    * fences). Exact one-pass form: a codegen'd filter over the quantized
    * corpus, no sort, result size bounded by the radius not by k. At
    * corpus scale the same query runs approximately behind the s2/s3
    * bucket prefilter + this exact verify (d5's prefilter-then-verify
    * discipline); the exact pass here IS that verify stage.
    */
  def rangeSearch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val q = KMeans.quantized(s, d)
    val probe: Array[Long] = q.filter(_._1 == 0L).first()._2
    val bc = s.sparkContext.broadcast(probe)
    val within = q.filter(_._1 != 0L).flatMap { case (id, v) =>
      var acc = 0L
      var i = 0
      while (i < v.length) { val t = v(i) - bc.value(i); acc += t * t; i += 1 }
      if (acc <= RangeR) Iterator.single((id, acc)) else Iterator.empty
    }.toDF("vec_id", "dist")
    Tables.embeddings(s, d).select($"vec_id", $"label")
      .join(within, Seq("vec_id"))
      .select($"vec_id", $"label", $"dist")
      .orderBy($"dist", $"vec_id")
  }

  val rangeSearchSql: String =
    s"""WITH qf AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(floor(CAST(x AS DOUBLE) * ${KMeans.QScale}.0) AS BIGINT)) AS q
       |  FROM embeddings),
       |w AS (
       |  SELECT v.vec_id,
       |    CAST(list_sum(list_transform(range(1, ${KMeans.Dim + 1}),
       |      i -> (v.q[i] - p.q[i]) * (v.q[i] - p.q[i]))) AS BIGINT) AS dist
       |  FROM qf v
       |  CROSS JOIN (SELECT q FROM qf WHERE vec_id = 0) p(q)
       |  WHERE v.vec_id <> 0)
       |SELECT w.vec_id, e.label, w.dist
       |FROM w JOIN embeddings e USING (vec_id)
       |WHERE w.dist <= $RangeR
       |ORDER BY dist, vec_id""".stripMargin

  /** s24: per-label centroid shift matrix — the embedding-drift /
    * domain-separation diagnostic: each label's integer centroid
    * (component-wise floor-divided mean in the [[KMeans.QScale]] domain —
    * the same order-free arithmetic that makes s9 oracle-exact) and the
    * pairwise squared-L2 distances between centroids. Far-apart labels
    * separate cleanly for a classifier; a label pair that collapses
    * toward 0 is the drift/mislabeling signal. The matrix is
    * |labels|²/2 rows regardless of corpus size.
    *
    * Scale: one (label, component) partial agg over the exploded
    * quantized corpus (the only corpus-sized stage), then a self-join of
    * a |labels|×dim relation — broadcast-sized at any corpus.
    */
  def centroidShift(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val q = Tables.embeddings(s, d)
      .select($"label", posexplode(expr(
        s"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * ${KMeans.QScale}.0) AS BIGINT))"))
        .as(Seq("i", "qv")))
    val cents = q.groupBy($"label", $"i")
      .agg(sum($"qv").as("sm"), count(lit(1)).as("n"))
      .select($"label", $"i",
        expr("(sm - pmod(sm, n)) div n").as("c"))
    val dists = cents.select($"label".as("label_a"), $"i", $"c".as("ca"))
      .join(cents.select($"label".as("label_b"), $"i", $"c".as("cb")), Seq("i"))
      .filter($"label_a" < $"label_b")
      .groupBy($"label_a", $"label_b")
      .agg(sum(($"ca" - $"cb") * ($"ca" - $"cb")).as("dist"))
    dists.orderBy($"label_a", $"label_b")
  }

  val centroidShiftSql: String =
    s"""WITH q AS (
       |  SELECT label, CAST(i AS INTEGER) - 1 AS i,
       |    CAST(floor(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE)
       |      * ${KMeans.QScale}.0) AS BIGINT) AS qv
       |  FROM embeddings CROSS JOIN range(1, ${KMeans.Dim + 1}) t(i)),
       |cents AS (
       |  SELECT label, i,
       |    (s - ((s % n + n) % n)) // n AS c
       |  FROM (SELECT label, i, CAST(SUM(qv) AS BIGINT) AS s,
       |          COUNT(*) AS n
       |        FROM q GROUP BY 1, 2))
       |SELECT a.label AS label_a, b.label AS label_b,
       |  CAST(SUM((a.c - b.c) * (a.c - b.c)) AS BIGINT) AS dist
       |FROM cents a JOIN cents b ON a.i = b.i AND a.label < b.label
       |GROUP BY 1, 2
       |ORDER BY label_a, label_b""".stripMargin

  /** s25: FILTERED vector search — top-k under a metadata predicate
    * (`label IN (1, 2)`), the production shape nearly every vector-store
    * query actually has ("nearest docs in THIS collection/tenant/date
    * range") and the one that quietly breaks post-filtered ANN: filtering
    * AFTER a k-bounded probe can starve the result set. Here the filter
    * applies INSIDE the probed buckets BEFORE ranking (pre-filtering —
    * the index scan is partition-pruned to the s3 probe set AND
    * predicate-filtered in the same codegen stage), and the exact
    * filtered brute-force rides along as ground truth: each returned row
    * carries `in_exact`, so the filtered-recall price tag is IN the
    * result (the s6/q48 discipline).
    *
    * Scale: the candidate leg lists only the 9 probed buckets of the
    * persisted index; the exact leg is the oracle-checkable baseline by
    * construction (at 100 TB it exists only as the audit sample).
    */
  def filteredAnn(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val idx = AnnIndex.read(s, d)
    val (qv, qsig) = queryPoint(s, d)
    val probes = qsig +: (0 until NumPlanes).map(i =>
      qsig.updated(i, if (qsig(i) == '0') '1' else '0'))
    val cand = idx
      .filter($"sigp".isin(probes.map("s" + _): _*) && $"vec_id" =!= 0 &&
        $"label".isin(1, 2))
      .select($"vec_id", $"label",
        VectorFunctions.dot($"embedding", typedlit(qv)).as("score"))
      .orderBy($"score".desc, $"vec_id".asc).limit(10)
    val exact = Tables.embeddings(s, d)
      .filter($"vec_id" =!= 0 && $"label".isin(1, 2))
      .select($"vec_id".as("e_id"),
        VectorFunctions.dot($"embedding", typedlit(qv)).as("e_score"))
      .orderBy($"e_score".desc, $"e_id".asc).limit(10)
    cand.join(exact.select($"e_id"), $"vec_id" === $"e_id", "left")
      .select($"vec_id", $"label", $"score",
        $"e_id".isNotNull.as("in_exact"))
      .orderBy($"score".desc, $"vec_id".asc)
  }

  val filteredAnnSql: String =
    s"""WITH sigs AS (
       |  SELECT vec_id, label, embedding, ${sigSql("embedding")} AS sig
       |  FROM embeddings),
       |q AS (SELECT embedding AS qv, sig AS qsig FROM sigs WHERE vec_id = 0),
       |cand AS (
       |  SELECT e.vec_id, e.label, $dotSql AS score
       |  FROM sigs e CROSS JOIN q
       |  WHERE hamming(e.sig, q.qsig) <= 1 AND e.vec_id <> 0
       |    AND e.label IN (1, 2)
       |  ORDER BY score DESC, e.vec_id ASC
       |  LIMIT 10),
       |exact AS (
       |  SELECT e.vec_id AS e_id
       |  FROM sigs e CROSS JOIN q
       |  WHERE e.vec_id <> 0 AND e.label IN (1, 2)
       |  ORDER BY $dotSql DESC, e.vec_id ASC
       |  LIMIT 10)
       |SELECT c.vec_id, c.label, c.score, ex.e_id IS NOT NULL AS in_exact
       |FROM cand c LEFT JOIN exact ex ON ex.e_id = c.vec_id
       |ORDER BY score DESC, vec_id ASC""".stripMargin

  /** s26: filtered ANN with PROBE-UNTIL-K — the composition s25's own
    * result demands (its sf0.01 run returns 2 rows for k=10: a fixed
    * probe set starves once the predicate thins the buckets). s14's ring
    * expansion runs with the metadata predicate applied INSIDE every
    * ring count, so the radius grows until ≥ k candidates SURVIVE
    * `label IN (1, 2)` — the query every multi-tenant vector store
    * actually serves ("nearest in THIS collection", never fewer than a
    * page of results while the collection has them). Output carries both
    * `probe_radius` (what the lookup cost — the s14 discipline) and
    * `in_exact` (the filtered-recall price tag — the s25/s6 discipline).
    *
    * Scale: each ring count is a partition-pruned, predicate-pushed scan
    * of only that ring's buckets reading only `vec_id`+`label` (~12
    * B/row); the embedding column is read ONCE, by the final ranking
    * scan over rings 0..R. The loop is driver-side but bounded
    * (≤ NumPlanes+1 rings), identical to s14's cost shape.
    */
  def filteredAnnProbeUntilK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = 10
    val idx = AnnIndex.read(s, d)
    val (qv, qsig) = queryPoint(s, d)
    def pred(c: Column): Column = c.isin(1, 2)
    val probed = scala.collection.mutable.ArrayBuffer.empty[String]
    var radius = 0
    var have = 0L
    while (have < k && radius <= NumPlanes) {
      val ring = ringSigs(qsig, radius)
      have += idx
        .filter($"sigp".isin(ring.map("s" + _): _*) && $"vec_id" =!= 0 &&
          pred($"label"))
        .count()
      probed ++= ring
      if (have < k) radius += 1
    }
    val r = math.min(radius, NumPlanes)
    val cand = idx
      .filter($"sigp".isin(probed.map("s" + _).toSeq: _*) &&
        $"vec_id" =!= 0 && pred($"label"))
      .select($"vec_id", $"label",
        VectorFunctions.dot($"embedding", typedlit(qv)).as("score"),
        lit(r).as("probe_radius"))
      .orderBy($"score".desc, $"vec_id".asc).limit(k)
    val exact = Tables.embeddings(s, d)
      .filter($"vec_id" =!= 0 && pred($"label"))
      .select($"vec_id".as("e_id"),
        VectorFunctions.dot($"embedding", typedlit(qv)).as("e_score"))
      .orderBy($"e_score".desc, $"e_id".asc).limit(k)
    cand.join(exact.select($"e_id"), $"vec_id" === $"e_id", "left")
      .select($"vec_id", $"label", $"score", $"probe_radius",
        $"e_id".isNotNull.as("in_exact"))
      .orderBy($"score".desc, $"vec_id".asc)
  }

  /** Oracle replay: s14's minimal-radius rule computed over the
    * PRE-FILTERED distance set (the cumulative count only sees rows
    * surviving the label predicate — exactly the Spark ring loop's
    * count), then the same ranked top-k within that radius, tagged with
    * membership in the exact filtered top-k. */
  val filteredAnnProbeUntilKSql: String =
    s"""WITH sigs AS (
       |  SELECT vec_id, label, embedding, ${sigSql("embedding")} AS sig
       |  FROM embeddings),
       |q AS (SELECT embedding AS qv, sig AS qsig FROM sigs WHERE vec_id = 0),
       |dist AS (
       |  SELECT e.vec_id, e.label, $dotSql AS score,
       |    hamming(e.sig, q.qsig) AS hd
       |  FROM sigs e CROSS JOIN q
       |  WHERE e.vec_id <> 0 AND e.label IN (1, 2)),
       |rad AS (
       |  SELECT COALESCE(MIN(hd), $NumPlanes) AS r FROM (
       |    SELECT hd, SUM(COUNT(*)) OVER (ORDER BY hd) AS cum
       |    FROM dist GROUP BY hd) t
       |  WHERE cum >= 10),
       |cand AS (
       |  SELECT vec_id, label, score, CAST(r AS INTEGER) AS probe_radius
       |  FROM dist, rad
       |  WHERE hd <= r
       |  ORDER BY score DESC, vec_id ASC
       |  LIMIT 10),
       |exact AS (
       |  SELECT e.vec_id AS e_id
       |  FROM sigs e CROSS JOIN q
       |  WHERE e.vec_id <> 0 AND e.label IN (1, 2)
       |  ORDER BY $dotSql DESC, e.vec_id ASC
       |  LIMIT 10)
       |SELECT c.vec_id, c.label, c.score, c.probe_radius,
       |  ex.e_id IS NOT NULL AS in_exact
       |FROM cand c LEFT JOIN exact ex ON ex.e_id = c.vec_id
       |ORDER BY score DESC, vec_id ASC""".stripMargin

  /** s27: index INTEGRITY AUDIT — the persisted LSH index's per-bucket
    * histogram (bucket signature, vector count, earliest vec_id) checked
    * against a first-principles recomputation from the source embeddings:
    * the oracle derives every bucket from scratch, so a hash-equal result
    * PROVES the index holds exactly the corpus — no dropped generation,
    * no double-ingested batch, no orphaned bucket (the audit every
    * vector store runs after a compaction or a restore). The scan reads
    * only (sig, vec_id) — column pruning keeps the audit at metadata
    * weight next to the ~260 B/row embedding payload it never touches.
    * At 100 TB this is the cheap invariant check between maintenance
    * operations; the same shape diffs two indexes after a migration.
    */
  def indexIntegrity(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    AnnIndex.read(s, d)
      .groupBy($"sig")
      .agg(count(lit(1)).as("n_vecs"), min($"vec_id").as("min_vec"))
      .orderBy($"sig")
  }

  val indexIntegritySql: String =
    s"""SELECT ${sigSql("embedding")} AS sig, COUNT(*) AS n_vecs,
       |  MIN(vec_id) AS min_vec
       |FROM embeddings
       |GROUP BY 1
       |ORDER BY sig""".stripMargin

  /** s28: k-NN GRAPH construction — every vector's top-3 neighbors by
    * exact dot among its LSH-bucket cohort: the batch ALL-vectors join
    * shape (the backbone of graph-based dedup, SemDeDup-style cluster
    * graphs, kNN label propagation and hub diagnostics) where the
    * s-family's other entries serve per-QUERY lookups. Pairs never leave
    * their bucket: the self-join is keyed on the full signature, so the
    * shuffle is bucket-local and the quadratic term is bounded by bucket
    * occupancy — the d5 discipline applied to graph building (recall is
    * bucket-resolution-bounded by construction; s14's ring expansion is
    * the widening knob when a production graph needs it). Ranking is
    * (dot DESC, nbr ASC) inside a per-vector window — partitioned, never
    * corpus-wide — and dots are the FloatDot left-to-right accumulation
    * the oracle replays exactly; vectors alone in their bucket emit no
    * rows (an honest recall hole the graph consumer sees, not a silent
    * fill-in).
    */
  /** s29: the index-maintenance loop CLOSED — s24 measures drift,
    * [[AnnIndex.recluster]] acts on it. The query drives the production
    * lifecycle on a content-addressed chain index (idempotent stages —
    * a re-run CAS-adopts the committed chain and short-circuits to the
    * probe, the maintenance cron's steady state): ingest the even half
    * (gen 1),
    * the odd half arrives as a drift wave (gen 2 append), a takedown
    * batch tombstones a slice (gen 3), then `recluster` folds the chain
    * — every live vector preserved, tombstones physically dropped — and
    * publishes fresh integer-Lloyd centroids + a `cellp`-partitioned
    * cell-assignment sidecar. The probe is then IVF over the REFRESHED
    * cells: the query vector's 2 nearest fresh centroids select the
    * cells, exact float dot ranks inside them. The oracle replays the
    * whole pipeline (one Lloyd round over the live set, assignment with
    * (dist, cid) ties, probe selection, dot ranking) — possible because
    * recluster's training is the same order-free integer arithmetic as
    * s9/s21.
    */
  def reclusterProbe(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // Content-addressed chain (the s2/s3 scratch discipline): every
    // lifecycle stage below is IDEMPOTENT — its generation content is a
    // pure function of the fixture, so a re-run adopts the committed
    // chain instead of rebuilding it (exactly the production cron's
    // second invocation: ingest CAS-adopts, the takedown is guarded by
    // the head generation, and a head that is already a fresh fold
    // short-circuits recluster via [[AnnIndex.headFold]]). Cold cost is
    // the ingest cost, paid once per fixture (bench's warm pass measures
    // the steady-state probe).
    val base = new org.apache.hadoop.fs.Path(
      AnnIndex.indexBase("graft-s29", d), "idx")
    AnnIndex.ensureGeneration(s, base, 1L)(out =>
      AnnIndex.buildFiltered(s, d, out, $"vec_id" % 2 === 0))
    if (AnnIndex.committedGenerations(s, base).last._1 < 2L)
      AnnIndex.ensureGeneration(s, base, 2L)(out =>
        AnnIndex.buildFiltered(s, d, out, $"vec_id" % 2 === 1))
    if (AnnIndex.committedGenerations(s, base).last._1 < 3L)
      AnnIndex.delete(s, base,
        Tables.embeddings(s, d).filter($"vec_id" % 89 === 21)
          .select($"vec_id"))
    val dir = AnnIndex.headFold(s, base)
      .orElse(AnnIndex.recluster(s, base, 1000000L))
      .getOrElse(throw new IllegalStateException(
        "bootstrap recluster did not fire"))
    val cents = s.read.parquet(s"$dir/${AnnIndex.CentroidsSidecar}")
      .collect().map(r => (r.getInt(0), r.getSeq[Long](1).toArray))
    val qv = Tables.embeddings(s, d).filter($"vec_id" === 0)
      .select($"embedding").head().getSeq[Float](0).toArray
    val qq = qv.map(x => math.floor(x.toDouble * KMeans.QScale).toLong)
    def l2(a: Array[Long], b: Array[Long]): Long = {
      var acc = 0L; var i = 0
      while (i < a.length) { val t = a(i) - b(i); acc += t * t; i += 1 }
      acc
    }
    val probes = cents.map { case (cid, cq) => (l2(qq, cq), cid) }
      .sorted.take(2).map { case (_, cid) => s"c$cid" }.toSeq
    val cells = s.read.parquet(s"$dir/${AnnIndex.CellsSidecar}")
      .filter($"cellp".isin(probes: _*))
    val out = s.read.parquet(dir)
      .join(cells, Seq("vec_id"))
      .filter($"vec_id" =!= 0)
      .select($"vec_id", $"label", $"cellp".as("cell"),
        VectorFunctions.dot($"embedding", typedlit(qv)).as("score"))
      .orderBy($"score".desc, $"vec_id".asc)
      .limit(10)
    out
  }

  val reclusterProbeSql: String =
    s"""WITH live AS (
       |  SELECT * FROM embeddings WHERE vec_id % 89 <> 21),
       |__LLOYD__,
       |d2 AS (
       |  SELECT v.vec_id, c.cid,
       |    CAST(list_sum(list_transform(range(1, ${Dim + 1}),
       |      i -> (v.q[i] - c.c[i]) * (v.q[i] - c.c[i]))) AS BIGINT) AS dist
       |  FROM q v CROSS JOIN c1 c),
       |a2 AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |    FROM d2) t WHERE rn = 1),
       |qcells AS (
       |  SELECT cid FROM (
       |    SELECT cid, ROW_NUMBER() OVER (ORDER BY dist, cid) AS rn
       |    FROM d2 WHERE vec_id = 0) t
       |  WHERE rn <= 2),
       |qv0 AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
       |SELECT e.vec_id, e.label,
       |  'c' || CAST(a.cid AS VARCHAR) AS cell, $dotSql AS score
       |FROM live e
       |JOIN a2 a USING (vec_id)
       |JOIN qcells qc ON a.cid = qc.cid
       |CROSS JOIN qv0 q
       |WHERE e.vec_id <> 0
       |ORDER BY score DESC, e.vec_id ASC
       |LIMIT 10""".stripMargin
      .replace("__LLOYD__",
        KMeans.lloydCtes(AnnIndex.IvfCentroids)
          .replace("FROM embeddings", "FROM live"))

  def knnGraph(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, d)
      .select($"vec_id", $"embedding", sigCol($"embedding").as("sig"))
    val nb = e.as("a").join(e.as("b"),
        $"a.sig" === $"b.sig" && $"a.vec_id" =!= $"b.vec_id")
      .select($"a.vec_id".as("vec_id"), $"b.vec_id".as("nbr"),
        graft.functions.VectorFunctions
          .dot($"a.embedding", $"b.embedding").as("dot"))
    val w = Window.partitionBy($"vec_id").orderBy($"dot".desc, $"nbr".asc)
    nb.withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3)
      .select($"vec_id", $"rk", $"nbr", $"dot")
      .orderBy($"vec_id", $"rk")
  }

  val knnGraphSql: String =
    s"""WITH sigs AS (
       |  SELECT vec_id, ${sigSql("embedding")} AS sig, embedding
       |  FROM embeddings),
       |nb AS (
       |  SELECT a.vec_id, b.vec_id AS nbr,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(range(1, len(a.embedding) + 1),
       |        i -> CAST(a.embedding[i] AS DOUBLE) *
       |             CAST(b.embedding[i] AS DOUBLE))),
       |      (acc, x) -> acc + x) AS dot
       |  FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.vec_id <> b.vec_id),
       |rk AS (
       |  SELECT vec_id, nbr, dot,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY dot DESC, nbr ASC) AS rk
       |  FROM nb)
       |SELECT vec_id, CAST(rk AS INTEGER) AS rk, nbr, dot
       |FROM rk WHERE rk <= 3
       |ORDER BY vec_id, rk""".stripMargin

  /** s30: two-table kNN JOIN — the batch SERVING shape (label transfer /
    * kNN classification): a PROBE batch (vec_id % 101 == 7, ~1% of the
    * corpus) joined against the REST, top-3 neighbors per probe with the
    * neighbor's label carried — what "classify these new documents
    * against the labeled corpus" compiles to. Same bucket-local
    * discipline as s28's self-graph: probes meet only their LSH-bucket
    * cohort (equi-join on the full signature — quadratic term bounded by
    * bucket occupancy, never probes × corpus), per-probe ranking via the
    * partitioned top-k window (WindowGroupLimit), probes whose bucket
    * holds no corpus vector emit nothing (honest recall hole, the
    * s28/d23 discipline). Mod 101/7 mirrored literally in the oracle.
    */
  def knnJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, d)
      .select($"vec_id", $"label", $"embedding",
        sigCol($"embedding").as("sig"))
    val probes = e.filter($"vec_id" % 101 === 7)
    val corpus = e.filter($"vec_id" % 101 =!= 7)
    val nb = probes.as("q").join(corpus.as("c"), $"q.sig" === $"c.sig")
      .select($"q.vec_id".as("probe_id"), $"c.vec_id".as("nbr"),
        $"c.label".as("nbr_label"),
        graft.functions.VectorFunctions
          .dot($"q.embedding", $"c.embedding").as("dot"))
    val w = Window.partitionBy($"probe_id").orderBy($"dot".desc, $"nbr".asc)
    nb.withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3)
      .select($"probe_id", $"rk", $"nbr", $"nbr_label", $"dot")
      .orderBy($"probe_id", $"rk")
  }

  val knnJoinSql: String =
    s"""WITH sigs AS (
       |  SELECT vec_id, label, ${sigSql("embedding")} AS sig, embedding
       |  FROM embeddings),
       |nb AS (
       |  SELECT q.vec_id AS probe_id, c.vec_id AS nbr,
       |    c.label AS nbr_label,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(range(1, len(q.embedding) + 1),
       |        i -> CAST(q.embedding[i] AS DOUBLE) *
       |             CAST(c.embedding[i] AS DOUBLE))),
       |      (acc, x) -> acc + x) AS dot
       |  FROM sigs q JOIN sigs c ON q.sig = c.sig
       |  WHERE q.vec_id % 101 = 7 AND c.vec_id % 101 <> 7),
       |rk AS (
       |  SELECT probe_id, nbr, nbr_label, dot,
       |    ROW_NUMBER() OVER (PARTITION BY probe_id
       |      ORDER BY dot DESC, nbr ASC) AS rk
       |  FROM nb)
       |SELECT probe_id, CAST(rk AS INTEGER) AS rk, nbr, nbr_label, dot
       |FROM rk WHERE rk <= 3
       |ORDER BY probe_id, rk""".stripMargin

  /** s31: MATRYOSHKA truncation recall — MRL (Kusupati et al. 2022)
    * ships one embedding whose PREFIX is itself a usable lower-dim
    * embedding; the deployment question is what top-k quality the
    * 4×-cheaper 16-dim prefix buys. The query ranks the corpus BOTH ways
    * (full 64-dim exact dot, prefix [[MatDim]]-dim dot) and emits the
    * full top-10 with each row's prefix-ranking position (NULL = fell
    * out — the truncation's recall hole, the s6/q48 price-tag
    * discipline). Shapes: each ranking is TakeOrderedAndProject (the
    * distributed top-k — never a corpus sort; s15's pinned pattern),
    * rank assignment is the ONE sanctioned unpartitioned-window shape
    * (re-rank directly above a GlobalLimit), and the two 10-row lists
    * join broadcast. [[MatDim]] mirrored literally in the oracle.
    */
  val MatDim = 16

  def matryoshkaRecall(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, d)
    val q = e.filter($"vec_id" === 0)
      .select($"embedding".as("qv"),
        slice($"embedding", 1, MatDim).as("qp"))
    val base = e.filter($"vec_id" =!= 0).crossJoin(broadcast(q))
      .select($"vec_id", $"label",
        VectorFunctions.dot($"embedding", $"qv").as("score"),
        VectorFunctions.dot(slice($"embedding", 1, MatDim), $"qp")
          .as("p_score"))
    val w = Window.orderBy($"score".desc, $"vec_id".asc)
    val full = base.orderBy($"score".desc, $"vec_id".asc).limit(10)
      .withColumn("rank", row_number().over(w))
    val wp = Window.orderBy($"p_score".desc, $"vec_id".asc)
    val prefix = base.orderBy($"p_score".desc, $"vec_id".asc).limit(10)
      .withColumn("p_rank", row_number().over(wp))
      .select($"vec_id", $"p_rank")
    full.join(broadcast(prefix), Seq("vec_id"), "left")
      .select($"rank", $"vec_id", $"label", $"score", $"p_rank",
        $"p_rank".isNotNull.as("in_prefix"))
      .orderBy($"rank")
  }

  val matryoshkaRecallSql: String =
    s"""WITH q AS (
       |  SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |base AS (
       |  SELECT e.vec_id, e.label,
       |    $dotSql AS score,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(range(1, ${MatDim + 1}),
       |        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))),
       |      (acc, x) -> acc + x) AS p_score
       |  FROM embeddings e CROSS JOIN q
       |  WHERE e.vec_id <> 0),
       |f AS (
       |  SELECT vec_id, label, score,
       |    ROW_NUMBER() OVER (ORDER BY score DESC, vec_id ASC) AS rank
       |  FROM base QUALIFY rank <= 10),
       |p AS (
       |  SELECT vec_id,
       |    ROW_NUMBER() OVER (ORDER BY p_score DESC, vec_id ASC) AS p_rank
       |  FROM base QUALIFY p_rank <= 10)
       |SELECT CAST(f.rank AS INTEGER) AS rank, f.vec_id, f.label, f.score,
       |  CAST(p.p_rank AS INTEGER) AS p_rank,
       |  (p.p_rank IS NOT NULL) AS in_prefix
       |FROM f LEFT JOIN p USING (vec_id)
       |ORDER BY rank""".stripMargin

  /** s32: kNN join with RING-EXPANSION fallback for starved probes (r15
    * — the s30/s28 empty-cohort recall knob). s30's honest hole: a probe
    * whose LSH bucket holds fewer than k corpus vectors emits a short
    * (or empty) neighbor list. Here the s14 escalation composes in at
    * BATCH scale: probes satisfied at radius 0 keep their exact-sig
    * cohort; STARVED probes (cohort < k) explode into their 8
    * hamming-1 ring signatures and equi-join those buckets too — still
    * bucket-local (never probes x corpus; the quadratic term stays
    * bounded by bucket occupancy x 9), with `probe_radius` provenance
    * per probe (the s14 discipline: callers see what the lookup cost).
    * Each row also carries the s6-style PRICE TAG: `exact_hits3` = how
    * many of the probe's fallback top-3 appear in its exact brute-force
    * top-3 (the measurement half — the exact baseline is a
    * broadcast-probe pass, priced for audit runs, sampled in
    * production). Probes still starved at radius 1 emit what they have —
    * the hole narrows, it never silently fills. Mods 101/7, k=3 and the
    * radius-1 bound mirrored literally in the oracle.
    */
  def knnJoinFallback(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, d)
      .select($"vec_id", $"label", $"embedding",
        sigCol($"embedding").as("sig"))
    val probes = e.filter($"vec_id" % 101 === 7)
    val corpus = e.filter($"vec_id" % 101 =!= 7)
    def pairs(q: DataFrame): DataFrame =
      q.as("q").join(corpus.as("c"), $"q.sig" === $"c.sig")
        .select($"q.vec_id".as("probe_id"), $"c.vec_id".as("nbr"),
          $"c.label".as("nbr_label"),
          graft.functions.VectorFunctions
            .dot($"q.embedding", $"c.embedding").as("dot"))
    val nb0 = pairs(probes)
    val cnt0 = nb0.groupBy($"probe_id").agg(count(lit(1)).as("n0"))
    // starved = cohort smaller than k (absent cohort included)
    val starved = probes
      .join(cnt0, probes("vec_id") === cnt0("probe_id"), "left")
      .filter(coalesce($"n0", lit(0L)) < 3)
      .select(probes("vec_id"), $"embedding", $"sig")
    // hamming-1 ring: 8 one-bit flips of the probe signature, exploded
    // back into sig-equality buckets (the join stays an equi-join)
    val ring1 = starved.select($"vec_id", $"embedding",
      explode(expr(
        "transform(sequence(1, 8), i -> concat(substring(sig, 1, i - 1), " +
          "CASE WHEN substring(sig, i, 1) = '0' THEN '1' ELSE '0' END, " +
          "substring(sig, i + 1, 8)))")).as("sig"))
    val cand = nb0.unionByName(pairs(ring1))
    val radius = starved.select($"vec_id".as("probe_id"))
      .withColumn("probe_radius", lit(1))
    val w = Window.partitionBy($"probe_id")
      .orderBy($"dot".desc, $"nbr".asc)
    val top3 = cand.withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3)
    // price tag: exact brute-force top-3 per probe (broadcast-probe
    // measurement pass), intersected by neighbor id
    val exact = corpus.as("c")
      .crossJoin(broadcast(probes.select($"vec_id".as("pid"),
        $"embedding".as("pv"))))
      .select($"pid", $"c.vec_id".as("enbr"),
        graft.functions.VectorFunctions
          .dot($"pv", $"c.embedding").as("edot"))
      .withColumn("erk", row_number().over(
        Window.partitionBy($"pid").orderBy($"edot".desc, $"enbr".asc)))
      .filter($"erk" <= 3)
    val hits = top3.join(exact,
        $"probe_id" === $"pid" && $"nbr" === $"enbr", "left_semi")
      .groupBy($"probe_id".as("hpid"))
      .agg(count(lit(1)).as("exact_hits3"))
    top3
      .join(broadcast(radius), Seq("probe_id"), "left")
      .join(broadcast(hits), $"probe_id" === $"hpid", "left")
      .select($"probe_id", $"rk", $"nbr", $"nbr_label", $"dot",
        coalesce($"probe_radius", lit(0)).as("probe_radius"),
        coalesce($"exact_hits3", lit(0L)).as("exact_hits3"))
      .orderBy($"probe_id", $"rk")
  }

  val knnJoinFallbackSql: String =
    s"""WITH sigs AS (
       |  SELECT vec_id, label, ${sigSql("embedding")} AS sig, embedding
       |  FROM embeddings),
       |pr AS (SELECT * FROM sigs WHERE vec_id % 101 = 7),
       |cp AS (SELECT * FROM sigs WHERE vec_id % 101 <> 7),
       |allp AS (
       |  SELECT q.vec_id AS probe_id, c.vec_id AS nbr,
       |    c.label AS nbr_label,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(range(1, len(q.embedding) + 1),
       |        i -> CAST(q.embedding[i] AS DOUBLE) *
       |             CAST(c.embedding[i] AS DOUBLE))),
       |      (acc, x) -> acc + x) AS dot,
       |    hamming(q.sig, c.sig) AS hd
       |  FROM pr q JOIN cp c ON hamming(q.sig, c.sig) <= 1),
       |cnt0 AS (
       |  SELECT p.vec_id AS probe_id,
       |    (SELECT COUNT(*) FROM allp a
       |     WHERE a.probe_id = p.vec_id AND a.hd = 0) AS n0
       |  FROM pr p),
       |cand AS (
       |  SELECT a.probe_id, a.nbr, a.nbr_label, a.dot
       |  FROM allp a JOIN cnt0 n ON n.probe_id = a.probe_id
       |  WHERE a.hd = 0 OR n.n0 < 3),
       |rk AS (
       |  SELECT probe_id, nbr, nbr_label, dot,
       |    ROW_NUMBER() OVER (PARTITION BY probe_id
       |      ORDER BY dot DESC, nbr ASC) AS rk
       |  FROM cand),
       |top3 AS (SELECT * FROM rk WHERE rk <= 3),
       |ex AS (
       |  SELECT q.vec_id AS probe_id, c.vec_id AS nbr,
       |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |      list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |        list_transform(range(1, len(q.embedding) + 1),
       |          i -> CAST(q.embedding[i] AS DOUBLE) *
       |               CAST(c.embedding[i] AS DOUBLE))),
       |        (acc, x) -> acc + x) DESC, c.vec_id ASC) AS erk
       |  FROM pr q CROSS JOIN cp c),
       |hits AS (
       |  SELECT t.probe_id, CAST(COUNT(*) AS BIGINT) AS exact_hits3
       |  FROM top3 t JOIN ex e
       |    ON e.probe_id = t.probe_id AND e.nbr = t.nbr AND e.erk <= 3
       |  GROUP BY t.probe_id)
       |SELECT t.probe_id, CAST(t.rk AS INTEGER) AS rk, t.nbr,
       |  t.nbr_label, t.dot,
       |  CAST(CASE WHEN n.n0 < 3 THEN 1 ELSE 0 END AS INTEGER)
       |    AS probe_radius,
       |  COALESCE(h.exact_hits3, 0) AS exact_hits3
       |FROM top3 t
       |JOIN cnt0 n ON n.probe_id = t.probe_id
       |LEFT JOIN hits h ON h.probe_id = t.probe_id
       |ORDER BY t.probe_id, rk""".stripMargin

  /** s37: the grouped-top-k PHYSICAL OPERATOR (q88's ladder) in its
    * motivating domain — per-probe kNN shortlists: 5 probe vectors
    * broadcast against the corpus, exact FloatDot scores, then the
    * k-heap keeps each probe's top-10 MAP-SIDE. The window form this
    * replaces shuffles every (probe, candidate) scored pair — 5× the
    * corpus — before dropping any; the two-phase exec's exchange
    * carries ≤ k·probes·partitions rows, which is the serving-path
    * cost batch shortlist jobs actually need (the same shape s30/s33
    * reach via bucketing; this is the dense-scoring variant). Scores
    * are the deterministic left-to-right FloatDot accumulation, so the
    * oracle's list_reduce replay is bit-identical (s1's discipline).
    */
  def topkExecKnn(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val probes = e.filter($"vec_id" < 5)
      .select($"vec_id".as("probe_id"), $"embedding".as("qv"))
    val scored = e.filter($"vec_id" >= 5)
      .crossJoin(broadcast(probes))
      .select($"probe_id", $"vec_id", $"label",
        VectorFunctions.dot($"embedding", $"qv").as("score"))
    graft.plans.GroupedTopK.topKPerGroup(scored, 10,
      Seq("probe_id"), Seq(("score", false), ("vec_id", true)))
      .orderBy($"probe_id", $"score".desc, $"vec_id")
  }

  val topkExecKnnSql: String =
    s"""WITH sc AS MATERIALIZED (
       |  SELECT q.probe_id, e.vec_id, e.label, $dotSql AS score
       |  FROM embeddings e
       |  CROSS JOIN (SELECT vec_id AS probe_id, embedding AS qv
       |              FROM embeddings WHERE vec_id < 5) q
       |  WHERE e.vec_id >= 5),
       |rk AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
       |    ORDER BY score DESC, vec_id) AS rn
       |  FROM sc)
       |SELECT probe_id, vec_id, label, score FROM rk
       |WHERE rn <= 10
       |ORDER BY probe_id, score DESC, vec_id""".stripMargin

  /** s38 constants — mirrored LITERALLY in [[nswSearchSql]] (change both
    * or neither). Graph degree 8, beam width 6, 2 expansion hops, 4
    * global entry points, top-3 served. The recall audit prices probes
    * below [[NswAuditBound]] only — a FIXED slice, so the exact
    * (probe × corpus) reference stays LINEAR in the corpus while the
    * walk serves every probe (first shipped auditing all probes: 1% of
    * N probes × N corpus went quadratic, 21.9× on the 10× smoke;
    * unaudited probes report hits3 = -1, "not priced", never a fake 0).
    */
  val NswGraphK = 8
  val NswBeam = 6
  val NswEntries = 4
  val NswAuditBound = 3232

  /** Exact integer dot over two int8 code arrays — every s38 score, so
    * build, walk, and the exact reference are all engine-identical. */
  private def icodeDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("long") * y.cast("long")),
      lit(0L), (acc, v) => acc + v)

  private def icodeDotSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |  list_transform(range(1, len($a) + 1),
       |    i -> CAST($a[i] AS BIGINT) * $b[i])),
       |  (acc, v) -> acc + v)""".stripMargin

  /** The s38 NAVIGABLE-GRAPH index build: bucket-local top-[[NswGraphK]]
    * neighbors by integer dot (s28's graph at degree 8, scored in s5's
    * int8 domain so the oracle replays it exactly), PUBLISHED once per
    * fixture dir through [[AnnIndex.ensureGeneration]] — racing builders
    * stage identical bytes, one wins `commits/1`, losers adopt it (Bench
    * warms it, so the serving path reads a persisted artifact, exactly
    * like a production vector store). */
  private[graft] def publishedNswGraph(s: SparkSession, d: String): String = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val root = AnnIndex.indexBase("graft-nsw", d)
    AnnIndex.ensureGeneration(s, root, 1L) { out =>
      val corpus = Tables.embeddings(s, d)
        .filter($"vec_id" % 101 =!= 7)
        .select($"vec_id", int8Code.as("code"), sigCol($"embedding").as("sig"))
      val a = corpus.select($"vec_id".as("node"), $"code".as("ac"), $"sig")
      val b = corpus.select($"vec_id".as("nbr"), $"code".as("bc"),
        $"sig".as("bsig"))
      val w = Window.partitionBy($"node").orderBy($"idot".desc, $"nbr".asc)
      val adj = a.join(b, $"sig" === $"bsig" && $"node" =!= $"nbr")
        .select($"node", $"nbr", icodeDot($"ac", $"bc").as("idot"))
        .withColumn("rk", row_number().over(w))
        .filter($"rk" <= NswGraphK)
        .select($"node", $"nbr")
      adj.write.mode("overwrite").parquet(out)
    }
  }

  /** s38: NAVIGABLE-GRAPH ANN (NSW-style beam search, r18 — the index
    * family production vector stores default to, completing the
    * portfolio next to LSH/IVF/PQ): search walks the published degree-8
    * neighbor graph from [[NswEntries]] fixed global entry points, two
    * bounded expansion hops, each keeping the top-[[NswBeam]] candidates
    * per probe — every score the EXACT INTEGER dot over s5's int8 codes
    * and every tie broken (idot DESC, node ASC), so the whole walk is
    * deterministic and the oracle REPLAYS it hop by hop as unrolled
    * CTEs. Emitted per (probe, rk<=3): the beam's neighbor + its score +
    * the probe's recall@3 against the exact int-dot top-3 (the s6-style
    * price tag; the exact side is probes x corpus — the audit slice is
    * ~1% by the s30 mod-101 contract, and at 100 TB the reference stays
    * a priced SAMPLE while the walk itself touches only
    * beam x degree x hops candidates per probe, the whole point of a
    * navigable graph). All expansion joins are keyed on node id against
    * the persisted adjacency; windows are probe-partitioned, never
    * global.
    */
  def nswSearch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val adjPath = publishedNswGraph(s, d)
    val adj = s.read.parquet(adjPath)
      .select($"node".as("anode"), $"nbr".as("anbr"))
    val codes = Tables.embeddings(s, d)
      .select($"vec_id", int8Code.as("code"))
    val probes = codes.filter($"vec_id" % 101 === 7)
      .select($"vec_id".as("probe_id"), $"code".as("pc"))
    val corpusCodes = codes.filter($"vec_id" % 101 =!= 7)
      .select($"vec_id".as("node"), $"code".as("nc"))
    nswServe(s, adj, corpusCodes, probes)
  }

  /** The s38/s39 SERVING path over a published adjacency: 2 bounded
    * hops, beam [[NswBeam]], entries = the [[NswEntries]] smallest
    * corpus nodes, recall priced on the fixed audit slice. `adj` comes
    * in as (anode, anbr). */
  /** One beam-expansion hop (s38; shared by s40/s41): grow the frontier
    * by the persisted adjacency, score every candidate with the exact
    * integer dot, keep the top-[[NswBeam]] per probe.
    *
    * r19 opt: the frontier is referenced ONCE — a left join against the
    * adjacency followed by an explode of (self, neighbor) — so the hop
    * no longer needs its own eager `localCheckpoint` to keep the plan
    * from doubling (the r18 shape referenced `cur` twice via a
    * self+neighbors union). Multi-hop callers now chain hops into ONE
    * lazy plan — one Spark job instead of one per hop; callers that
    * genuinely re-reference a hop's output (s41's escalation set
    * difference, s42's visited pool) still checkpoint at their own
    * boundary. Set semantics unchanged: {node} ∪ neighbors(node),
    * distinct — the left join keeps frontier nodes with no out-edges,
    * and the null neighbor slot those rows carry is filtered out. */
  private def nswHop(s: SparkSession, adj: DataFrame,
      corpusCodes: DataFrame, probes: DataFrame)(cur0: DataFrame)
      : DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val wBeam = Window.partitionBy($"probe_id")
      .orderBy($"idot".desc, $"node".asc)
    val grown = cur0.select($"probe_id", $"node")
      .join(adj, $"node" === $"anode", "left")
      .select($"probe_id", explode(array($"node", $"anbr")).as("gnode"))
      .filter($"gnode".isNotNull)
      .select($"probe_id", $"gnode".as("node"))
      .distinct()
    grown.join(corpusCodes, "node").join(probes, "probe_id")
      .select($"probe_id", $"node", icodeDot($"pc", $"nc").as("idot"))
      .withColumn("rk", row_number().over(wBeam))
      .filter($"rk" <= NswBeam)
      .select($"probe_id", $"node", $"idot")
  }

  /** The entry frontier: every probe crossed with the [[NswEntries]]
    * smallest corpus nodes. */
  private def nswL0(s: SparkSession, corpusCodes: DataFrame,
      probes: DataFrame): DataFrame = {
    import s.implicits._
    val entries = corpusCodes.orderBy($"node".asc).limit(NswEntries)
      .select($"node")
    probes.select($"probe_id").crossJoin(broadcast(entries))
  }

  private def nswServe(s: SparkSession, adj: DataFrame,
      corpusCodes: DataFrame, probes: DataFrame): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    def hop(cur0: DataFrame): DataFrame =
      nswHop(s, adj, corpusCodes, probes)(cur0)
    val l0 = nswL0(s, corpusCodes, probes)
    val walked = hop(hop(l0)).localCheckpoint(true)
    val w3 = Window.partitionBy($"probe_id")
      .orderBy($"idot".desc, $"node".asc)
    val beam3 = walked.withColumn("rk", row_number().over(w3))
      .filter($"rk" <= 3)
      .select($"probe_id", $"rk", $"node".as("nbr"), $"idot")
    // recall price tag on the FIXED audit slice only (NswAuditBound):
    // the exact reference costs audit_probes x corpus — constant x N
    val audit = probes.filter($"probe_id" < NswAuditBound)
    val exact3 = corpusCodes.crossJoin(broadcast(audit))
      .select($"probe_id", $"node", icodeDot($"pc", $"nc").as("idot"))
      .withColumn("rk", row_number().over(w3))
      .filter($"rk" <= 3)
      .select($"probe_id", $"node".as("xnbr"))
    val hits = beam3.join(exact3,
        beam3("probe_id") === exact3("probe_id") &&
          beam3("nbr") === exact3("xnbr"))
      .groupBy(beam3("probe_id").as("hp"))
      .agg(count(lit(1)).as("hits3"))
    beam3.join(hits, $"probe_id" === $"hp", "left")
      .select($"probe_id", $"rk", $"nbr", $"idot",
        when($"probe_id" < NswAuditBound, coalesce($"hits3", lit(0L)))
          .otherwise(lit(-1L)).as("hits3"))
      .orderBy($"probe_id", $"rk")
  }

  lazy val nswSearchSql: String = {
    val codeSql =
      """list_transform(embedding, x ->
        |  CAST(floor(CAST(x AS DOUBLE) *
        |    (127.0 / list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |       list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))),
        |       (m, v) -> greatest(m, v)))) AS INTEGER))""".stripMargin
    s"""WITH codes AS MATERIALIZED (
       |  SELECT vec_id, $codeSql AS code, ${sigSql("embedding")} AS sig
       |  FROM embeddings),
       |probes AS MATERIALIZED (
       |  SELECT vec_id AS probe_id, code AS pc FROM codes
       |  WHERE vec_id % 101 = 7),
       |corpus AS MATERIALIZED (
       |  SELECT vec_id AS node, code AS nc, sig FROM codes
       |  WHERE vec_id % 101 <> 7),
       |adj AS MATERIALIZED (
       |  SELECT node, nbr FROM (
       |    SELECT node, nbr,
       |      ROW_NUMBER() OVER (PARTITION BY node
       |        ORDER BY idot DESC, nbr ASC) AS rk
       |    FROM (SELECT a.node AS node, b.node AS nbr,
       |            ${icodeDotSql("a.nc", "b.nc")} AS idot
       |          FROM corpus a JOIN corpus b
       |            ON a.sig = b.sig AND a.node <> b.node))
       |  WHERE rk <= 8),
       |entries AS (SELECT node FROM corpus ORDER BY node LIMIT 4),
       |l0 AS (SELECT probe_id, node FROM probes CROSS JOIN entries),
       |g1 AS (SELECT DISTINCT probe_id, node FROM (
       |  SELECT probe_id, node FROM l0
       |  UNION ALL
       |  SELECT l0.probe_id, adj.nbr AS node FROM l0 JOIN adj USING (node))),
       |s1 AS MATERIALIZED (
       |  SELECT probe_id, node, idot FROM (
       |    SELECT g.probe_id, g.node,
       |      ${icodeDotSql("p.pc", "c.nc")} AS idot,
       |      ROW_NUMBER() OVER (PARTITION BY g.probe_id
       |        ORDER BY ${icodeDotSql("p.pc", "c.nc")} DESC, g.node ASC)
       |        AS rk
       |    FROM g1 g JOIN corpus c ON g.node = c.node
       |      JOIN probes p ON g.probe_id = p.probe_id)
       |  WHERE rk <= 6),
       |g2 AS (SELECT DISTINCT probe_id, node FROM (
       |  SELECT probe_id, node FROM s1
       |  UNION ALL
       |  SELECT s1.probe_id, adj.nbr AS node FROM s1 JOIN adj USING (node))),
       |s2 AS MATERIALIZED (
       |  SELECT probe_id, node, idot FROM (
       |    SELECT g.probe_id, g.node,
       |      ${icodeDotSql("p.pc", "c.nc")} AS idot,
       |      ROW_NUMBER() OVER (PARTITION BY g.probe_id
       |        ORDER BY ${icodeDotSql("p.pc", "c.nc")} DESC, g.node ASC)
       |        AS rk
       |    FROM g2 g JOIN corpus c ON g.node = c.node
       |      JOIN probes p ON g.probe_id = p.probe_id)
       |  WHERE rk <= 6),
       |beam3 AS MATERIALIZED (
       |  SELECT probe_id, rk, node AS nbr, idot FROM (
       |    SELECT probe_id, node, idot,
       |      ROW_NUMBER() OVER (PARTITION BY probe_id
       |        ORDER BY idot DESC, node ASC) AS rk
       |    FROM s2)
       |  WHERE rk <= 3),
       |exact3 AS MATERIALIZED (
       |  SELECT probe_id, node AS xnbr FROM (
       |    SELECT p.probe_id, c.node,
       |      ROW_NUMBER() OVER (PARTITION BY p.probe_id
       |        ORDER BY ${icodeDotSql("p.pc", "c.nc")} DESC, c.node ASC)
       |        AS rk
       |    FROM corpus c CROSS JOIN
       |      (SELECT * FROM probes WHERE probe_id < 3232) p)
       |  WHERE rk <= 3),
       |hits AS (
       |  SELECT b.probe_id, COUNT(*) AS hits3
       |  FROM beam3 b JOIN exact3 x
       |    ON b.probe_id = x.probe_id AND b.nbr = x.xnbr
       |  GROUP BY b.probe_id)
       |SELECT b.probe_id, CAST(b.rk AS INTEGER) AS rk, b.nbr, b.idot,
       |  CAST(CASE WHEN b.probe_id < 3232 THEN COALESCE(h.hits3, 0)
       |    ELSE -1 END AS BIGINT) AS hits3
       |FROM beam3 b LEFT JOIN hits h ON b.probe_id = h.probe_id
       |ORDER BY b.probe_id, rk""".stripMargin
  }

  /** s39: INCREMENTAL APPEND for the navigable graph (r18 — s11's
    * lifecycle story brought to s38, and the reason HNSW-family indexes
    * win in production: new vectors join WITHOUT a rebuild): the graph
    * artifact becomes a GENERATION CHAIN — `commits/1` = the base
    * degree-8 adjacency over the ORIGINAL corpus (vec_id % 5 != 3),
    * `commits/2` = the APPEND generation for the late arrivals
    * (% 5 == 3): each new node's top-[[NswGraphK]] forward edges scored
    * against the FULL corpus, PLUS the reverse edges that make the new
    * nodes REACHABLE from the old graph (insertion's defining step —
    * forward-only edges would leave them invisible to every walk
    * starting at an old entry). Readers union all committed
    * generations (distinct: two new nodes choosing each other collapse
    * the duplicate). Append-only compromise, stated: reverse edges grow
    * an old node's degree past K until a re-cluster compacts the graph
    * — bounded by arrivals-per-bucket, never by corpus. Both
    * generations publish through [[AnnIndex.ensureGeneration]] (content
    * deterministic, losers adopt); the walk and the price tag are
    * s38's serving path verbatim over the unioned adjacency, so the
    * oracle replays base + delta + reverse edges and the identical
    * hop-by-hop CTEs.
    */
  private[graft] def publishedNswGraphIncr(s: SparkSession, d: String)
      : Seq[String] = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val root = AnnIndex.indexBase("graft-nswi", d)
    def publish(g: Long, df: => DataFrame): String =
      AnnIndex.ensureGeneration(s, root, g)(
        df.write.mode("overwrite").parquet(_))
    val corpus = Tables.embeddings(s, d)
      .filter($"vec_id" % 101 =!= 7)
      .select($"vec_id", int8Code.as("code"), sigCol($"embedding").as("sig"))
    val old = corpus.filter($"vec_id" % 5 =!= 3)
    val fresh = corpus.filter($"vec_id" % 5 === 3)
    val w = Window.partitionBy($"node").orderBy($"idot".desc, $"nbr".asc)
    def topK(lhs: DataFrame, rhs: DataFrame): DataFrame =
      lhs.select($"vec_id".as("node"), $"code".as("ac"), $"sig")
        .join(rhs.select($"vec_id".as("nbr"), $"code".as("bc"),
          $"sig".as("bsig")), $"sig" === $"bsig" && $"node" =!= $"nbr")
        .select($"node", $"nbr", icodeDot($"ac", $"bc").as("idot"))
        .withColumn("rk", row_number().over(w))
        .filter($"rk" <= NswGraphK)
        .select($"node", $"nbr")
    val base = publish(1L, topK(old, old))
    val delta = publish(2L, {
      val fwd = topK(fresh, corpus)
      fwd.unionByName(fwd.select($"nbr".as("node"), $"node".as("nbr")))
        .distinct()
    })
    Seq(base, delta)
  }

  def nswIncrementalSearch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val gens = publishedNswGraphIncr(s, d)
    val adj = gens.map(p => s.read.parquet(p)).reduce(_.unionByName(_))
      .distinct()
      .select($"node".as("anode"), $"nbr".as("anbr"))
    val codes = Tables.embeddings(s, d)
      .select($"vec_id", int8Code.as("code"))
    val probes = codes.filter($"vec_id" % 101 === 7)
      .select($"vec_id".as("probe_id"), $"code".as("pc"))
    val corpusCodes = codes.filter($"vec_id" % 101 =!= 7)
      .select($"vec_id".as("node"), $"code".as("nc"))
    nswServe(s, adj, corpusCodes, probes)
  }

  lazy val nswIncrementalSearchSql: String = {
    val codeSql =
      """list_transform(embedding, x ->
        |  CAST(floor(CAST(x AS DOUBLE) *
        |    (127.0 / list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |       list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))),
        |       (m, v) -> greatest(m, v)))) AS INTEGER))""".stripMargin
    s"""WITH codes AS MATERIALIZED (
       |  SELECT vec_id, $codeSql AS code, ${sigSql("embedding")} AS sig
       |  FROM embeddings),
       |probes AS MATERIALIZED (
       |  SELECT vec_id AS probe_id, code AS pc FROM codes
       |  WHERE vec_id % 101 = 7),
       |corpus AS MATERIALIZED (
       |  SELECT vec_id AS node, code AS nc, sig FROM codes
       |  WHERE vec_id % 101 <> 7),
       |old AS MATERIALIZED (SELECT * FROM corpus WHERE node % 5 <> 3),
       |adj1 AS (
       |  SELECT node, nbr FROM (
       |    SELECT node, nbr,
       |      ROW_NUMBER() OVER (PARTITION BY node
       |        ORDER BY idot DESC, nbr ASC) AS rk
       |    FROM (SELECT a.node AS node, b.node AS nbr,
       |            ${icodeDotSql("a.nc", "b.nc")} AS idot
       |          FROM old a JOIN old b
       |            ON a.sig = b.sig AND a.node <> b.node))
       |  WHERE rk <= 8),
       |fwd2 AS MATERIALIZED (
       |  SELECT node, nbr FROM (
       |    SELECT node, nbr,
       |      ROW_NUMBER() OVER (PARTITION BY node
       |        ORDER BY idot DESC, nbr ASC) AS rk
       |    FROM (SELECT n.node AS node, c.node AS nbr,
       |            ${icodeDotSql("n.nc", "c.nc")} AS idot
       |          FROM (SELECT * FROM corpus WHERE node % 5 = 3) n
       |          JOIN corpus c ON n.sig = c.sig AND n.node <> c.node))
       |  WHERE rk <= 8),
       |adj AS MATERIALIZED (
       |  SELECT DISTINCT node, nbr FROM (
       |    SELECT node, nbr FROM adj1
       |    UNION ALL SELECT node, nbr FROM fwd2
       |    UNION ALL SELECT nbr AS node, node AS nbr FROM fwd2)),
       |entries AS (SELECT node FROM corpus ORDER BY node LIMIT 4),
       |l0 AS (SELECT probe_id, node FROM probes CROSS JOIN entries),
       |g1 AS (SELECT DISTINCT probe_id, node FROM (
       |  SELECT probe_id, node FROM l0
       |  UNION ALL
       |  SELECT l0.probe_id, adj.nbr AS node FROM l0 JOIN adj USING (node))),
       |s1 AS MATERIALIZED (
       |  SELECT probe_id, node, idot FROM (
       |    SELECT g.probe_id, g.node,
       |      ${icodeDotSql("p.pc", "c.nc")} AS idot,
       |      ROW_NUMBER() OVER (PARTITION BY g.probe_id
       |        ORDER BY ${icodeDotSql("p.pc", "c.nc")} DESC, g.node ASC)
       |        AS rk
       |    FROM g1 g JOIN corpus c ON g.node = c.node
       |      JOIN probes p ON g.probe_id = p.probe_id)
       |  WHERE rk <= 6),
       |g2 AS (SELECT DISTINCT probe_id, node FROM (
       |  SELECT probe_id, node FROM s1
       |  UNION ALL
       |  SELECT s1.probe_id, adj.nbr AS node FROM s1 JOIN adj USING (node))),
       |s2 AS MATERIALIZED (
       |  SELECT probe_id, node, idot FROM (
       |    SELECT g.probe_id, g.node,
       |      ${icodeDotSql("p.pc", "c.nc")} AS idot,
       |      ROW_NUMBER() OVER (PARTITION BY g.probe_id
       |        ORDER BY ${icodeDotSql("p.pc", "c.nc")} DESC, g.node ASC)
       |        AS rk
       |    FROM g2 g JOIN corpus c ON g.node = c.node
       |      JOIN probes p ON g.probe_id = p.probe_id)
       |  WHERE rk <= 6),
       |beam3 AS MATERIALIZED (
       |  SELECT probe_id, rk, node AS nbr, idot FROM (
       |    SELECT probe_id, node, idot,
       |      ROW_NUMBER() OVER (PARTITION BY probe_id
       |        ORDER BY idot DESC, node ASC) AS rk
       |    FROM s2)
       |  WHERE rk <= 3),
       |exact3 AS MATERIALIZED (
       |  SELECT probe_id, node AS xnbr FROM (
       |    SELECT p.probe_id, c.node,
       |      ROW_NUMBER() OVER (PARTITION BY p.probe_id
       |        ORDER BY ${icodeDotSql("p.pc", "c.nc")} DESC, c.node ASC)
       |        AS rk
       |    FROM corpus c CROSS JOIN
       |      (SELECT * FROM probes WHERE probe_id < 3232) p)
       |  WHERE rk <= 3),
       |hits AS (
       |  SELECT b.probe_id, COUNT(*) AS hits3
       |  FROM beam3 b JOIN exact3 x
       |    ON b.probe_id = x.probe_id AND b.nbr = x.xnbr
       |  GROUP BY b.probe_id)
       |SELECT b.probe_id, CAST(b.rk AS INTEGER) AS rk, b.nbr, b.idot,
       |  CAST(CASE WHEN b.probe_id < 3232 THEN COALESCE(h.hits3, 0)
       |    ELSE -1 END AS BIGINT) AS hits3
       |FROM beam3 b LEFT JOIN hits h ON b.probe_id = h.probe_id
       |ORDER BY b.probe_id, rk""".stripMargin
  }

  /** s40: DELETE + FOLD for the navigable graph (r19 — the lifecycle gap
    * the r18 verdict named: the LSH index had tombstones + recluster,
    * the NSW chain was append-only). Each graph generation has a KIND,
    * fixed by its number and attached to the committed dir on read:
    * `edges:<path>` (1, adjacency generation), `tomb:<path>` (2, a
    * tombstone generation — one `node` column naming the deleted
    * vectors), `fold:<path>` (3, a rebuild over survivors that RESETS
    * the chain state — s29's content-addressed recluster discipline:
    * the fold content is deterministic from the survivor set, so racing
    * folders stage identical bytes and losers adopt). Marker bodies stay
    * bare dirs, published through [[AnnIndex.ensureGeneration]].
    * Readers walk generations ascending: edges accumulate, tombs mask
    * (an edge with EITHER endpoint dead is unreachable — the walk can
    * neither enter nor leave a dead node), a fold resets edges and
    * clears the mask. The fixture chain is base(all) -> tomb(%17==5) ->
    * fold(survivors); the query serves the SAME probes at both chain
    * positions — post-delete (masked base adjacency: a dead node never
    * surfaces, replayed by the oracle over the tombstone-filtered
    * adjacency) and post-fold (rebuilt degree-8 graph — byte-identical
    * to a fresh build over survivors by construction, which the oracle
    * pins by replaying exactly that fresh build). No recall audit here
    * (s38 prices the walk); both phases reuse its hop machinery.
    */
  private[graft] def publishedNswGraphDel(s: SparkSession, d: String)
      : Seq[String] = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val root = AnnIndex.indexBase("graft-nswd", d)
    def publish(g: Long, kind: String, df: => DataFrame): String =
      s"$kind:" + AnnIndex.ensureGeneration(s, root, g)(
        df.write.mode("overwrite").parquet(_))
    val corpus = Tables.embeddings(s, d)
      .filter($"vec_id" % 101 =!= 7)
      .select($"vec_id", int8Code.as("code"), sigCol($"embedding").as("sig"))
    val surv = corpus.filter($"vec_id" % 17 =!= 5)
    val w = Window.partitionBy($"node").orderBy($"idot".desc, $"nbr".asc)
    def topK(c: DataFrame): DataFrame =
      c.select($"vec_id".as("node"), $"code".as("ac"), $"sig")
        .join(c.select($"vec_id".as("nbr"), $"code".as("bc"),
          $"sig".as("bsig")), $"sig" === $"bsig" && $"node" =!= $"nbr")
        .select($"node", $"nbr", icodeDot($"ac", $"bc").as("idot"))
        .withColumn("rk", row_number().over(w))
        .filter($"rk" <= NswGraphK)
        .select($"node", $"nbr")
    val g1 = publish(1L, "edges", topK(corpus))
    val g2 = publish(2L, "tomb",
      corpus.filter($"vec_id" % 17 === 5).select($"vec_id".as("node")))
    val g3 = publish(3L, "fold", topK(surv))
    Seq(g1, g2, g3)
  }

  /** Resolve a kind-prefixed graph chain prefix to its visible
    * adjacency: edges accumulate, tombs mask both endpoints, a fold
    * resets. Returns (anode, anbr). */
  private def resolveNswChain(s: SparkSession, bodies: Seq[String])
      : DataFrame = {
    import s.implicits._
    var adj: Option[DataFrame] = None
    var dead: Option[DataFrame] = None
    bodies.foreach { body =>
      val i = body.indexOf(':')
      val (kind, path) = (body.substring(0, i), body.substring(i + 1))
      kind match {
        case "edges" =>
          val e = s.read.parquet(path)
          adj = Some(adj.fold(e)(_.unionByName(e).distinct()))
        case "tomb" =>
          val t = s.read.parquet(path)
          dead = Some(dead.fold(t)(_.unionByName(t).distinct()))
        case "fold" =>
          adj = Some(s.read.parquet(path)); dead = None
        case other => throw new IllegalArgumentException(
          s"nsw chain: unknown generation kind '$other'")
      }
    }
    val base = adj.getOrElse(s.emptyDataFrame)
    val masked = dead.fold(base) { dd =>
      val dn = dd.select($"node".as("dd"))
      base.join(broadcast(dn), $"node" === $"dd", "left_anti")
        .join(broadcast(dn.withColumnRenamed("dd", "dd2")),
          $"nbr" === $"dd2", "left_anti")
    }
    masked.select($"node".as("anode"), $"nbr".as("anbr"))
  }

  /** The bare 2-hop walk to a top-3 beam (no audit) — s40's serving. */
  private def nswBeam3(s: SparkSession, adj: DataFrame,
      corpusCodes: DataFrame, probes: DataFrame): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    def hop(cur0: DataFrame): DataFrame =
      nswHop(s, adj, corpusCodes, probes)(cur0)
    // r19 opt: single-reference hops (see nswHop) make the whole 2-hop
    // walk one lazy plan, and this beam is itself referenced once — no
    // checkpoint anywhere on s40's serving path.
    val walked = hop(hop(nswL0(s, corpusCodes, probes)))
    val w3 = Window.partitionBy($"probe_id")
      .orderBy($"idot".desc, $"node".asc)
    walked.withColumn("rk", row_number().over(w3))
      .filter($"rk" <= 3)
      .select($"probe_id", $"rk", $"node".as("nbr"), $"idot")
  }

  def nswDeleteFold(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val gens = publishedNswGraphDel(s, d)
    val codes = Tables.embeddings(s, d)
      .select($"vec_id", int8Code.as("code"))
    val probes = codes.filter($"vec_id" % 101 === 7)
      .select($"vec_id".as("probe_id"), $"code".as("pc"))
    val surv = codes.filter($"vec_id" % 101 =!= 7)
      .filter($"vec_id" % 17 =!= 5)
      .select($"vec_id".as("node"), $"code".as("nc"))
    // post-delete: base adjacency masked by the tombstone generation
    val adjT = resolveNswChain(s, gens.take(2))
    // post-fold: the rebuilt survivor graph
    val adjF = resolveNswChain(s, gens)
    def phase(label: String, adj: DataFrame) =
      nswBeam3(s, adj, surv, probes)
        .select(lit(label).as("phase"), $"probe_id", $"rk", $"nbr", $"idot")
    phase("t", adjT).unionAll(phase("f", adjF))
      .orderBy($"phase", $"probe_id", $"rk")
  }

  lazy val nswDeleteFoldSql: String = {
    val codeSql =
      """list_transform(embedding, x ->
        |  CAST(floor(CAST(x AS DOUBLE) *
        |    (127.0 / list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |       list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))),
        |       (m, v) -> greatest(m, v)))) AS INTEGER))""".stripMargin
    def walk(adjCte: String, p: String): String =
      s"""g1$p AS (SELECT DISTINCT probe_id, node FROM (
         |  SELECT probe_id, node FROM l0
         |  UNION ALL
         |  SELECT l0.probe_id, $adjCte.nbr AS node
         |  FROM l0 JOIN $adjCte USING (node))),
         |s1$p AS MATERIALIZED (
         |  SELECT probe_id, node, idot FROM (
         |    SELECT g.probe_id, g.node,
         |      ${icodeDotSql("p.pc", "c.nc")} AS idot,
         |      ROW_NUMBER() OVER (PARTITION BY g.probe_id
         |        ORDER BY ${icodeDotSql("p.pc", "c.nc")} DESC, g.node ASC)
         |        AS rk
         |    FROM g1$p g JOIN surv c ON g.node = c.node
         |      JOIN probes p ON g.probe_id = p.probe_id)
         |  WHERE rk <= 6),
         |g2$p AS (SELECT DISTINCT probe_id, node FROM (
         |  SELECT probe_id, node FROM s1$p
         |  UNION ALL
         |  SELECT s1$p.probe_id, $adjCte.nbr AS node
         |  FROM s1$p JOIN $adjCte USING (node))),
         |s2$p AS MATERIALIZED (
         |  SELECT probe_id, node, idot FROM (
         |    SELECT g.probe_id, g.node,
         |      ${icodeDotSql("p.pc", "c.nc")} AS idot,
         |      ROW_NUMBER() OVER (PARTITION BY g.probe_id
         |        ORDER BY ${icodeDotSql("p.pc", "c.nc")} DESC, g.node ASC)
         |        AS rk
         |    FROM g2$p g JOIN surv c ON g.node = c.node
         |      JOIN probes p ON g.probe_id = p.probe_id)
         |  WHERE rk <= 6),
         |beam3$p AS MATERIALIZED (
         |  SELECT probe_id, rk, node AS nbr, idot FROM (
         |    SELECT probe_id, node, idot,
         |      ROW_NUMBER() OVER (PARTITION BY probe_id
         |        ORDER BY idot DESC, node ASC) AS rk
         |    FROM s2$p)
         |  WHERE rk <= 3)""".stripMargin
    s"""WITH codes AS MATERIALIZED (
       |  SELECT vec_id, $codeSql AS code, ${sigSql("embedding")} AS sig
       |  FROM embeddings),
       |probes AS MATERIALIZED (
       |  SELECT vec_id AS probe_id, code AS pc FROM codes
       |  WHERE vec_id % 101 = 7),
       |corpus AS MATERIALIZED (
       |  SELECT vec_id AS node, code AS nc, sig FROM codes
       |  WHERE vec_id % 101 <> 7),
       |surv AS MATERIALIZED (SELECT * FROM corpus WHERE node % 17 <> 5),
       |adj_base AS MATERIALIZED (
       |  SELECT node, nbr FROM (
       |    SELECT node, nbr,
       |      ROW_NUMBER() OVER (PARTITION BY node
       |        ORDER BY idot DESC, nbr ASC) AS rk
       |    FROM (SELECT a.node AS node, b.node AS nbr,
       |            ${icodeDotSql("a.nc", "b.nc")} AS idot
       |          FROM corpus a JOIN corpus b
       |            ON a.sig = b.sig AND a.node <> b.node))
       |  WHERE rk <= 8),
       |adjt AS MATERIALIZED (
       |  SELECT node, nbr FROM adj_base
       |  WHERE node % 17 <> 5 AND nbr % 17 <> 5),
       |adjf AS MATERIALIZED (
       |  SELECT node, nbr FROM (
       |    SELECT node, nbr,
       |      ROW_NUMBER() OVER (PARTITION BY node
       |        ORDER BY idot DESC, nbr ASC) AS rk
       |    FROM (SELECT a.node AS node, b.node AS nbr,
       |            ${icodeDotSql("a.nc", "b.nc")} AS idot
       |          FROM surv a JOIN surv b
       |            ON a.sig = b.sig AND a.node <> b.node))
       |  WHERE rk <= 8),
       |entries AS (SELECT node FROM surv ORDER BY node LIMIT 4),
       |l0 AS (SELECT probe_id, node FROM probes CROSS JOIN entries),
       |${walk("adjt", "t")},
       |${walk("adjf", "f")}
       |SELECT phase, probe_id, CAST(rk AS INTEGER) AS rk, nbr, idot FROM (
       |  SELECT 't' AS phase, probe_id, rk, nbr, idot FROM beam3t
       |  UNION ALL
       |  SELECT 'f' AS phase, probe_id, rk, nbr, idot FROM beam3f)
       |ORDER BY phase, probe_id, rk""".stripMargin
  }

  /** s41: ADAPTIVE WALK ESCALATION (r19 — s34's starved-probe discipline
    * brought to the graph): the fixed 2-hop/beam-6 walk has no lever
    * when a probe's neighborhood is still improving at the last hop.
    * The deterministic, oracle-replayable signal is BEAM MOVEMENT: a
    * probe whose hop-2 beam contains any node its hop-1 beam did not is
    * still descending the graph (a converged probe's beam is a fixed
    * point — hop 2 re-selected exactly hop 1's set), so exactly those
    * probes walk a THIRD hop; settled probes pay nothing. Emitted per
    * (probe, rk<=3): the post-escalation beam, the escalated flag, and
    * the recall price BEFORE vs AFTER on the fixed audit slice (the s38
    * pricing discipline — escalation must show what it bought), plus the
    * global escalated-probe count. Every hop shares s38's published
    * adjacency artifact (warmed like lsh/ivf) and the walk stays
    * beam x degree per escalated probe — the 100 TB shape: escalation
    * scales with STARVED probes, never with the corpus.
    */
  def nswEscalation(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val adjPath = publishedNswGraph(s, d)
    val adj = s.read.parquet(adjPath)
      .select($"node".as("anode"), $"nbr".as("anbr"))
    val codes = Tables.embeddings(s, d)
      .select($"vec_id", int8Code.as("code"))
    val probes = codes.filter($"vec_id" % 101 === 7)
      .select($"vec_id".as("probe_id"), $"code".as("pc"))
    val corpusCodes = codes.filter($"vec_id" % 101 =!= 7)
      .select($"vec_id".as("node"), $"code".as("nc"))
    def hop(cur0: DataFrame): DataFrame =
      nswHop(s, adj, corpusCodes, probes)(cur0)
    val w3 = Window.partitionBy($"probe_id")
      .orderBy($"idot".desc, $"node".asc)
    // r20 opt (r19 verdict item 7 — the six-action serial chain): the
    // independent exact-audit shortlist runs CONCURRENTLY with the walk
    // (guide §2.6: actions are only sequential because the driver calls
    // them sequentially), and hop-1/hop-2/escalation fold into ONE
    // checkpointed frame — hop 2 LEFT-joined against hop 1 carries the
    // movement flag per row, so s2's rows AND the escalation set come out
    // of a single materialization instead of three (s1, s2, esc). Rows
    // are identical: is_new IS the old left_anti membership test.
    val audit = probes.filter($"probe_id" < NswAuditBound)
    val exact3F = scala.concurrent.Future {
      corpusCodes.crossJoin(broadcast(audit))
        .select($"probe_id", $"node", icodeDot($"pc", $"nc").as("idot"))
        .withColumn("rk", row_number().over(w3))
        .filter($"rk" <= 3)
        .select($"probe_id", $"node".as("xnbr"))
        .localCheckpoint(true)
    }(scala.concurrent.ExecutionContext.global)
    val s1 = hop(nswL0(s, corpusCodes, probes)) // lazy: lives inside e2's one job
    val e2 = hop(s1)
      .join(s1.select($"probe_id", $"node", lit(1).as("_old")),
        Seq("probe_id", "node"), "left")
      .withColumn("is_new", $"_old".isNull).drop("_old")
      .localCheckpoint(true)
    val s2 = e2.select($"probe_id", $"node", $"idot")
    // frontier still moving = escalate (deterministic set difference)
    val esc = e2.filter($"is_new").select($"probe_id").distinct()
    val s3 = hop(s2.join(esc, Seq("probe_id")))
    val fin = s3.unionByName(s2.join(esc, Seq("probe_id"), "left_anti"))
      .localCheckpoint(true)
    def beam3(src: DataFrame) = src.withColumn("rk", row_number().over(w3))
      .filter($"rk" <= 3)
      .select($"probe_id", $"rk", $"node".as("nbr"), $"idot")
    val pre = beam3(s2)
    val post = beam3(fin)
    val exact3 = scala.concurrent.Await.result(exact3F,
      scala.concurrent.duration.Duration.Inf)
    // ONE audit pass over both beams (pre/post tagged union) instead of
    // two exact3 joins: same per-(probe, side) counts — a probe present
    // on one side only still groups (count(when(...)) = 0 = the old
    // left-join-null coalesced to 0).
    val both = pre.withColumn("_side", lit(0))
      .unionByName(post.withColumn("_side", lit(1)))
    val hitsBoth = both
      .join(exact3, both("probe_id") === exact3("probe_id") &&
        both("nbr") === exact3("xnbr"))
      .groupBy(both("probe_id").as("hp"))
      .agg(count(when($"_side" === 0, 1)).as("h_pre"),
        count(when($"_side" === 1, 1)).as("h_post"))
    // r19 opt: the global escalated-probe count rides a broadcast
    // single-row aggregate instead of a blocking driver-side count()
    // action (same value, one fewer sequential job; esc derives from the
    // checkpointed e2 so the agg is a re-scan of its blocks, not a
    // re-walk).
    val nEsc = broadcast(esc.agg(count(lit(1)).as("n_escalated")))
    post
      .join(hitsBoth, $"probe_id" === $"hp", "left").drop("hp")
      .join(esc.withColumn("is_esc", lit(1L)), Seq("probe_id"), "left")
      .crossJoin(nEsc)
      .select($"probe_id", $"rk", $"nbr", $"idot",
        coalesce($"is_esc", lit(0L)).as("escalated"),
        when($"probe_id" < NswAuditBound, coalesce($"h_pre", lit(0L)))
          .otherwise(lit(-1L)).as("h3_pre"),
        when($"probe_id" < NswAuditBound, coalesce($"h_post", lit(0L)))
          .otherwise(lit(-1L)).as("h3_post"),
        $"n_escalated")
      .orderBy($"probe_id", $"rk")
  }

  lazy val nswEscalationSql: String = {
    val codeSql =
      """list_transform(embedding, x ->
        |  CAST(floor(CAST(x AS DOUBLE) *
        |    (127.0 / list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |       list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))),
        |       (m, v) -> greatest(m, v)))) AS INTEGER))""".stripMargin
    s"""WITH codes AS MATERIALIZED (
       |  SELECT vec_id, $codeSql AS code, ${sigSql("embedding")} AS sig
       |  FROM embeddings),
       |probes AS MATERIALIZED (
       |  SELECT vec_id AS probe_id, code AS pc FROM codes
       |  WHERE vec_id % 101 = 7),
       |corpus AS MATERIALIZED (
       |  SELECT vec_id AS node, code AS nc, sig FROM codes
       |  WHERE vec_id % 101 <> 7),
       |adj AS MATERIALIZED (
       |  SELECT node, nbr FROM (
       |    SELECT node, nbr,
       |      ROW_NUMBER() OVER (PARTITION BY node
       |        ORDER BY idot DESC, nbr ASC) AS rk
       |    FROM (SELECT a.node AS node, b.node AS nbr,
       |            ${icodeDotSql("a.nc", "b.nc")} AS idot
       |          FROM corpus a JOIN corpus b
       |            ON a.sig = b.sig AND a.node <> b.node))
       |  WHERE rk <= 8),
       |entries AS (SELECT node FROM corpus ORDER BY node LIMIT 4),
       |l0 AS (SELECT probe_id, node FROM probes CROSS JOIN entries),
       |g1 AS (SELECT DISTINCT probe_id, node FROM (
       |  SELECT probe_id, node FROM l0
       |  UNION ALL
       |  SELECT l0.probe_id, adj.nbr AS node FROM l0 JOIN adj USING (node))),
       |s1 AS MATERIALIZED (
       |  SELECT probe_id, node, idot FROM (
       |    SELECT g.probe_id, g.node,
       |      ${icodeDotSql("p.pc", "c.nc")} AS idot,
       |      ROW_NUMBER() OVER (PARTITION BY g.probe_id
       |        ORDER BY ${icodeDotSql("p.pc", "c.nc")} DESC, g.node ASC)
       |        AS rk
       |    FROM g1 g JOIN corpus c ON g.node = c.node
       |      JOIN probes p ON g.probe_id = p.probe_id)
       |  WHERE rk <= 6),
       |g2 AS (SELECT DISTINCT probe_id, node FROM (
       |  SELECT probe_id, node FROM s1
       |  UNION ALL
       |  SELECT s1.probe_id, adj.nbr AS node FROM s1 JOIN adj USING (node))),
       |s2 AS MATERIALIZED (
       |  SELECT probe_id, node, idot FROM (
       |    SELECT g.probe_id, g.node,
       |      ${icodeDotSql("p.pc", "c.nc")} AS idot,
       |      ROW_NUMBER() OVER (PARTITION BY g.probe_id
       |        ORDER BY ${icodeDotSql("p.pc", "c.nc")} DESC, g.node ASC)
       |        AS rk
       |    FROM g2 g JOIN corpus c ON g.node = c.node
       |      JOIN probes p ON g.probe_id = p.probe_id)
       |  WHERE rk <= 6),
       |esc AS MATERIALIZED (
       |  SELECT DISTINCT probe_id FROM s2
       |  WHERE NOT EXISTS (SELECT 1 FROM s1
       |    WHERE s1.probe_id = s2.probe_id AND s1.node = s2.node)),
       |g3 AS (SELECT DISTINCT probe_id, node FROM (
       |  SELECT s2.probe_id, s2.node FROM s2 JOIN esc USING (probe_id)
       |  UNION ALL
       |  SELECT s2.probe_id, adj.nbr AS node
       |  FROM s2 JOIN esc USING (probe_id) JOIN adj ON s2.node = adj.node)),
       |s3 AS MATERIALIZED (
       |  SELECT probe_id, node, idot FROM (
       |    SELECT g.probe_id, g.node,
       |      ${icodeDotSql("p.pc", "c.nc")} AS idot,
       |      ROW_NUMBER() OVER (PARTITION BY g.probe_id
       |        ORDER BY ${icodeDotSql("p.pc", "c.nc")} DESC, g.node ASC)
       |        AS rk
       |    FROM g3 g JOIN corpus c ON g.node = c.node
       |      JOIN probes p ON g.probe_id = p.probe_id)
       |  WHERE rk <= 6),
       |fin AS MATERIALIZED (
       |  SELECT probe_id, node, idot FROM s3
       |  UNION ALL
       |  SELECT probe_id, node, idot FROM s2
       |  WHERE NOT EXISTS (SELECT 1 FROM esc WHERE esc.probe_id = s2.probe_id)),
       |beam3pre AS MATERIALIZED (
       |  SELECT probe_id, rk, node AS nbr, idot FROM (
       |    SELECT probe_id, node, idot,
       |      ROW_NUMBER() OVER (PARTITION BY probe_id
       |        ORDER BY idot DESC, node ASC) AS rk
       |    FROM s2)
       |  WHERE rk <= 3),
       |beam3post AS MATERIALIZED (
       |  SELECT probe_id, rk, node AS nbr, idot FROM (
       |    SELECT probe_id, node, idot,
       |      ROW_NUMBER() OVER (PARTITION BY probe_id
       |        ORDER BY idot DESC, node ASC) AS rk
       |    FROM fin)
       |  WHERE rk <= 3),
       |exact3 AS MATERIALIZED (
       |  SELECT probe_id, node AS xnbr FROM (
       |    SELECT p.probe_id, c.node,
       |      ROW_NUMBER() OVER (PARTITION BY p.probe_id
       |        ORDER BY ${icodeDotSql("p.pc", "c.nc")} DESC, c.node ASC)
       |        AS rk
       |    FROM corpus c CROSS JOIN
       |      (SELECT * FROM probes WHERE probe_id < 3232) p)
       |  WHERE rk <= 3),
       |hits_pre AS (
       |  SELECT b.probe_id, COUNT(*) AS h FROM beam3pre b JOIN exact3 x
       |    ON b.probe_id = x.probe_id AND b.nbr = x.xnbr
       |  GROUP BY b.probe_id),
       |hits_post AS (
       |  SELECT b.probe_id, COUNT(*) AS h FROM beam3post b JOIN exact3 x
       |    ON b.probe_id = x.probe_id AND b.nbr = x.xnbr
       |  GROUP BY b.probe_id),
       |nesc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM esc)
       |SELECT b.probe_id, CAST(b.rk AS INTEGER) AS rk, b.nbr, b.idot,
       |  CAST(CASE WHEN e.probe_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
       |    AS escalated,
       |  CAST(CASE WHEN b.probe_id < 3232 THEN COALESCE(hp.h, 0)
       |    ELSE -1 END AS BIGINT) AS h3_pre,
       |  CAST(CASE WHEN b.probe_id < 3232 THEN COALESCE(hq.h, 0)
       |    ELSE -1 END AS BIGINT) AS h3_post,
       |  nesc.n AS n_escalated
       |FROM beam3post b
       |LEFT JOIN esc e ON b.probe_id = e.probe_id
       |LEFT JOIN hits_pre hp ON b.probe_id = hp.probe_id
       |LEFT JOIN hits_post hq ON b.probe_id = hq.probe_id
       |CROSS JOIN nesc
       |ORDER BY b.probe_id, rk""".stripMargin
  }

  /** s42: FILTERED GRAPH SEARCH (r19) — the production vector-store
    * shape s25/s26 served for the IVF index, brought to the navigable
    * graph: "top-k nearest WHERE attribute predicate". Pre-filtering
    * the GRAPH breaks connectivity (an eligible island behind
    * ineligible nodes becomes unreachable), so the walk TRAVERSES the
    * full adjacency exactly as s38 — beams may pass through ineligible
    * nodes to stay connected (ACORN's observation) — while the ANSWER
    * is the top-3 ELIGIBLE nodes among everything the walk VISITED
    * (every candidate scored at any hop, not just surviving beams: the
    * visited set is the walk's free by-product and triples the eligible
    * pool under a selective filter). Eligibility here is `node % 3 = 1`
    * (s25's fixture discipline — a literal attribute both sides
    * replay). Fully deterministic: the walk is s38's tie-broken beam
    * sequence, the visited union is a DISTINCT over scored hops, so the
    * oracle replays it CTE by CTE. Recall@3 is priced against the exact
    * FILTERED top-3 on the fixed audit slice (< [[NswAuditBound]]) —
    * filtered recall is the number a serving SLO watches, and the walk
    * pays nothing extra for it. 100 TB: cost identical to s38 (the
    * filter adds one semi-join over the visited set, beam x degree per
    * probe); recall under very selective filters escalates via s41's
    * lever, not by scanning the corpus.
    */
  def nswFilteredSearch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val adjPath = publishedNswGraph(s, d)
    val adj = s.read.parquet(adjPath)
      .select($"node".as("anode"), $"nbr".as("anbr"))
    val codes = Tables.embeddings(s, d)
      .select($"vec_id", int8Code.as("code"))
    val probes = codes.filter($"vec_id" % 101 === 7)
      .select($"vec_id".as("probe_id"), $"code".as("pc"))
    val corpusCodes = codes.filter($"vec_id" % 101 =!= 7)
      .select($"vec_id".as("node"), $"code".as("nc"))
    val wBeam = Window.partitionBy($"probe_id")
      .orderBy($"idot".desc, $"node".asc)
    // one hop, returning BOTH the beam and the full scored grown set
    // (the visited pool the filtered answer draws from)
    def hopScored(cur0: DataFrame): (DataFrame, DataFrame) = {
      // r19 opt: single-reference frontier growth (see nswHop) — no
      // per-hop checkpoint of the beam; `scored` stays checkpointed
      // because BOTH the next beam and the visited pool read it.
      val grown = cur0.select($"probe_id", $"node")
        .join(adj, $"node" === $"anode", "left")
        .select($"probe_id", explode(array($"node", $"anbr")).as("gnode"))
        .filter($"gnode".isNotNull)
        .select($"probe_id", $"gnode".as("node"))
        .distinct()
      val scored = grown.join(corpusCodes, "node").join(probes, "probe_id")
        .select($"probe_id", $"node", icodeDot($"pc", $"nc").as("idot"))
        .localCheckpoint(true)
      val beam = scored.withColumn("rk", row_number().over(wBeam))
        .filter($"rk" <= NswBeam)
        .select($"probe_id", $"node", $"idot")
      (beam, scored)
    }
    val (b1, v1) = hopScored(nswL0(s, corpusCodes, probes))
    val (_, v2) = hopScored(b1)
    val visited = v1.unionByName(v2).distinct()
    val w3 = Window.partitionBy($"probe_id")
      .orderBy($"idot".desc, $"node".asc)
    val fin = visited.filter($"node" % 3 === 1)
      .withColumn("rk", row_number().over(w3))
      .filter($"rk" <= 3)
      .select($"probe_id", $"rk", $"node".as("nbr"), $"idot")
    val audit = probes.filter($"probe_id" < NswAuditBound)
    val exact3f = corpusCodes.filter($"node" % 3 === 1)
      .crossJoin(broadcast(audit))
      .select($"probe_id", $"node", icodeDot($"pc", $"nc").as("idot"))
      .withColumn("rk", row_number().over(w3))
      .filter($"rk" <= 3)
      .select($"probe_id", $"node".as("xnbr"))
      .localCheckpoint(true)
    val hits = fin.join(exact3f,
        fin("probe_id") === exact3f("probe_id") &&
          fin("nbr") === exact3f("xnbr"))
      .groupBy(fin("probe_id").as("hp"))
      .agg(count(lit(1)).as("h"))
    fin.join(hits, $"probe_id" === $"hp", "left").drop("hp")
      .select($"probe_id", $"rk", $"nbr", $"idot",
        when($"probe_id" < NswAuditBound, coalesce($"h", lit(0L)))
          .otherwise(lit(-1L)).as("h3"))
      .orderBy($"probe_id", $"rk")
  }

  lazy val nswFilteredSearchSql: String = {
    val codeSql =
      """list_transform(embedding, x ->
        |  CAST(floor(CAST(x AS DOUBLE) *
        |    (127.0 / list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |       list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))),
        |       (m, v) -> greatest(m, v)))) AS INTEGER))""".stripMargin
    s"""WITH codes AS MATERIALIZED (
       |  SELECT vec_id, $codeSql AS code, ${sigSql("embedding")} AS sig
       |  FROM embeddings),
       |probes AS MATERIALIZED (
       |  SELECT vec_id AS probe_id, code AS pc FROM codes
       |  WHERE vec_id % 101 = 7),
       |corpus AS MATERIALIZED (
       |  SELECT vec_id AS node, code AS nc, sig FROM codes
       |  WHERE vec_id % 101 <> 7),
       |adj AS MATERIALIZED (
       |  SELECT node, nbr FROM (
       |    SELECT node, nbr,
       |      ROW_NUMBER() OVER (PARTITION BY node
       |        ORDER BY idot DESC, nbr ASC) AS rk
       |    FROM (SELECT a.node AS node, b.node AS nbr,
       |            ${icodeDotSql("a.nc", "b.nc")} AS idot
       |          FROM corpus a JOIN corpus b
       |            ON a.sig = b.sig AND a.node <> b.node))
       |  WHERE rk <= 8),
       |entries AS (SELECT node FROM corpus ORDER BY node LIMIT 4),
       |l0 AS (SELECT probe_id, node FROM probes CROSS JOIN entries),
       |g1 AS (SELECT DISTINCT probe_id, node FROM (
       |  SELECT probe_id, node FROM l0
       |  UNION ALL
       |  SELECT l0.probe_id, adj.nbr AS node FROM l0 JOIN adj USING (node))),
       |v1 AS MATERIALIZED (
       |  SELECT g.probe_id, g.node,
       |    ${icodeDotSql("p.pc", "c.nc")} AS idot
       |  FROM g1 g JOIN corpus c ON g.node = c.node
       |    JOIN probes p ON g.probe_id = p.probe_id),
       |s1 AS MATERIALIZED (
       |  SELECT probe_id, node, idot FROM (
       |    SELECT probe_id, node, idot,
       |      ROW_NUMBER() OVER (PARTITION BY probe_id
       |        ORDER BY idot DESC, node ASC) AS rk
       |    FROM v1)
       |  WHERE rk <= 6),
       |g2 AS (SELECT DISTINCT probe_id, node FROM (
       |  SELECT probe_id, node FROM s1
       |  UNION ALL
       |  SELECT s1.probe_id, adj.nbr AS node FROM s1 JOIN adj USING (node))),
       |v2 AS MATERIALIZED (
       |  SELECT g.probe_id, g.node,
       |    ${icodeDotSql("p.pc", "c.nc")} AS idot
       |  FROM g2 g JOIN corpus c ON g.node = c.node
       |    JOIN probes p ON g.probe_id = p.probe_id),
       |visited AS MATERIALIZED (
       |  SELECT DISTINCT probe_id, node, idot FROM (
       |    SELECT * FROM v1 UNION ALL SELECT * FROM v2)),
       |fin AS MATERIALIZED (
       |  SELECT probe_id, rk, node AS nbr, idot FROM (
       |    SELECT probe_id, node, idot,
       |      ROW_NUMBER() OVER (PARTITION BY probe_id
       |        ORDER BY idot DESC, node ASC) AS rk
       |    FROM visited WHERE node % 3 = 1)
       |  WHERE rk <= 3),
       |exact3f AS MATERIALIZED (
       |  SELECT probe_id, node AS xnbr FROM (
       |    SELECT p.probe_id, c.node,
       |      ROW_NUMBER() OVER (PARTITION BY p.probe_id
       |        ORDER BY ${icodeDotSql("p.pc", "c.nc")} DESC, c.node ASC)
       |        AS rk
       |    FROM (SELECT * FROM corpus WHERE node % 3 = 1) c CROSS JOIN
       |      (SELECT * FROM probes WHERE probe_id < 3232) p)
       |  WHERE rk <= 3),
       |hits AS (
       |  SELECT f.probe_id, COUNT(*) AS h FROM fin f JOIN exact3f x
       |    ON f.probe_id = x.probe_id AND f.nbr = x.xnbr
       |  GROUP BY f.probe_id)
       |SELECT f.probe_id, CAST(f.rk AS INTEGER) AS rk, f.nbr, f.idot,
       |  CAST(CASE WHEN f.probe_id < 3232 THEN COALESCE(h.h, 0)
       |    ELSE -1 END AS BIGINT) AS h3
       |FROM fin f
       |LEFT JOIN hits h ON f.probe_id = h.probe_id
       |ORDER BY f.probe_id, rk""".stripMargin
  }

  /** s43: NSW GRAPH INTEGRITY AUDIT (r19) — s27's index-integrity
    * discipline for the navigable graph: the serving quality of every
    * walk (s38/s39/s41/s42) is bounded by graph health, and production
    * vector stores monitor exactly these numbers. One row: node/edge
    * counts, how many nodes carry the full degree-8 fan-out vs a
    * truncated one (bucket-boundary effect — a node whose LSH bucket
    * holds fewer than 9 members cannot have 8 neighbors), ISOLATED
    * nodes (no out-edges: singleton buckets — unreachable AND
    * unleavable, the nodes only brute-force or a reverse-edge append
    * (s39) can serve), and the 1-hop / 2-hop REACHABLE set from the
    * fixed [[NswEntries]] entry points — precisely the candidate pool a
    * 2-hop beam walk can ever see, the structural ceiling on s38's
    * recall. All exact counts over the published adjacency (metadata
    * next to the corpus scan); oracle rebuilds the same graph
    * relationally and recounts. 100 TB: two keyed self-joins on the
    * degree-8 edge list — O(E) with E = 8·N, no corpus-sized shuffle.
    */
  def nswIntegrity(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val adjPath = publishedNswGraph(s, d)
    val adj = s.read.parquet(adjPath).select($"node", $"nbr")
      .localCheckpoint(true)
    val corpus = Tables.embeddings(s, d)
      .filter($"vec_id" % 101 =!= 7)
      .select($"vec_id".as("node"))
    val deg = adj.groupBy($"node").agg(count(lit(1)).as("dg"))
    val entries = corpus.orderBy($"node".asc).limit(NswEntries)
      .select($"node")
    val r1 = entries.unionByName(
        adj.join(broadcast(entries.withColumnRenamed("node", "en")),
          $"node" === $"en").select($"nbr".as("node")))
      .distinct().localCheckpoint(true)
    val r2 = r1.unionByName(
        adj.join(r1.withColumnRenamed("node", "cn"), $"node" === $"cn")
          .select($"nbr".as("node")))
      .distinct()
    corpus.join(deg, Seq("node"), "left")
      .agg(count(lit(1)).as("n_nodes"),
        coalesce(sum($"dg"), lit(0L)).as("n_edges"),
        sum(when($"dg" === NswGraphK.toLong, 1L).otherwise(0L))
          .as("n_deg_full"),
        sum(when($"dg".isNull, 1L).otherwise(0L)).as("n_isolated"))
      .crossJoin(r1.agg(count(lit(1)).as("n_reach1")))
      .crossJoin(r2.agg(count(lit(1)).as("n_reach2")))
      .select($"n_nodes", $"n_edges", $"n_deg_full", $"n_isolated",
        $"n_reach1", $"n_reach2",
        ($"n_nodes" - $"n_reach2").as("n_unreachable"))
  }

  lazy val nswIntegritySql: String = {
    val codeSql =
      """list_transform(embedding, x ->
        |  CAST(floor(CAST(x AS DOUBLE) *
        |    (127.0 / list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |       list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))),
        |       (m, v) -> greatest(m, v)))) AS INTEGER))""".stripMargin
    s"""WITH codes AS MATERIALIZED (
       |  SELECT vec_id, $codeSql AS code, ${sigSql("embedding")} AS sig
       |  FROM embeddings),
       |corpus AS MATERIALIZED (
       |  SELECT vec_id AS node, code AS nc, sig FROM codes
       |  WHERE vec_id % 101 <> 7),
       |adj AS MATERIALIZED (
       |  SELECT node, nbr FROM (
       |    SELECT node, nbr,
       |      ROW_NUMBER() OVER (PARTITION BY node
       |        ORDER BY idot DESC, nbr ASC) AS rk
       |    FROM (SELECT a.node AS node, b.node AS nbr,
       |            ${icodeDotSql("a.nc", "b.nc")} AS idot
       |          FROM corpus a JOIN corpus b
       |            ON a.sig = b.sig AND a.node <> b.node))
       |  WHERE rk <= 8),
       |deg AS MATERIALIZED (
       |  SELECT node, CAST(COUNT(*) AS BIGINT) AS dg
       |  FROM adj GROUP BY node),
       |entries AS (SELECT node FROM corpus ORDER BY node LIMIT 4),
       |r1 AS MATERIALIZED (SELECT DISTINCT node FROM (
       |  SELECT node FROM entries
       |  UNION ALL
       |  SELECT adj.nbr AS node FROM adj JOIN entries USING (node))),
       |r2 AS MATERIALIZED (SELECT DISTINCT node FROM (
       |  SELECT node FROM r1
       |  UNION ALL
       |  SELECT adj.nbr AS node FROM adj JOIN r1 USING (node)))
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
       |  CAST(COALESCE(SUM(dg), 0) AS BIGINT) AS n_edges,
       |  CAST(SUM(CASE WHEN dg = 8 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_deg_full,
       |  CAST(SUM(CASE WHEN dg IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_isolated,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM r1) AS n_reach1,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM r2) AS n_reach2,
       |  CAST(COUNT(*) - (SELECT COUNT(*) FROM r2) AS BIGINT)
       |    AS n_unreachable
       |FROM corpus c LEFT JOIN deg USING (node)""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s43_nsw_integrity" -> (nswIntegrity _),
    "s42_nsw_filtered" -> (nswFilteredSearch _),
    "s41_nsw_escalation" -> (nswEscalation _),
    "s40_nsw_delete_fold" -> (nswDeleteFold _),
    "s39_nsw_incremental" -> (nswIncrementalSearch _),
    "s38_nsw_search" -> (nswSearch _),
    "s37_topk_exec_knn" -> (topkExecKnn _),
    "s32_knn_join_fallback" -> (knnJoinFallback _),
    "s31_matryoshka_recall" -> (matryoshkaRecall _),
    "s30_knn_join" -> (knnJoin _),
    "s29_recluster_probe" -> (reclusterProbe _),
    "s28_knn_graph" -> (knnGraph _),
    "s27_index_integrity" -> (indexIntegrity _),
    "s26_filtered_probe_k" -> (filteredAnnProbeUntilK _),
    "s25_filtered_ann" -> (filteredAnn _),
    "s24_centroid_shift" -> (centroidShift _),
    "s23_range_search"   -> (rangeSearch _),
    "s13_quant_error"    -> (quantizationError _),
    "s12_ann_filtered"   -> (annFiltered _),
    "s11_ann_incremental" -> (annIncremental _),
    "s10_mmr_rerank"     -> (mmrRerank _),
    "s1_cosine_topk"     -> (bruteForceTopK _),
    "s2_ann_lsh"         -> (annLsh _),
    "s3_ann_multiprobe"  -> (annMultiProbe _),
    "s4_ann_ivf"         -> (annIvf _),
    "s5_quantized_topk"  -> (quantizedTopK _),
    "s20_maxsim"         -> (maxSimTopK _),
    "s6_ann_recall"      -> (annRecall _),
    "s7_ann_batch"       -> (annBatch _),
    "s8_hard_negatives"  -> (hardNegatives _),
    "s14_ann_probe_adaptive" -> (annProbeUntilK _),
    "s15_two_stage_rerank" -> (twoStageRerank _),
    "s16_hybrid_rrf"     -> (hybridRrf _),
    "s17_ann_deletes"    -> (annWithDeletes _))

  val oracle: Map[String, String] = Map(
    "s40_nsw_delete_fold" -> nswDeleteFoldSql,
    "s43_nsw_integrity" -> nswIntegritySql,
    "s42_nsw_filtered" -> nswFilteredSearchSql,
    "s41_nsw_escalation" -> nswEscalationSql,
    "s38_nsw_search" -> nswSearchSql,
    "s39_nsw_incremental" -> nswIncrementalSearchSql,
    "s37_topk_exec_knn" -> topkExecKnnSql,
    "s32_knn_join_fallback" -> knnJoinFallbackSql,
    "s31_matryoshka_recall" -> matryoshkaRecallSql,
    "s30_knn_join" -> knnJoinSql,
    "s29_recluster_probe" -> reclusterProbeSql,
    "s28_knn_graph" -> knnGraphSql,
    "s27_index_integrity" -> indexIntegritySql,
    "s26_filtered_probe_k" -> filteredAnnProbeUntilKSql,
    "s25_filtered_ann" -> filteredAnnSql,
    "s24_centroid_shift" -> centroidShiftSql,
    "s23_range_search"   -> rangeSearchSql,
    "s15_two_stage_rerank" -> twoStageRerankSql,
    "s16_hybrid_rrf"     -> hybridRrfSql,
    "s10_mmr_rerank"     -> mmrRerankSql,
    "s1_cosine_topk"     -> bruteForceTopKSql,
    "s2_ann_lsh"         -> annLshSql,
    "s3_ann_multiprobe"  -> annMultiProbeSql,
    "s4_ann_ivf"         -> annIvfSql,
    "s5_quantized_topk"  -> quantizedTopKSql,
    "s20_maxsim"         -> maxSimTopKSql,
    "s6_ann_recall"      -> annRecallSql,
    "s7_ann_batch"       -> annBatchSql,
    "s8_hard_negatives"  -> hardNegativesSql,
    "s11_ann_incremental" -> annIncrementalSql,
    "s12_ann_filtered"   -> annFilteredSql,
    "s13_quant_error"    -> quantizationErrorSql,
    "s14_ann_probe_adaptive" -> annProbeUntilKSql,
    "s17_ann_deletes"    -> annWithDeletesSql)
}
