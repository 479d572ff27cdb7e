package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline composites over `documents` — the end-to-end
  * shapes a 100 TB corpus-prep run is made of, each one oracle-checked:
  *
  *   - p1: quality gate + exact-dedup keep-first → the cleaned corpus;
  *   - p2: deterministic per-language stratified sampling (hash-bernoulli —
  *     no RNG state, reproducible on any cluster layout, mirrors exactly in
  *     SQL as a lexical compare on an md5 prefix);
  *   - p3: token-budget packing: concatenate per language in doc_id order,
  *     chunk at a fixed token budget — the standard pretraining packing
  *     shape, expressed as a running-sum window + integer division, so it
  *     is exact in both engines.
  *
  * Scale shapes: p1/p2 are scan-projections plus one window keyed by a
  * real column (fp / nothing); p3 is one window per language partition — at
  * 100 TB the packing key would gain a date/shard component exactly like
  * q18's halo'd splits, but the operator shape is unchanged.
  */
object Pipeline {

  /** p1: cleaned corpus = docs passing the quality gates, keeping the
    * lowest doc_id among byte-identical duplicates (d1's dedup applied as a
    * filter). Gates: 30..4000 words, no empty text, letters present.
    */
  def corpusFilter(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"fp").orderBy($"doc_id".asc)
    Tables.documents(s, d)
      .withColumn("n_words", size(split($"text", " ")))
      .withColumn("fp", md5($"text"))
      .filter($"n_words".between(30, 4000) &&
        length(trim($"text")) > 0 && $"text".rlike("[A-Za-z]"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"doc_id", $"lang", $"fp", $"n_words")
      .orderBy($"doc_id")
  }

  val corpusFilterSql: String =
    """WITH gated AS (
      |  SELECT doc_id, lang, md5(text) AS fp,
      |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words
      |  FROM documents
      |  WHERE len(string_split(text, ' ')) BETWEEN 30 AND 4000
      |    AND length(trim(text)) > 0 AND regexp_matches(text, '[A-Za-z]')),
      |ranked AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id ASC) AS rn
      |  FROM gated)
      |SELECT doc_id, lang, fp, n_words FROM ranked WHERE rn = 1
      |ORDER BY doc_id""".stripMargin

  /** p2: stratified sample — per-language keep rates applied via a
    * deterministic hash coin: keep iff the first 4 hex chars of
    * md5(doc_id) sort below the rate threshold (lowercase hex compares
    * lexically == numerically, so the Spark and DuckDB predicates are
    * byte-identical). en 50%, es 75%, everything else 100%.
    */
  def stratifiedSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val coin = substring(md5($"doc_id".cast("string")), 1, 4)
    val threshold = when($"lang" === "en", lit("8000"))
      .when($"lang" === "es", lit("c000"))
      .otherwise(lit("zzzz")) // above any hex digit: keep all
    Tables.documents(s, d)
      .filter(coin < threshold)
      .select($"doc_id", $"lang", coin.as("coin"))
      .orderBy($"doc_id")
  }

  val stratifiedSampleSql: String =
    """SELECT doc_id, lang, substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS coin
      |FROM documents
      |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
      |  CASE WHEN lang = 'en' THEN '8000'
      |       WHEN lang = 'es' THEN 'c000'
      |       ELSE 'zzzz' END
      |ORDER BY doc_id""".stripMargin

  /** p3: token-budget packing: per language, concatenate docs in doc_id
    * order and chunk at 2048 whitespace tokens — each doc's bin is the
    * 2048-chunk its START offset falls in (concat-then-chunk packing).
    * Output: per (lang, bin) doc count and token sum. All-integer math.
    */
  def tokenPack(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"lang").orderBy($"doc_id".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, d)
      .withColumn("n_tok", size(split($"text", " ")).cast("long"))
      .withColumn("cum", sum($"n_tok").over(w))
      .withColumn("bin", expr("(cum - n_tok) div 2048"))
      .groupBy($"lang", $"bin")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("sum_tokens"))
      .orderBy($"lang", $"bin")
  }

  val tokenPackSql: String =
    """WITH toks AS (
      |  SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |  FROM documents),
      |cums AS (
      |  SELECT lang, n_tok,
      |    SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM toks)
      |SELECT lang, CAST((cum - n_tok) // 2048 AS BIGINT) AS bin,
      |  COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS sum_tokens
      |FROM cums
      |GROUP BY 1, 2
      |ORDER BY lang, bin""".stripMargin

  /** p4: incremental dedup — the daily-ingest shape: a NEW batch (source
    * 'src0') checked against the EXISTING corpus (every other source) for
    * exact (md5) and near (shared LSH band bucket, reusing
    * [[Dedup.bandSigs]]) duplication. Emits per new doc: exact_dup,
    * near_dup, keep. At 100 TB the corpus side is the persisted fingerprint
    * / band-signature index the ingest job maintains — here derived inline
    * from the same table; the join shapes (two semi-joins keyed by fp /
    * (band, sig)) are identical either way.
    */
  def incrementalDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val newB = docs.filter($"source" === "src0")
      .select($"doc_id", md5($"text").as("fp"))
    val corp = docs.filter($"source" =!= "src0")
      .select($"doc_id".as("c_id"), md5($"text").as("c_fp"))
    val allBands = Dedup.bandSigs(s, d)
    val newBands = allBands
      .join(docs.filter($"source" === "src0").select($"doc_id"), Seq("doc_id"))
    val corpBands = allBands
      .join(docs.filter($"source" =!= "src0").select($"doc_id"), Seq("doc_id"))
      .select($"band", $"sig")
    val exacts = newB.join(corp, newB("fp") === corp("c_fp"), "left_semi")
      .select($"doc_id").distinct().withColumn("e", lit(true))
    val nears = newBands.join(corpBands, Seq("band", "sig"), "left_semi")
      .select($"doc_id").distinct().withColumn("n", lit(true))
    newB.select($"doc_id")
      .join(exacts, Seq("doc_id"), "left")
      .join(nears, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"e", lit(false)).as("exact_dup"),
        coalesce($"n", lit(false)).as("near_dup"))
      .withColumn("keep", !$"exact_dup" && !$"near_dup")
      .orderBy($"doc_id")
  }

  val incrementalDedupSql: String =
    """WITH __SH__,
      |__BANDS__,
      |newb AS (SELECT doc_id, md5(text) AS fp FROM documents WHERE source = 'src0'),
      |corp AS (SELECT doc_id, md5(text) AS fp FROM documents WHERE source <> 'src0'),
      |exacts AS (SELECT DISTINCT n.doc_id FROM newb n JOIN corp c ON n.fp = c.fp),
      |nears AS (SELECT DISTINCT nb.doc_id
      |  FROM bands nb
      |  JOIN documents dn ON dn.doc_id = nb.doc_id AND dn.source = 'src0'
      |  JOIN bands cb ON nb.band = cb.band AND nb.sig = cb.sig
      |  JOIN documents dc ON dc.doc_id = cb.doc_id AND dc.source <> 'src0')
      |SELECT n.doc_id,
      |  n.doc_id IN (SELECT doc_id FROM exacts) AS exact_dup,
      |  n.doc_id IN (SELECT doc_id FROM nears) AS near_dup,
      |  n.doc_id NOT IN (SELECT doc_id FROM exacts)
      |    AND n.doc_id NOT IN (SELECT doc_id FROM nears) AS keep
      |FROM newb n
      |ORDER BY doc_id""".stripMargin
      .replace("__SH__", Dedup.shinglesCte)
      .replace("__BANDS__", Dedup.bandsCte)

  /** p5: benchmark decontamination — the eval-leakage check every training
    * corpus needs: flag eval-set docs (source 'src19' plays the benchmark)
    * sharing any word-4-gram with the training split. Shapes: distinct
    * 4-gram sets per side (map + partial-agg), train side collapsed to a
    * DISTINCT shingle set BEFORE the join (so a boilerplate 4-gram
    * contributes one row, not df rows — the same hot-key discipline as
    * d3's df cap), then one equi-join keyed by the shingle and a per-doc
    * count. Eval is the small side — at 100 TB train the join broadcasts
    * the eval shingle set and the train scan stays shuffle-free.
    */
  private val EvalSrc = "src19"

  /** Distinct word-4-gram shingles per (doc, source) — shared by p5/p7. */
  private def shingles4(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id", $"source", split(lower($"text"), " ").as("w"))
      .filter(size($"w") >= 4)
      .select($"doc_id", $"source", explode(expr(
        "transform(sequence(0, size(w)-4), i -> concat_ws(' ', slice(w, i+1, 4)))"))
        .as("sh"))
      .distinct()
  }

  /** Shared oracle CTE: the same 4-gram shingling in DuckDB. */
  private val shingles4Cte: String =
    """words AS (
      |  SELECT doc_id, source, string_split(lower(text), ' ') AS w FROM documents),
      |tok AS (SELECT doc_id, source, unnest(w) AS word, generate_subscripts(w, 1) AS i
      |        FROM words WHERE len(w) >= 4),
      |sh4 AS (SELECT doc_id, source,
      |          word || ' ' || LEAD(word,1) OVER win || ' ' || LEAD(word,2) OVER win
      |               || ' ' || LEAD(word,3) OVER win AS sh
      |        FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY i)),
      |shc AS (SELECT DISTINCT doc_id, source, sh FROM sh4 WHERE sh IS NOT NULL)""".stripMargin

  def decontaminate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sh = shingles4(s, d)
    val train = sh.filter($"source" =!= EvalSrc).select($"sh").distinct()
    val ev = sh.filter($"source" === EvalSrc)
    val totals = ev.groupBy($"doc_id").agg(count(lit(1)).as("n_shingles"))
    val hits = ev.join(train, Seq("sh"))
      .groupBy($"doc_id").agg(count(lit(1)).as("h"))
    totals.join(hits, Seq("doc_id"), "left")
      .select($"doc_id", $"n_shingles",
        coalesce($"h", lit(0L)).as("hits"),
        (coalesce($"h", lit(0L)) > 0).as("contaminated"))
      .orderBy($"doc_id")
  }

  val decontaminateSql: String =
    """WITH __SH4__,
      |train AS (SELECT DISTINCT sh FROM shc WHERE source <> 'src19'),
      |ev AS (SELECT doc_id, sh FROM shc WHERE source = 'src19'),
      |agg AS (
      |  SELECT doc_id, COUNT(*) AS n_shingles,
      |    COUNT(*) FILTER (WHERE sh IN (SELECT sh FROM train)) AS hits
      |  FROM ev GROUP BY doc_id)
      |SELECT doc_id, n_shingles, hits, hits > 0 AS contaminated
      |FROM agg
      |ORDER BY doc_id""".stripMargin
      .replace("__SH4__", shingles4Cte)

  /** Bloom filter size (bits) and hash count for p7. At the fixture's
    * 202k train shingles (sf0.1), m = 2^21, k = 4 gives a measured FP rate
    * of ~1%; at sf0.01 (23k shingles) the filter is nearly clean. Both
    * mirrored literally in the oracle.
    */
  val BloomBits = 2097152L
  val BloomHashes = 4

  /** p7: DETERMINISTIC Bloom-filter decontamination — the shape the exact
    * p5 semi-join takes at 100 TB: the train side collapses to a real
    * m/8-byte bitmap (treeAggregate of per-partition OR-folds) that
    * BROADCASTS, so the eval scan never shuffles against the train corpus.
    * Every bit position derives from md5 (position j = hex chars
    * 8j+1..8j+8 of md5(shingle), mod m), so both engines build the
    * identical filter and the result hash-checks the measured
    * false-positive count per eval doc (bloom_hits - exact_hits) — the
    * number every Bloom deployment needs to know and almost none measure.
    * Spark's built-in bloom_filter_agg is the opaque fast path; this is
    * the oracle-checkable twin with the same plan shape.
    */
  def bloomDecontaminate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val posCols = (0 until BloomHashes).map { j =>
      expr(s"CAST(conv(substring(md5(sh), ${j * 8 + 1}, 8), 16, 10) AS BIGINT) % $BloomBits")
    }
    // Two actions consume the shingle relation (the bitmap fold, then the
    // query proper) — materialize it ONCE, with the k bit positions already
    // computed, instead of re-shingling and re-hashing the corpus per
    // action. At cluster scale this is the same persist any multi-pass
    // sketch build does over its input.
    // r19 opt NOTE: a spread-by-sh pin before the positions was tried and
    // MEASURED SLOWER (1.54 s -> 2.07 s at sf0.1): the added exchange of
    // the whole shingle relation costs more than the scan-layout
    // inheritance — the bitmap fold is an RDD treeAggregate (fans out
    // regardless) and the eval side is small. Left in the scan layout
    // deliberately.
    val sh = shingles4(s, d)
      .withColumn("positions", array(posCols: _*))
      .localCheckpoint()
    // Build the filter as an ACTUAL bitmap (m/64 longs = 256 KB), folded
    // per-partition and OR-merged up a tree — no distinct (OR dedups for
    // free), no shuffle of positions, and the broadcast ships 256 KB
    // however many billions of train shingles fed it. This is the literal
    // 100 TB shape the scaladoc promises; the previous form joined the
    // eval positions against a distinct-position RELATION, paying two
    // exchanges for what one bit-test per position answers.
    val words = (BloomBits / 64).toInt
    val bitmap = sh.filter($"source" =!= EvalSrc)
      .select(explode($"positions").as("pos")).as[Long]
      .rdd.treeAggregate(new Array[Long](words))(
        (arr, p) => { arr((p >>> 6).toInt) |= 1L << (p & 63); arr },
        (a, b) => { var i = 0; while (i < words) { a(i) |= b(i); i += 1 }; a })
    val bc = s.sparkContext.broadcast(bitmap)
    val bloomHit = udf { ps: Seq[Long] =>
      ps.forall(p => (bc.value((p >>> 6).toInt) & (1L << (p & 63))) != 0L)
    }
    val train = sh.filter($"source" =!= EvalSrc).select($"sh").distinct()
      .withColumn("in_train", lit(1))
    sh.filter($"source" === EvalSrc)
      .select($"doc_id", $"sh", bloomHit($"positions").as("bloom_hit"))
      .join(train, Seq("sh"), "left")
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when($"bloom_hit", 1L).otherwise(0L)).as("bloom_hits"),
        sum(when($"in_train".isNotNull, 1L).otherwise(0L)).as("exact_hits"))
      .select($"doc_id", $"n_shingles", $"bloom_hits", $"exact_hits",
        ($"bloom_hits" - $"exact_hits").as("false_pos"))
      .orderBy($"doc_id")
  }

  val bloomDecontaminateSql: String =
    s"""WITH __SH4__,
       |spos AS (
       |  SELECT DISTINCT doc_id, source, sh,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(1, 9),
       |        i -> CAST(strpos('0123456789abcdef',
       |               substr(md5(sh), j * 8 + i, 1)) - 1 AS BIGINT))),
       |      (acc, v) -> acc * 16 + v) % $BloomBits AS pos
       |  FROM shc CROSS JOIN generate_series(0, ${BloomHashes - 1}) g(j)),
       |bits AS (SELECT DISTINCT pos FROM spos WHERE source <> 'src19'),
       |evp AS (SELECT doc_id, sh, pos FROM spos WHERE source = 'src19'),
       |per_sh AS (
       |  SELECT doc_id, sh, COUNT(*) AS npos,
       |    COUNT(*) FILTER (WHERE pos IN (SELECT pos FROM bits)) AS nhit
       |  FROM evp GROUP BY 1, 2),
       |train AS (SELECT DISTINCT sh FROM shc WHERE source <> 'src19')
       |SELECT doc_id,
       |  COUNT(*) AS n_shingles,
       |  CAST(COUNT(*) FILTER (WHERE nhit = npos) AS BIGINT) AS bloom_hits,
       |  CAST(COUNT(*) FILTER (WHERE sh IN (SELECT sh FROM train)) AS BIGINT)
       |    AS exact_hits,
       |  CAST(COUNT(*) FILTER (WHERE nhit = npos) AS BIGINT)
       |    - CAST(COUNT(*) FILTER (WHERE sh IN (SELECT sh FROM train)) AS BIGINT)
       |    AS false_pos
       |FROM per_sh
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin
      .replace("__SH4__", shingles4Cte)

  /** Docs kept per source by [[quotaSample]]. */
  val QuotaPerSource = 10

  /** p6: deterministic QUOTA sampling — exactly [[QuotaPerSource]] docs per
    * source, chosen by md5-coin order (tie-break doc_id): the domain-mixing
    * primitive that needs exact per-stratum counts, where p2's hash-
    * bernoulli only hits rates in expectation. No RNG state: the same docs
    * win on any cluster layout, any partitioning, any engine — the coin is
    * a pure function of doc_id and lowercase-hex compares lexically ==
    * numerically in both engines.
    *
    * Scale shape: one shuffle keyed by source + a per-stratum rank window.
    * A hot stratum sorts only its own partition; for quotas small relative
    * to stratum size the per-partition-top-K + merge refinement applies,
    * but the operator shape (rank ≤ K over (source) by coin) is unchanged.
    */
  def quotaSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"source")
      .orderBy($"coin".asc, $"doc_id".asc)
    Tables.documents(s, d)
      .select($"doc_id", $"source",
        substring(md5($"doc_id".cast("string")), 1, 8).as("coin"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= QuotaPerSource)
      .select($"doc_id", $"source", $"coin", $"rk")
      .orderBy($"doc_id")
  }

  val quotaSampleSql: String =
    s"""WITH coins AS (
       |  SELECT doc_id, source,
       |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS coin
       |  FROM documents),
       |ranked AS (
       |  SELECT doc_id, source, coin,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY coin ASC, doc_id ASC) AS INTEGER) AS rk
       |  FROM coins)
       |SELECT doc_id, source, coin, rk
       |FROM ranked
       |WHERE rk <= $QuotaPerSource
       |ORDER BY doc_id""".stripMargin

  /** Shard fan-out for [[stratifiedShard]]. */
  val NShards = 8

  /** p8: stratified hash-sharding — the step that splits a cleaned corpus
    * into training shards. Each doc's shard is a deterministic md5 coin
    * (first byte mod [[NShards]]): embarrassingly parallel, no global sort
    * or row numbering (a rank-striped assignment would serialize the whole
    * corpus through one ordering — the classic 100 TB anti-pattern), and
    * balanced in expectation WITHIN every token-length band, so each shard
    * sees the same length mixture. The output is the balance report per
    * (band, shard) — doc counts and token sums — which is both the audit a
    * sharding job emits and the hash-check that the assignment is
    * engine-identical.
    */
  def stratifiedShard(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .withColumn("n_tok", size(split($"text", " ")).cast("long"))
      .withColumn("band", least(expr("n_tok div 16"), lit(7L)))
      .withColumn("shard",
        (conv(substring(md5($"doc_id".cast("string")), 1, 2), 16, 10)
          .cast("long") % NShards).cast("int"))
      .groupBy($"band", $"shard")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("sum_tokens"))
      .orderBy($"band", $"shard")
  }

  val stratifiedShardSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
       |    md5(CAST(doc_id AS VARCHAR)) AS h
       |  FROM documents),
       |assigned AS (
       |  SELECT least(n_tok // 16, 7) AS band,
       |    CAST(((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16 +
       |          (strpos('0123456789abcdef', substr(h, 2, 1)) - 1)) % $NShards
       |      AS INTEGER) AS shard,
       |    n_tok
       |  FROM toks)
       |SELECT band, shard, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tok) AS BIGINT) AS sum_tokens
       |FROM assigned
       |GROUP BY 1, 2
       |ORDER BY band, shard""".stripMargin

  /** p9: temperature-weighted domain mixing — the multilingual/multi-source
    * re-weighting step every LLM data recipe runs (sample source j with
    * probability proportional to N_j^alpha, alpha = 0.5 here): big sources
    * are down-sampled toward the small ones so the mixture flattens, while
    * every source keeps at least its share. Keep rule for a doc with coin
    * c in [0, 16^7): keep iff c^2 * N_j < 16^14 * N_min — algebraically
    * P(keep) = sqrt(N_min / N_j), but evaluated in EXACT integer arithmetic
    * (DECIMAL(38,0) both engines; c^2 ~ 7e16 times counts overflows BIGINT,
    * never 38 digits), so no engine ever computes a square root and the
    * kept set is bit-identical on any cluster layout.
    *
    * Scale shape: the per-source totals are a tiny broadcast (one row per
    * source), the keep decision is a narrow map over the scan, and the
    * only shuffle is the per-source report aggregation. At 100 TB the
    * totals come from the catalog or a first pass — the operator shape is
    * unchanged.
    */
  def temperatureMix(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val docs = Tables.documents(s, d)
      .select($"doc_id", $"lang",
        conv(substring(md5($"doc_id".cast("string")), 1, 7), 16, 10)
          .cast("long").as("c"))
    val counts = docs.groupBy($"lang").agg(count(lit(1)).as("n_docs"))
    val nmin = counts.agg(min($"n_docs").as("n_min"))
    docs.join(broadcast(counts), Seq("lang"))
      .crossJoin(broadcast(nmin))
      .withColumn("keep",
        $"c".cast(dec) * $"c".cast(dec) * $"n_docs".cast(dec) <
          lit("72057594037927936").cast(dec) * $"n_min".cast(dec))
      .groupBy($"lang")
      .agg(
        max($"n_docs").as("n_docs"),
        sum(when($"keep", 1L).otherwise(0L)).as("n_kept"))
      .withColumn("kept_bps", expr("(n_kept * 10000) div n_docs"))
      .orderBy($"lang")
  }

  val temperatureMixSql: String =
    """WITH counts AS (
      |  SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
      |nm AS (SELECT MIN(n_docs) AS n_min FROM counts),
      |coins AS (
      |  SELECT d.lang, c.n_docs, nm.n_min,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(range(1, 8),
      |        i -> CAST(strpos('0123456789abcdef',
      |               substr(md5(CAST(d.doc_id AS VARCHAR)), i, 1)) - 1
      |             AS BIGINT))),
      |      (acc, v) -> acc * 16 + v) AS c
      |  FROM documents d
      |  JOIN counts c ON c.lang = d.lang
      |  CROSS JOIN nm),
      |kept AS (
      |  SELECT lang, n_docs,
      |    CAST(c AS HUGEINT) * CAST(c AS HUGEINT) * n_docs
      |      < CAST(72057594037927936 AS HUGEINT) * n_min AS keep
      |  FROM coins)
      |SELECT lang, n_docs,
      |  CAST(COUNT(*) FILTER (WHERE keep) AS BIGINT) AS n_kept,
      |  CAST(COUNT(*) FILTER (WHERE keep) AS BIGINT) * 10000 // n_docs
      |    AS kept_bps
      |FROM kept
      |GROUP BY lang, n_docs
      |ORDER BY lang""".stripMargin

  /** Epoch cap for [[epochRepeat]] — no source repeats more than this many
    * times, however small it is (the standard guard against memorizing a
    * tiny source). Mirrored literally in the oracle.
    */
  val MaxEpochs = 4L

  /** p10: epoch repetition planning — [[temperatureMix]]'s complement: p9
    * DOWN-samples big sources, this UP-weights small ones by materializing
    * each source's docs `min(MaxEpochs, N_max div N_src)` times (the
    * "repeat high-quality under-represented data for multiple epochs" step
    * of LLM data recipes). Output is the virtual-epoch doc list the packer
    * consumes: (doc_id, source, epoch), all-integer repeat factors — no
    * proportional float weights to drift between engines.
    *
    * Scale shape: per-source totals broadcast (one row per source), the
    * explode is narrow (each doc expands to its own <= MaxEpochs copies in
    * place), and no shuffle happens at all until a downstream consumer
    * keys by something — the repeat factor rides the scan.
    */
  /** p14: deterministic per-epoch shuffle ORDER — the reproducibility
    * property a training run needs from its data loader: epoch N's global
    * read order must be a pure function of (corpus, N), identical across
    * restarts, resumptions and cluster sizes (what `orderBy(rand())`
    * fundamentally cannot give, the ordering sibling of p13's
    * hash-bucketed split). Each epoch is an independent permutation:
    * position = rank of md5(epoch ':' doc_id) within the epoch.
    *
    * Scale shape — a global total order WITHOUT a one-partition window:
    * bucket = the hash's first byte (a PREFIX of the sort key, so bucket
    * order is consistent with hash order), rank within (epoch, bucket)
    * windows ([[ShuffleEpochs]]×256 partitions, parallel), plus each
    * bucket's cumulative offset from a tiny per-bucket count aggregate
    * broadcast back — the standard distributed sort-rank construction.
    * The oracle replays it as one flat ROW_NUMBER per epoch; equality
    * holds exactly because the bucket is a prefix of the ordering key.
    */
  val ShuffleEpochs = 3L

  def epochShuffle(s: SparkSession, d: String): DataFrame =
    epochShuffleOf(Tables.documents(s, d))

  /** The shuffle-order plan over an arbitrary documents frame — the
    * PropertySpec seam (permutation / cross-epoch divergence / layout
    * invariance are asserted against mangled inputs).
    */
  private[graft] def epochShuffleOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
    val x = docs.select($"doc_id")
      .withColumn("epoch",
        explode(expr(s"sequence(CAST(1 AS BIGINT), ${ShuffleEpochs}L)")))
      .withColumn("h", md5(concat_ws(":", $"epoch", $"doc_id")))
      .withColumn("b", substring($"h", 1, 2))
    val offsets = x.groupBy($"epoch", $"b").agg(count(lit(1)).as("bn"))
      .withColumn("off", coalesce(
        sum($"bn").over(w.partitionBy($"epoch").orderBy($"b")
          .rowsBetween(w.unboundedPreceding, -1)), lit(0L)))
      .select($"epoch", $"b", $"off")
    x.withColumn("r", row_number().over(
        w.partitionBy($"epoch", $"b").orderBy($"h", $"doc_id")))
      .join(broadcast(offsets), Seq("epoch", "b"))
      .select($"epoch", ($"off" + $"r").as("pos"), $"doc_id")
      .orderBy($"epoch", $"pos")
  }

  val epochShuffleSql: String =
    s"""WITH e AS (SELECT CAST(range AS BIGINT) AS epoch FROM range(1, ${ShuffleEpochs + 1})),
       |x AS (
       |  SELECT e.epoch, d.doc_id,
       |    md5(CAST(e.epoch AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)) AS h
       |  FROM documents d CROSS JOIN e)
       |SELECT epoch,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY h, doc_id) AS BIGINT) AS pos,
       |  doc_id
       |FROM x
       |ORDER BY epoch, pos""".stripMargin

  def epochRepeat(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select($"doc_id", $"lang")
    val counts = docs.groupBy($"lang").agg(count(lit(1)).as("n"))
    val nmax = counts.agg(max($"n").as("nmax"))
    val rep = counts.crossJoin(broadcast(nmax))
      .select($"lang",
        least(lit(MaxEpochs), greatest(lit(1L), expr("nmax div n")))
          .as("repeats"))
    docs.join(broadcast(rep), Seq("lang"))
      .select($"doc_id", $"lang",
        explode(expr("sequence(CAST(1 AS BIGINT), repeats)")).as("epoch"))
      .orderBy($"doc_id", $"epoch")
  }

  val epochRepeatSql: String =
    s"""WITH counts AS (
       |  SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
       |mx AS (SELECT MAX(n) AS nmax FROM counts),
       |rep AS (
       |  SELECT lang, LEAST($MaxEpochs, GREATEST(1, nmax // n)) AS repeats
       |  FROM counts CROSS JOIN mx)
       |SELECT d.doc_id, d.lang, CAST(g.e AS BIGINT) AS epoch
       |FROM documents d
       |JOIN rep r USING (lang)
       |CROSS JOIN generate_series(1, $MaxEpochs) g(e)
       |WHERE g.e <= r.repeats
       |ORDER BY d.doc_id, epoch""".stripMargin

  /** p11: the END-TO-END corpus-prep run — p1's quality gate + exact dedup,
    * p2's per-language hash-bernoulli sampling, and p3's token-budget
    * packing COMPOSED into one declarative plan, reported per (lang, bin).
    * Each stage is individually oracle-checked (p1/p2/p3); this entry
    * checks their composition — and because it is one DataFrame chain,
    * Catalyst plans the whole run together: the corpus is scanned ONCE
    * (PlanAuditSpec pins the single scan), the gate filter evaluates
    * scan-side before any exchange (its predicates are computed columns,
    * so they can't reach parquet, but they do run before data moves), and
    * nothing materializes between stages. This is the shape a real 100 TB
    * prep job has: one plan, not three jobs with parquet handoffs.
    */
  def corpusPrep(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dedup = Window.partitionBy($"fp").orderBy($"doc_id".asc)
    val packW = Window.partitionBy($"lang").orderBy($"doc_id".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val coin = substring(md5($"doc_id".cast("string")), 1, 4)
    val threshold = when($"lang" === "en", lit("8000"))
      .when($"lang" === "es", lit("c000"))
      .otherwise(lit("zzzz"))
    Tables.documents(s, d)
      .withColumn("n_tok", size(split($"text", " ")).cast("long"))
      .withColumn("fp", md5($"text"))
      .filter($"n_tok".between(30, 4000) &&
        length(trim($"text")) > 0 && $"text".rlike("[A-Za-z]"))
      .withColumn("rn", row_number().over(dedup))
      .filter($"rn" === 1)
      .filter(coin < threshold)
      .withColumn("cum", sum($"n_tok").over(packW))
      .withColumn("bin", expr("(cum - n_tok) div 2048"))
      .groupBy($"lang", $"bin")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("sum_tokens"))
      .orderBy($"lang", $"bin")
  }

  val corpusPrepSql: String =
    """WITH gated AS (
      |  SELECT doc_id, lang, md5(text) AS fp,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |  FROM documents
      |  WHERE len(string_split(text, ' ')) BETWEEN 30 AND 4000
      |    AND length(trim(text)) > 0 AND regexp_matches(text, '[A-Za-z]')),
      |deduped AS (
      |  SELECT * FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id ASC)
      |      AS rn
      |    FROM gated) t WHERE rn = 1),
      |sampled AS (
      |  SELECT * FROM deduped
      |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
      |    CASE WHEN lang = 'en' THEN '8000'
      |         WHEN lang = 'es' THEN 'c000'
      |         ELSE 'zzzz' END),
      |cums AS (
      |  SELECT lang, n_tok,
      |    SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM sampled)
      |SELECT lang, CAST((cum - n_tok) // 2048 AS BIGINT) AS bin,
      |  COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS sum_tokens
      |FROM cums
      |GROUP BY 1, 2
      |ORDER BY lang, bin""".stripMargin

  /** p13: deterministic train/val/test split — the reproducibility
    * primitive every training pipeline needs: membership is a pure
    * function of the doc id (bucket = first md5 byte, 0-255: <230 train
    * ≈90%, <243 val ≈5%, else test ≈5%), so re-running the pipeline on a
    * re-partitioned, re-ordered, or incrementally-grown corpus never
    * moves an existing document across splits (no sampling state, no
    * ordering dependence — the property `sample()`/`randomSplit()` lack).
    * Report is per (lang, split): doc/token counts, the exact split share
    * in bps, and an id-sum membership checksum so the ASSIGNMENT itself
    * hash-checks, not just the sizes.
    *
    * Scale shape: one narrow map over the scan (md5 of the key), one
    * partial-agg shuffle on (lang, split), a broadcast join to the
    * per-lang totals — same class as p8's shard assignment; nothing here
    * depends on corpus size.
    */
  /** Per-doc assignment — a pure function of `doc_id` (PropertySpec pins
    * that membership never moves when the corpus grows or re-orders).
    */
  def splitAssignOf(in: DataFrame): DataFrame =
    in.select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10)
          .cast("long").as("b"))
      .withColumn("split",
        when(col("b") < 230, "train").when(col("b") < 243, "val")
          .otherwise("test"))

  def trainValTestSplit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = splitAssignOf(Tables.documents(s, d))
    val tot = docs.groupBy($"lang").agg(count(lit(1)).as("n_lang"))
    docs.groupBy($"lang", $"split")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tok").as("sum_tokens"),
        sum($"doc_id").as("id_sum"))
      .join(broadcast(tot), Seq("lang"))
      .select($"lang", $"split", $"n_docs", $"sum_tokens", $"id_sum",
        expr("(n_docs * 10000) div n_lang").as("share_bps"))
      .orderBy($"lang", $"split")
  }

  val trainValTestSplitSql: String =
    """WITH d AS (
      |  SELECT doc_id, lang,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
      |    (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16 +
      |    (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS b
      |  FROM documents),
      |a AS (
      |  SELECT lang,
      |    CASE WHEN b < 230 THEN 'train' WHEN b < 243 THEN 'val' ELSE 'test' END AS split,
      |    n_tok, doc_id FROM d),
      |tot AS (SELECT lang, COUNT(*) AS n_lang FROM a GROUP BY lang),
      |agg AS (
      |  SELECT lang, split, COUNT(*) AS n_docs,
      |    CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
      |    CAST(SUM(doc_id) AS BIGINT) AS id_sum
      |  FROM a GROUP BY 1, 2)
      |SELECT agg.lang, agg.split, n_docs, sum_tokens, id_sum,
      |  (n_docs * 10000) // n_lang AS share_bps
      |FROM agg JOIN tot USING (lang)
      |ORDER BY lang, split""".stripMargin

  /** p12 seed domain: vectors labeled [[DomainSeedLabel]] define the target
    * domain; [[DomainTau]] is the keep threshold on the centroid dot —
    * fixture-empirical (≈ the 90th percentile of the score distribution at
    * sf0.01, keeping ~10%), mirrored LITERALLY in the oracle SQL like d5's
    * hamming cap.
    */
  val DomainSeedLabel = 0
  val DomainTau = 0.02

  /** p12: embedding-based domain filter — the classifier-free corpus
    * curation shape (score every document's embedding against a small
    * labeled seed set, keep what scores above a threshold). Two stages:
    *
    *   1. centroid of the seed vectors, per dimension, as an exact
    *      DECIMAL(38,6) mean ([[graft.Ora.davg]] — order-independent, so
    *      1000 executors of partial sums produce the identical vector);
    *   2. one broadcast of the 1-row centroid and a MAP-SIDE dot + filter
    *      over the whole corpus — no shuffle touches the big table, which
    *      is what makes this the 100 TB shape (the seed agg is 64 rows
    *      regardless of corpus size).
    *
    * The dot accumulates left-to-right like s1 so DuckDB's `list_reduce`
    * reproduces it bit-for-bit.
    */
  def domainFilter(s: SparkSession, d: String): DataFrame =
    domainFilterOf(Tables.embeddings(s, d))

  /** [[domainFilter]] over an arbitrary embeddings relation — the split
    * lets PropertySpec drive the identical computation over adversarially
    * repartitioned input to pin the layout-invariance claim.
    */
  private[graft] def domainFilterOf(e: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    val cent = e.filter($"label" === DomainSeedLabel)
      .select(posexplode($"embedding").as(Seq("dim", "x")))
      .groupBy($"dim").agg(graft.Ora.davg($"x".cast("double")).as("c"))
      .agg(sort_array(collect_list(struct($"dim", $"c"))).as("dc"))
      .select(transform($"dc", p => p("c")).as("cv"))
    e.crossJoin(broadcast(cent))
      .filter($"label" =!= DomainSeedLabel)
      .select($"vec_id", $"label",
        aggregate(
          zip_with($"embedding".cast("array<double>"), $"cv", (x, y) => x * y),
          lit(0.0), (acc, x) => acc + x).as("score"))
      .filter($"score" >= DomainTau)
      .orderBy($"score".desc, $"vec_id".asc)
  }

  val domainFilterSql: String = {
    val base =
      """WITH cent AS (
        |  SELECT list(c ORDER BY dim) AS cv FROM (
        |    SELECT i - 1 AS dim, @AVG@ AS c
        |    FROM (SELECT unnest(embedding) AS x,
        |            generate_subscripts(embedding, 1) AS i
        |          FROM embeddings WHERE label = @SEED@) t
        |    GROUP BY i - 1) g),
        |scored AS (
        |  SELECT e.vec_id, e.label,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(range(1, len(e.embedding) + 1),
        |        i -> CAST(e.embedding[i] AS DOUBLE) * cv[i])),
        |      (acc, x) -> acc + x) AS score
        |  FROM embeddings e CROSS JOIN cent
        |  WHERE e.label <> @SEED@)
        |SELECT vec_id, label, score FROM scored
        |WHERE score >= @TAU@
        |ORDER BY score DESC, vec_id ASC""".stripMargin
    base
      .replace("@AVG@", graft.Ora.sqlAvg("CAST(x AS DOUBLE)"))
      .replace("@SEED@", DomainSeedLabel.toString)
      .replace("@TAU@", DomainTau.toString)
  }

  /** p15 soft-dedup exponent domain: keep-probability csize^(-1/2) realized
    * as coin^2 < 2^48 div csize over a 24-bit md5 coin. 2^48 mirrored
    * literally in the oracle.
    */
  val SoftDedupCoinSq = 281474976710656L // 2^48

  /** p15: SOFT deduplication — downweight duplicate clusters instead of
    * deleting them (the D4/SemDeDup-era recipe: full removal of near-dups
    * measurably hurts when the "duplicates" carry distribution mass; keep
    * each cluster's docs with probability csize^(-alpha) and/or reweight
    * by 1/csize at training time). d6's LSH near-dup clusters supply
    * csize; every doc gets its loss weight (`weight_ppm` = 1e6 div csize
    * — exact integers, no float division) and a deterministic alpha=0.5
    * keep decision: a 24-bit md5 coin c keeps the doc iff
    * c^2 < 2^48 div csize, so P(keep) ~ csize^(-1/2) with NO pow(), no
    * RNG state, and bit-identical outcomes on any cluster layout or
    * engine (the division-first form keeps every term under 2^48 —
    * overflow-safe however large a 100 TB cluster gets). Singletons
    * (csize 1) always keep with weight 1e6.
    *
    * Scale: the cluster labels are d6's capped-LSH label propagation
    * (O(diameter) rounds over banded pairs); sizing is one count per
    * cluster; the decision is a map-side expression. The labels relation
    * is near-dup docs ONLY (a small fraction of any deduped corpus), so
    * the doc-side left join broadcasts it at scale.
    */
  def softDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val labels = Dedup.neardupClusters(s, d)
    val docs = Tables.documents(s, d).select($"doc_id")
      .join(labels, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"cluster_id", $"doc_id").as("cluster_id"))
    val sizes = docs.groupBy($"cluster_id").agg(count(lit(1)).as("csize"))
    docs.join(sizes, Seq("cluster_id"))
      .select($"doc_id", $"cluster_id", $"csize",
        expr("1000000L div csize").as("weight_ppm"),
        expr("CAST(conv(substring(md5(cast(doc_id AS string)), 1, 6), 16, 10) AS BIGINT)")
          .as("coin"))
      .withColumn("kept",
        $"coin" * $"coin" < expr(s"${SoftDedupCoinSq}L div csize"))
      .orderBy($"doc_id")
  }

  val softDedupSql: String =
    s"""WITH RECURSIVE pairs AS (__PAIRS__),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |reach(src, dst) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |labels AS (SELECT src AS doc_id, MIN(dst) AS cluster_id
       |           FROM reach GROUP BY src),
       |docs AS (SELECT d.doc_id,
       |           COALESCE(l.cluster_id, d.doc_id) AS cluster_id
       |         FROM documents d LEFT JOIN labels l USING (doc_id)),
       |sz AS (SELECT cluster_id, COUNT(*) AS csize FROM docs GROUP BY 1),
       |coin AS (SELECT doc_id,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(range(1, 7),
       |      i -> CAST(strpos('0123456789abcdef',
       |             substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1 AS BIGINT))),
       |    (acc, v) -> acc * 16 + v) AS coin
       |  FROM docs)
       |SELECT d.doc_id, d.cluster_id, s.csize,
       |  1000000 // s.csize AS weight_ppm, c.coin,
       |  (c.coin * c.coin) < ($SoftDedupCoinSq // s.csize) AS kept
       |FROM docs d
       |JOIN sz s USING (cluster_id)
       |JOIN coin c USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
      .replace("__PAIRS__", Dedup.minhashLshSql)

  /** p16: length-bucketed batch formation with padding-waste accounting.
    *
    * Training dataloaders pad every sequence in a batch to the batch max;
    * batching by length bucket is the standard fix, and the number every
    * such deployment needs is the padding waste it still pays. Docs are
    * bucketed by `tok div 64`, numbered within the bucket (deterministic
    * doc_id order), grouped into batches of 16, and each batch reports
    * `n_docs * max_tok - sum_tok` — the padded-token overhead.
    *
    * Scale: one shuffle keyed by bucket + a per-bucket sort (the
    * row_number window). Buckets are value-bounded (tok range / 64), so
    * at 100 TB the partition key becomes (bucket, hash(doc_id) % K) to
    * bound any one sort — batch numbering stays within the finer key and
    * the waste accounting is unchanged. All arithmetic is integer-exact.
    */
  def lengthBatching(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
      .select($"doc_id", size(split($"text", " ")).cast("long").as("tok"))
      .withColumn("bucket", expr("tok div 64"))
    val w = Window.partitionBy($"bucket").orderBy($"doc_id")
    docs.withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("batch_id", expr("(rn - 1L) div 16"))
      .groupBy($"bucket", $"batch_id")
      .agg(count(lit(1)).as("n_docs"), max($"tok").as("max_tok"),
        sum($"tok").as("sum_tok"))
      .select($"bucket", $"batch_id", $"n_docs", $"max_tok", $"sum_tok",
        ($"n_docs" * $"max_tok" - $"sum_tok").as("pad_waste"))
      .orderBy($"bucket", $"batch_id")
  }

  val lengthBatchingSql: String =
    """WITH docs AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
      |  FROM documents),
      |b AS (SELECT doc_id, tok, tok // 64 AS bucket FROM docs),
      |r AS (
      |  SELECT doc_id, tok, bucket,
      |    CAST(row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS BIGINT) AS rn
      |  FROM b)
      |SELECT bucket, (rn - 1) // 16 AS batch_id,
      |  COUNT(*) AS n_docs, MAX(tok) AS max_tok,
      |  CAST(SUM(tok) AS BIGINT) AS sum_tok,
      |  CAST(COUNT(*) * MAX(tok) - SUM(tok) AS BIGINT) AS pad_waste
      |FROM r
      |GROUP BY bucket, (rn - 1) // 16
      |ORDER BY bucket, batch_id""".stripMargin

  /** p17: curriculum ordering — the staged training schedule easy→hard
    * curricula need: difficulty = mean word length in milli-chars
    * (n_chars·1000 div tokens — integer-exact; longer words ≈ rarer
    * vocabulary), docs split into 4 difficulty stages by NTILE over the
    * unique (score, doc_id) order, and WITHIN each stage the feed order is
    * re-randomized by p14's md5-coin discipline (a curriculum that keeps
    * ascending-score order inside a stage would correlate adjacent batches).
    * Output is the full schedule: position → doc with its stage and score.
    *
    * Scale: BOTH total orders go through [[DistRank]]'s distributed rank
    * — the stage NTILE over (score, doc_id), the position row_number over
    * (stage, coin, doc_id), each range-partitioned on its full key — so the
    * schedule is bit-identical to the flat-window oracle with no
    * single-partition stage anywhere. The second rank reads the first's
    * checkpoint, so the scoring upstream is not re-run. The md5 coin is
    * pure column-function work, codegen'd, no RNG state.
    */
  def curriculum(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select($"doc_id", $"n_chars",
        size(split($"text", " ")).cast("long").as("tok"))
      .withColumn("score", expr("(n_chars * 1000L) div tok"))
      .withColumn("coin",
        substring(md5(concat(lit("cur:"), $"doc_id".cast("string"))), 1, 8))
    val staged = DistRank.withNtile(docs, 4, "stage",
      $"score", desc = false, Seq($"doc_id"))
    DistRank.withRowNumber(staged, "posl", $"stage", desc = false,
        Seq($"coin", $"doc_id"))
      .withColumn("pos", $"posl".cast("int"))
      .select($"pos", $"doc_id", $"stage", $"score", $"coin")
      .orderBy($"pos")
  }

  val curriculumSql: String =
    """WITH docs AS (
      |  SELECT doc_id, n_chars,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
      |  FROM documents),
      |scored AS (
      |  SELECT doc_id, (n_chars * 1000) // tok AS score,
      |    substr(md5('cur:' || CAST(doc_id AS VARCHAR)), 1, 8) AS coin
      |  FROM docs),
      |staged AS (
      |  SELECT doc_id, score, coin,
      |    CAST(NTILE(4) OVER (ORDER BY score, doc_id) AS INTEGER) AS stage
      |  FROM scored)
      |SELECT
      |  CAST(ROW_NUMBER() OVER (ORDER BY stage, coin, doc_id) AS INTEGER) AS pos,
      |  doc_id, stage, score, coin
      |FROM staged
      |ORDER BY pos""".stripMargin

  /** p18: dataset card — the per-(source, lang) datasheet every corpus
    * release ships (Gebru et al.'s "Datasheets for Datasets" reduced to the
    * numbers a pretraining run actually consumes): document count, char
    * and whitespace-token volume, and the exact-duplicate exposure
    * (share of docs whose md5 fingerprint occurs more than once
    * CORPUS-WIDE — cross-source duplication must show up in every source's
    * card, which is why the dup flag is computed before the grouping).
    * `dup_ppm` is exact integer ppm.
    *
    * Scale: one fp-keyed window (d1's dedup exchange) then one
    * (source, lang)-keyed partial agg — the group count is tiny, the
    * heavy keys are real columns; no driver-side anything.
    */
  def datasetCard(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select($"source", $"lang", $"n_chars",
        size(split($"text", " ")).cast("long").as("tok"),
        md5($"text").as("fp"))
    val w = Window.partitionBy($"fp")
    docs.withColumn("dup", count(lit(1)).over(w) > 1)
      .groupBy($"source", $"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_chars").as("sum_chars"),
        sum($"tok").as("sum_tokens"),
        sum(when($"dup", 1L).otherwise(0L)).as("dup_docs"))
      .withColumn("dup_ppm", expr("dup_docs * 1000000L div n_docs"))
      .orderBy($"source", $"lang")
  }

  val datasetCardSql: String =
    """WITH docs AS (
      |  SELECT source, lang, n_chars,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
      |    md5(text) AS fp
      |  FROM documents),
      |flagged AS (
      |  SELECT source, lang, n_chars, tok,
      |    COUNT(*) OVER (PARTITION BY fp) > 1 AS dup
      |  FROM docs)
      |SELECT source, lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(SUM(tok) AS BIGINT) AS sum_tokens,
      |  CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs,
      |  CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) * 1000000
      |    // COUNT(*) AS dup_ppm
      |FROM flagged
      |GROUP BY source, lang
      |ORDER BY source, lang""".stripMargin

  /** p19: quality-prune curve — the "what does a quality floor cost"
    * table every curation decision consults before pruning: docs ranked
    * into quality deciles (score = p17's milli-chars-per-token proxy,
    * decile 1 = highest), each row reporting the decile's doc/token
    * volume, the CUMULATIVE tokens retained if everything below it were
    * pruned, and that retention as exact integer ppm of the corpus. The
    * curve turns "prune at p30?" from a guess into a lookup.
    *
    * Scale: the decile assignment is [[DistRank]]'s distributed NTILE
    * ((score, doc_id) range partitions, no single-partition window); the
    * cumulative column is a triangle self-join over the 10-row decile
    * frame — exact BIGINT sums, so join-order never matters, and the
    * whole plan stays free of unpartitioned windows.
    */
  def pruneCurve(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val scored = Tables.documents(s, d)
      .select($"doc_id", $"n_chars",
        size(split($"text", " ")).cast("long").as("tok"))
      .withColumn("score", expr("(n_chars * 1000L) div tok"))
    val deciled = DistRank.withNtile(scored, 10, "decile",
      $"score", desc = true, Seq($"doc_id"))
    val per = deciled.groupBy($"decile")
      .agg(count(lit(1)).as("n_docs"), sum($"tok").as("tok_decile"))
    per
      .join(broadcast(per.select($"decile".as("d2"), $"tok_decile".as("t2"))),
        $"d2" <= $"decile")
      .groupBy($"decile", $"n_docs", $"tok_decile")
      .agg(sum($"t2").as("tok_retained"))
      .crossJoin(broadcast(scored.agg(sum($"tok").as("tok_total"))))
      .withColumn("retained_ppm", expr("tok_retained * 1000000L div tok_total"))
      .select($"decile", $"n_docs", $"tok_decile", $"tok_retained",
        $"retained_ppm")
      .orderBy($"decile")
  }

  val pruneCurveSql: String =
    """WITH scored AS (
      |  SELECT doc_id, n_chars,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
      |    (n_chars * 1000) // CAST(len(string_split(text, ' ')) AS BIGINT)
      |      AS score
      |  FROM documents),
      |deciled AS (
      |  SELECT tok,
      |    CAST(NTILE(10) OVER (ORDER BY score DESC, doc_id) AS INTEGER)
      |      AS decile
      |  FROM scored),
      |per AS (
      |  SELECT decile, COUNT(*) AS n_docs,
      |    CAST(SUM(tok) AS BIGINT) AS tok_decile
      |  FROM deciled GROUP BY 1),
      |tot AS (SELECT CAST(SUM(tok) AS BIGINT) AS tok_total FROM scored)
      |SELECT decile, n_docs, tok_decile,
      |  CAST(SUM(tok_decile) OVER (ORDER BY decile
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS tok_retained,
      |  CAST(SUM(tok_decile) OVER (ORDER BY decile
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    * 1000000 // tok_total AS retained_ppm
      |FROM per CROSS JOIN tot
      |ORDER BY decile""".stripMargin

  /** p20: repeat-budget mixing (the data-constrained scaling recipe —
    * Muennighoff et al. 2023: when tokens are scarce, repeat GOOD data
    * rather than adding bad): p19's quality deciles are banded into
    * tiers — top 3 deciles repeat ×4, middle 4 ×2, bottom 3 ×1 — and the
    * policy table reports, per tier, the unique volume, the repeat
    * factor, and the effective (expanded) token contribution with its
    * exact-ppm share of the effective corpus. The table IS the
    * deliverable: it is what a training-run config consumes.
    *
    * Scale: p19's decile machinery ([[DistRank]] NTILE, no
    * single-partition window) + a 3-row rollup; the expansion is
    * arithmetic on aggregates, never a physical row multiplication (p10
    * does the physical repeat; this op decides the budget).
    */
  def repeatBudget(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val scored = Tables.documents(s, d)
      .select($"doc_id", $"n_chars",
        size(split($"text", " ")).cast("long").as("tok"))
      .withColumn("score", expr("(n_chars * 1000L) div tok"))
    val deciled = DistRank.withNtile(scored, 10, "decile",
      $"score", desc = true, Seq($"doc_id"))
    val tiered = deciled.withColumn("tier",
      when($"decile" <= 3, "high")
        .when($"decile" <= 7, "mid")
        .otherwise("low"))
      .withColumn("repeats",
        when($"decile" <= 3, 4L).when($"decile" <= 7, 2L).otherwise(1L))
    val per = tiered.groupBy($"tier", $"repeats")
      .agg(count(lit(1)).as("n_docs"), sum($"tok").as("tok_unique"))
      .withColumn("tok_effective", $"tok_unique" * $"repeats")
    per.crossJoin(broadcast(
        per.agg(sum($"tok_effective").as("tok_eff_total"))))
      .withColumn("share_ppm",
        expr("tok_effective * 1000000L div tok_eff_total"))
      .select($"tier", $"repeats", $"n_docs", $"tok_unique",
        $"tok_effective", $"share_ppm")
      .orderBy($"tier")
  }

  val repeatBudgetSql: String =
    """WITH scored AS (
      |  SELECT doc_id, n_chars,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
      |    (n_chars * 1000) // CAST(len(string_split(text, ' ')) AS BIGINT)
      |      AS score
      |  FROM documents),
      |deciled AS (
      |  SELECT tok,
      |    CAST(NTILE(10) OVER (ORDER BY score DESC, doc_id) AS INTEGER)
      |      AS decile
      |  FROM scored),
      |tiered AS (
      |  SELECT tok,
      |    CASE WHEN decile <= 3 THEN 'high'
      |         WHEN decile <= 7 THEN 'mid' ELSE 'low' END AS tier,
      |    CAST(CASE WHEN decile <= 3 THEN 4
      |         WHEN decile <= 7 THEN 2 ELSE 1 END AS BIGINT) AS repeats
      |  FROM deciled),
      |per AS (
      |  SELECT tier, repeats, COUNT(*) AS n_docs,
      |    CAST(SUM(tok) AS BIGINT) AS tok_unique,
      |    CAST(SUM(tok) AS BIGINT) * repeats AS tok_effective
      |  FROM tiered GROUP BY 1, 2),
      |tot AS (SELECT CAST(SUM(tok_effective) AS BIGINT) AS tok_eff_total
      |        FROM per)
      |SELECT tier, repeats, n_docs, tok_unique, tok_effective,
      |  tok_effective * 1000000 // tok_eff_total AS share_ppm
      |FROM per CROSS JOIN tot
      |ORDER BY tier""".stripMargin

  /** p21: cluster-coherent split — the leakage-PROOF train/val/test
    * assignment (the fix for what d12's audit detects): p13 splits by a
    * per-document md5 coin, which keeps each document itself out of two
    * splits but lets its NEAR-DUPLICATES straddle the boundary and
    * quietly inflate eval numbers. Here the coin is thrown once per
    * near-dup CLUSTER (d6's min-label components over d2's LSH pairs;
    * singletons are their own cluster) and every member inherits it — a
    * cross-split near-dup pair is impossible by construction, which
    * PropertySpec proves by rewiring d12's audit against this assignment
    * (zero leaks, versus the leaks d12 finds in p13's).
    *
    * Scale: d2's bucket-capped pair generation + d6's label propagation
    * (both already 100 TB-shaped) + one left join and a narrow md5 map —
    * the split itself adds no new heavy stage.
    */
  def clusterSplit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select($"doc_id")
    val clustered = Dedup.minLabelClusters(
      Dedup.minhashLsh(s, d).select($"doc_a", $"doc_b"),
      "doc_a", "doc_b", "doc_id")
    docs.join(clustered, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce($"cluster_id", $"doc_id"))
      .withColumn("b",
        conv(substring(md5($"cluster_id".cast("string")), 1, 2), 16, 10)
          .cast("long"))
      .withColumn("split",
        when($"b" < 230, "train").when($"b" < 243, "val").otherwise("test"))
      .select($"doc_id", $"cluster_id", $"split")
      .orderBy($"doc_id")
  }

  val clusterSplitSql: String =
    """WITH RECURSIVE pairs AS (__PAIRS__),
      |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
      |          UNION SELECT doc_b, doc_a FROM pairs),
      |reach(src, dst) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      |comp AS (SELECT src AS doc_id, MIN(dst) AS cluster_id
      |         FROM reach GROUP BY src),
      |ad AS (
      |  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
      |  FROM documents d LEFT JOIN comp c USING (doc_id)),
      |coin AS (
      |  SELECT doc_id, cluster_id,
      |    (strpos('0123456789abcdef',
      |       substr(md5(CAST(cluster_id AS VARCHAR)), 1, 1)) - 1) * 16 +
      |    (strpos('0123456789abcdef',
      |       substr(md5(CAST(cluster_id AS VARCHAR)), 2, 1)) - 1) AS b
      |  FROM ad)
      |SELECT doc_id, cluster_id,
      |  CASE WHEN b < 230 THEN 'train' WHEN b < 243 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM coin
      |ORDER BY doc_id""".stripMargin
      .replace("__PAIRS__", Dedup.minhashLshSql)

  /** p22: SEMANTIC decontamination — the embedding-space complement of
    * p7's n-gram Bloom: corpus vectors within cosine 0.45 of any
    * benchmark vector (the deterministic `vec_id % 97 == 0` slice, ~1%)
    * are contamination hits; the report covers the WHOLE corpus — every
    * audited vector carries `flagged` plus, when hit, the earliest
    * matching benchmark id and hit count — paraphrased test-set leakage
    * that token-level n-grams can't see (the reason every modern corpus
    * prep runs BOTH gates). Plan shape is s1's, not d5's: the benchmark side
    * is tiny by construction, so it BROADCASTS and the join is a
    * broadcast loop whose conjuncts short-circuit — 4x xor+popcount
    * hamming (d5's 256-plane BitSketch prefilter, <=110) ahead of the
    * exact float dot, so ~90% of corpus x bench pairs never pay the full
    * 64-float multiply. A benchmark too large to broadcast switches to
    * d5's block equi-join with zero semantic change. Constants (17,
    * hamming 110, cos 0.45) mirrored literally in the oracle (change
    * both or neither — 110 is d5's empirical cap for the 0.45 band).
    */
  def semanticDecon(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d).select($"vec_id", $"embedding",
      graft.functions.BitSketch.sketch($"embedding", Dedup.SketchPlanes)
        .as("sk"))
    val bench = e.filter($"vec_id" % 17 === 0)
      .select($"vec_id".as("b_id"), $"embedding".as("b_emb"),
        $"sk".as("b_sk"))
    val corpus = e.filter($"vec_id" % 17 =!= 0)
    val ham = (0 until Dedup.SketchPlanes / 64).map { w =>
      bit_count(element_at($"sk", w + 1)
        .bitwiseXOR(element_at($"b_sk", w + 1)))
    }.reduce(_ + _)
    val hits = corpus.join(broadcast(bench),
        ham <= Dedup.SketchHammingMax &&
          graft.functions.VectorFunctions.dot($"embedding", $"b_emb") >= 0.45)
      .groupBy($"vec_id")
      .agg(min($"b_id").as("bench_hit"), count(lit(1)).as("n_hits"))
    // the report covers the WHOLE corpus — clean vectors carry an
    // explicit clean verdict, so the consumer filters `flagged`, never
    // re-derives who was audited
    corpus.select($"vec_id").join(hits, Seq("vec_id"), "left")
      .select($"vec_id", $"bench_hit",
        coalesce($"n_hits", lit(0L)).as("n_hits"),
        $"bench_hit".isNotNull.as("flagged"))
      .orderBy($"vec_id")
  }

  val semanticDeconSql: String =
    """WITH __SIGS__,
      |hits AS (
      |  SELECT c.vec_id, MIN(b.vec_id) AS bench_hit,
      |    CAST(COUNT(*) AS BIGINT) AS n_hits
      |  FROM embeddings c
      |  JOIN sigs sc ON sc.vec_id = c.vec_id
      |  JOIN embeddings b ON b.vec_id % 17 = 0
      |  JOIN sigs sb ON sb.vec_id = b.vec_id
      |  WHERE c.vec_id % 17 <> 0
      |    AND hamming(sc.sig, sb.sig) <= 110
      |    AND list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(range(1, len(c.embedding) + 1),
      |        i -> CAST(c.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))),
      |      (acc, x) -> acc + x) >= 0.45
      |  GROUP BY c.vec_id)
      |SELECT c.vec_id, h.bench_hit,
      |  COALESCE(h.n_hits, 0) AS n_hits,
      |  h.bench_hit IS NOT NULL AS flagged
      |FROM (SELECT vec_id FROM embeddings WHERE vec_id % 17 <> 0) c
      |LEFT JOIN hits h ON h.vec_id = c.vec_id
      |ORDER BY c.vec_id""".stripMargin
      .replace("__SIGS__", Dedup.sketchSigsCte)

  /** p23: the DECONTAMINATION VERDICT MATRIX — one benchmark definition
    * (the deterministic `% 17` slice, p22's), two detection modalities,
    * four verdicts per corpus doc: `both` (near-verbatim leakage — the
    * n-gram overlap AND the embedding both fire), `ngram_only` (literal
    * phrase reuse below the cosine bar — boilerplate/citation),
    * `semantic_only` (PARAPHRASED leakage — exactly what token-level
    * gates miss and the reason p22 exists), `clean`. This is the table
    * the decontamination runbook acts on: `both`/`semantic_only` drop,
    * `ngram_only` gets human review. N-gram leg: any shared 4-shingle
    * with a benchmark doc (p5's exact semi-join scoped to the benchmark
    * slice); semantic leg: p22's flag verbatim (embeddings are
    * id-parallel to documents; docs beyond the embedded prefix carry
    * semantic_hit = false — "not semantically checkable" — identically
    * in both engines). Constants: %17 (p22's), 4-shingles (p5's), both
    * mirrored.
    */
  def deconMatrix(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sh = shingles4(s, d)
    val bench = sh.filter($"doc_id" % 17 === 0).select($"sh").distinct()
    val ngram = sh.filter($"doc_id" % 17 =!= 0)
      .join(bench, Seq("sh"))
      .select($"doc_id").distinct()
      .withColumn("ngram_hit", lit(true))
    val sem = semanticDecon(s, d)
      .select($"vec_id".as("doc_id"), $"flagged".as("semantic_hit"))
    Tables.documents(s, d).filter($"doc_id" % 17 =!= 0).select($"doc_id")
      .join(ngram, Seq("doc_id"), "left")
      .join(sem, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"ngram_hit", lit(false)).as("ngram_hit"),
        coalesce($"semantic_hit", lit(false)).as("semantic_hit"))
      .withColumn("verdict",
        when($"ngram_hit" && $"semantic_hit", "both")
          .when($"ngram_hit", "ngram_only")
          .when($"semantic_hit", "semantic_only")
          .otherwise("clean"))
      .orderBy($"doc_id")
  }

  val deconMatrixSql: String =
    """WITH __SIGS__,
      |hits AS (
      |  SELECT c.vec_id, MIN(b.vec_id) AS bench_hit
      |  FROM embeddings c
      |  JOIN sigs sc ON sc.vec_id = c.vec_id
      |  JOIN embeddings b ON b.vec_id % 17 = 0
      |  JOIN sigs sb ON sb.vec_id = b.vec_id
      |  WHERE c.vec_id % 17 <> 0
      |    AND hamming(sc.sig, sb.sig) <= 110
      |    AND list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(range(1, len(c.embedding) + 1),
      |        i -> CAST(c.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))),
      |      (acc, x) -> acc + x) >= 0.45
      |  GROUP BY c.vec_id),
      |__SH4__,
      |bench AS (SELECT DISTINCT sh FROM shc WHERE doc_id % 17 = 0),
      |ng AS (
      |  SELECT DISTINCT doc_id FROM shc
      |  WHERE doc_id % 17 <> 0 AND sh IN (SELECT sh FROM bench)),
      |m AS (
      |  SELECT d.doc_id,
      |    (ng.doc_id IS NOT NULL) AS ngram_hit,
      |    (h.bench_hit IS NOT NULL) AS semantic_hit
      |  FROM (SELECT doc_id FROM documents WHERE doc_id % 17 <> 0) d
      |  LEFT JOIN ng ON ng.doc_id = d.doc_id
      |  LEFT JOIN hits h ON h.vec_id = d.doc_id)
      |SELECT doc_id, ngram_hit, semantic_hit,
      |  CASE WHEN ngram_hit AND semantic_hit THEN 'both'
      |       WHEN ngram_hit THEN 'ngram_only'
      |       WHEN semantic_hit THEN 'semantic_only'
      |       ELSE 'clean' END AS verdict
      |FROM m
      |ORDER BY doc_id""".stripMargin
      .replace("__SIGS__", Dedup.sketchSigsCte)
      .replace("__SH4__", shingles4Cte)

  /** p24: token-budget MIXTURE planner — the table a training run is
    * provisioned from: given per-source target weights and a total token
    * budget, how much of each source is sampled, how many full epochs it
    * repeats, and how much of the target is UNFILLABLE under a repeat
    * cap. Weights are the literal formula `(src_index % 5) + 1` (mirrored
    * in the oracle); the budget deliberately oversubscribes the corpus
    * (`total_tokens * 3 div 2`) so the repeat/deficit arms are live; the
    * cap is [[RepeatCap]] epochs — the data-constrained-scaling rule of
    * thumb (Muennighoff et al. 2023: repeated data stops paying after
    * ~4 epochs). All arithmetic exact BIGINT (mul-then-div). Unlike
    * p20's quality-tier repeats (decile-driven), this plans against an
    * EXTERNAL mixture target — the DoReMi-style knob. Shapes: one
    * map-side-partial token aggregation per source, a broadcast 1-row
    * totals join, then pure projection — no window, no second corpus
    * pass; at 100 TB the plan costs one aggregation over the token-count
    * column.
    */
  val RepeatCap = 4L

  def mixturePlan(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val inv = Tables.documents(s, d)
      .select($"source", size(split($"text", " ")).cast("long").as("tok"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"tok").as("tok_inv"))
      .withColumn("w",
        (substring($"source", 4, 10).cast("int") % 5 + 1).cast("long"))
    val tot = inv.agg(sum($"tok_inv").as("tot_inv"), sum($"w").as("tot_w"))
    inv.crossJoin(broadcast(tot))
      .withColumn("desired",
        expr("(tot_inv * 3L div 2) * w div tot_w"))
      .withColumn("planned", least($"desired", $"tok_inv" * RepeatCap))
      .select($"source", $"n_docs", $"tok_inv", $"w", $"desired",
        $"planned",
        expr("planned div tok_inv").as("full_epochs"),
        ($"planned" % $"tok_inv").as("partial_tok"),
        ($"desired" - $"planned").as("deficit"))
      .orderBy($"source")
  }

  val mixturePlanSql: String =
    s"""WITH inv AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tok_inv,
       |    CAST(CAST(substr(source, 4) AS INTEGER) % 5 + 1 AS BIGINT) AS w
       |  FROM documents GROUP BY source),
       |tot AS (
       |  SELECT CAST(SUM(tok_inv) AS BIGINT) AS tot_inv,
       |    CAST(SUM(w) AS BIGINT) AS tot_w FROM inv),
       |pl AS (
       |  SELECT i.source, i.n_docs, i.tok_inv, i.w,
       |    (t.tot_inv * 3 // 2) * i.w // t.tot_w AS desired,
       |    LEAST((t.tot_inv * 3 // 2) * i.w // t.tot_w,
       |      i.tok_inv * $RepeatCap) AS planned
       |  FROM inv i CROSS JOIN tot t)
       |SELECT source, n_docs, tok_inv, w,
       |  CAST(desired AS BIGINT) AS desired,
       |  CAST(planned AS BIGINT) AS planned,
       |  CAST(planned // tok_inv AS BIGINT) AS full_epochs,
       |  CAST(planned % tok_inv AS BIGINT) AS partial_tok,
       |  CAST(desired - planned AS BIGINT) AS deficit
       |FROM pl
       |ORDER BY source""".stripMargin

  /** p33: ANNEAL/COOLDOWN two-phase mixture planner (r19) — the
    * midtraining pattern production runs converged on (Llama-3 /
    * MiniCPM-style anneal: finish training on an upweighted
    * high-quality slice): the token budget splits into a BASE phase
    * allocated over every source's full inventory and a COOLDOWN phase
    * allocated over each source's QUALITY-ELIGIBLE tokens only —
    * eligibility is p25's integer rule battery (all five rules pass;
    * thresholds mirrored literally in the oracle, first-fail order
    * irrelevant here since eligibility is the conjunction). Budget =
    * `tot div 2` tokens split 4:1 base:cooldown; every allocation is
    * exact BIGINT mul-then-div (p24's discipline — no floats anywhere).
    * Emitted per (source, phase): available tokens, allocation, full
    * epochs + partial-token remainder — the provisioning table a
    * two-phase run reads off. Shapes: ONE corpus pass for per-source
    * (tokens, eligible-tokens) partials, a broadcast 1-row totals join,
    * pure projection — no window, no second pass; at 100 TB this costs
    * one aggregation over derived per-doc ints.
    */
  def cooldownPlan(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val per = Tables.documents(s, d)
      .withColumn("w", split(lower($"text"), " "))
      .select($"source",
        size($"w").cast("long").as("nt"),
        size(filter($"w", x => x.isin(FunnelStop: _*))).cast("long")
          .as("ns"),
        length($"text").cast("long").as("lc"))
      .select($"source", $"nt",
        ($"nt" >= 20L && $"nt" <= 80L &&
          $"lc" >= $"nt" * 5L && $"lc" <= $"nt" * 12L &&
          $"ns" * 20L >= $"nt").as("elig"))
    val inv = per.groupBy($"source")
      .agg(sum($"nt").as("avail_all"),
        sum(when($"elig", $"nt").otherwise(0L)).as("avail_cd"))
    val tot = inv.agg(sum($"avail_all").as("tot_all"),
      sum($"avail_cd").as("tot_cd"))
    val planned = inv.crossJoin(broadcast(tot))
      .withColumn("b_all", expr("(tot_all div 2) * 4 div 5"))
      .withColumn("b_cd",
        expr("tot_all div 2 - (tot_all div 2) * 4 div 5"))
      .withColumn("alloc_base", expr("b_all * avail_all div tot_all"))
      .withColumn("alloc_cd", expr(
        "CASE WHEN tot_cd > 0 THEN b_cd * avail_cd div tot_cd " +
          "ELSE CAST(0 AS BIGINT) END"))
    def leg(phase: String, avail: String, alloc: String) =
      planned.select($"source", lit(phase).as("phase"),
        col(avail).as("avail_tok"), col(alloc).as("alloc_tok"),
        expr(s"CASE WHEN $avail > 0 THEN $alloc div $avail " +
          s"ELSE CAST(0 AS BIGINT) END").as("full_epochs"),
        expr(s"CASE WHEN $avail > 0 THEN $alloc % $avail " +
          s"ELSE CAST(0 AS BIGINT) END").as("partial_tok"))
    leg("base", "avail_all", "alloc_base")
      .unionByName(leg("cooldown", "avail_cd", "alloc_cd"))
      .orderBy($"source", $"phase")
  }

  val cooldownPlanSql: String =
    """WITH per AS (
      |  SELECT source,
      |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS nt,
      |    CAST(len(list_filter(string_split(lower(text), ' '),
      |      x -> list_contains(['the','a','of','and','to','is','in','it'], x)))
      |      AS BIGINT) AS ns,
      |    CAST(LENGTH(text) AS BIGINT) AS lc
      |  FROM documents),
      |inv AS (
      |  SELECT source, CAST(SUM(nt) AS BIGINT) AS avail_all,
      |    CAST(SUM(CASE WHEN nt >= 20 AND nt <= 80
      |      AND lc >= nt * 5 AND lc <= nt * 12
      |      AND ns * 20 >= nt THEN nt ELSE 0 END) AS BIGINT) AS avail_cd
      |  FROM per GROUP BY source),
      |tot AS (
      |  SELECT CAST(SUM(avail_all) AS BIGINT) AS tot_all,
      |    CAST(SUM(avail_cd) AS BIGINT) AS tot_cd FROM inv),
      |pl AS (
      |  SELECT i.source, i.avail_all, i.avail_cd,
      |    (t.tot_all // 2) * 4 // 5 AS b_all,
      |    t.tot_all // 2 - (t.tot_all // 2) * 4 // 5 AS b_cd,
      |    t.tot_all, t.tot_cd
      |  FROM inv i CROSS JOIN tot t)
      |SELECT * FROM (
      |SELECT source, 'base' AS phase, avail_all AS avail_tok,
      |  CAST(b_all * avail_all // tot_all AS BIGINT) AS alloc_tok,
      |  CAST(CASE WHEN avail_all > 0
      |    THEN (b_all * avail_all // tot_all) // avail_all
      |    ELSE 0 END AS BIGINT) AS full_epochs,
      |  CAST(CASE WHEN avail_all > 0
      |    THEN (b_all * avail_all // tot_all) % avail_all
      |    ELSE 0 END AS BIGINT) AS partial_tok
      |FROM pl
      |UNION ALL
      |SELECT source, 'cooldown', avail_cd,
      |  CAST(CASE WHEN tot_cd > 0 THEN b_cd * avail_cd // tot_cd
      |    ELSE 0 END AS BIGINT),
      |  CAST(CASE WHEN avail_cd > 0 AND tot_cd > 0
      |    THEN (b_cd * avail_cd // tot_cd) // avail_cd
      |    ELSE 0 END AS BIGINT),
      |  CAST(CASE WHEN avail_cd > 0 AND tot_cd > 0
      |    THEN (b_cd * avail_cd // tot_cd) % avail_cd
      |    ELSE 0 END AS BIGINT)
      |FROM pl)
      |ORDER BY source, phase""".stripMargin

  /** p25: quality-rule ATTRITION FUNNEL — the Gopher-style rule cascade
    * (Rae et al. 2021's heuristic battery) reported the way a production
    * pipeline publishes it: one row per rule IN CASCADE ORDER with docs
    * entering, dropped by THIS rule (first-failure attribution), and
    * surviving. Rules are integer cross-multiplies only (no float
    * ratios): min/max token count, chars-per-token band, stopword floor
    * (≥5%), distinct-token repetition ceiling (≥40% unique). Every
    * threshold is mirrored literally in the oracle; a rule that drops
    * zero is an honest row, not an error. Shapes: ONE corpus pass
    * computes the per-doc first-failing-rule index and its ≤6-row
    * histogram (map-side partial count); the cascade arithmetic is a
    * LAZY broadcast join of the 5-row rule frame against that histogram
    * (n_in(s) = Σ n where ff=0 or ff≥s — docs reaching stage s are
    * exactly those passing rules 1..s-1), so building/explaining the
    * plan costs nothing and the corpus is scanned exactly once, at
    * execution time (r15: retired the eager driver collect the r14
    * ADVICE flagged). At 100 TB the funnel costs exactly one
    * aggregation over derived per-doc ints.
    */
  private val FunnelStop = Seq("the", "a", "of", "and", "to", "is", "in", "it")

  def qualityFunnel(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ff = Tables.documents(s, d)
      .withColumn("w", split(lower($"text"), " "))
      .select(
        length($"text").cast("long").as("lc"),
        size($"w").cast("long").as("nt"),
        size(filter($"w", x => x.isin(FunnelStop: _*))).cast("long").as("ns"),
        size(array_distinct($"w")).cast("long").as("nd"))
      .select(
        when(!($"nt" >= 20L), 1)
          .when(!($"nt" <= 80L), 2)
          .when(!($"lc" >= $"nt" * 5L && $"lc" <= $"nt" * 12L), 3)
          .when(!($"ns" * 20L >= $"nt"), 4)
          .when(!($"nd" * 5L >= $"nt" * 2L), 5)
          .otherwise(0).as("ff"))
    // the first-fail histogram is ≤6 rows BY CONSTRUCTION (one per rule
    // + pass-all); broadcast it under the 5-row rule frame so the whole
    // cascade is one lazy plan over a single corpus aggregation
    val cnt = ff.groupBy($"ff").agg(count(lit(1)).as("n"))
    val rules = Seq(
      (1, "min_tokens"), (2, "max_tokens"), (3, "word_length"),
      (4, "stopword_floor"), (5, "repetition")).toDF("stage", "rule")
    rules.join(broadcast(cnt), $"ff" === 0 || $"ff" >= $"stage", "left")
      .groupBy($"stage", $"rule")
      .agg(
        coalesce(sum($"n"), lit(0L)).as("n_in"),
        coalesce(sum(when($"ff" === $"stage", $"n")), lit(0L))
          .as("n_dropped"))
      .select($"stage", $"rule", $"n_in", $"n_dropped",
        ($"n_in" - $"n_dropped").as("n_out"))
      .orderBy($"stage")
  }

  val qualityFunnelSql: String =
    """WITH d AS (
      |  SELECT CAST(LENGTH(text) AS BIGINT) AS lc,
      |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS nt,
      |    CAST(len(list_filter(string_split(lower(text), ' '),
      |      x -> list_contains(['the','a','of','and','to','is','in','it'], x)))
      |      AS BIGINT) AS ns,
      |    CAST(len(list_distinct(string_split(lower(text), ' ')))
      |      AS BIGINT) AS nd
      |  FROM documents),
      |ff AS (
      |  SELECT CASE
      |    WHEN NOT (nt >= 20) THEN 1
      |    WHEN NOT (nt <= 80) THEN 2
      |    WHEN NOT (lc >= nt * 5 AND lc <= nt * 12) THEN 3
      |    WHEN NOT (ns * 20 >= nt) THEN 4
      |    WHEN NOT (nd * 5 >= nt * 2) THEN 5
      |    ELSE 0 END AS ff
      |  FROM d),
      |cnt AS (SELECT ff, CAST(COUNT(*) AS BIGINT) AS n FROM ff GROUP BY ff),
      |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM cnt),
      |rules(stage, rule) AS (VALUES
      |  (1, 'min_tokens'), (2, 'max_tokens'), (3, 'word_length'),
      |  (4, 'stopword_floor'), (5, 'repetition')),
      |drops AS (
      |  SELECT r.stage, r.rule, COALESCE(c.n, 0) AS n_dropped
      |  FROM rules r LEFT JOIN cnt c ON c.ff = r.stage),
      |cum AS (
      |  SELECT a.stage, a.rule, a.n_dropped,
      |    COALESCE(CAST(SUM(b.n_dropped) AS BIGINT), 0) AS before
      |  FROM drops a LEFT JOIN drops b ON b.stage < a.stage
      |  GROUP BY a.stage, a.rule, a.n_dropped)
      |SELECT CAST(stage AS INTEGER) AS stage, rule,
      |  CAST(t.total - before AS BIGINT) AS n_in,
      |  CAST(n_dropped AS BIGINT) AS n_dropped,
      |  CAST(t.total - before - n_dropped AS BIGINT) AS n_out
      |FROM cum CROSS JOIN tot t
      |ORDER BY stage""".stripMargin

  /** p26: exact-substring DROP POLICY — the other half of Lee et al.
    * 2022 (r15, composing d25): a doc is dropped when ≥20% of its tokens
    * sit in cross-document duplicated spans (integer cross-multiply
    * `5·dup ≥ total`, the p25 float-free discipline), and the budget
    * report a pipeline acts on is per SOURCE: docs in/dropped, tokens
    * total/dropped/kept — the "dedup dividend" (compute recovered by
    * dropping near-copies) next to p25's quality attrition. One d25
    * per-doc pass + a doc_id-keyed join back to `documents` for the
    * source + one aggregation; threshold mirrored literally. Fixture
    * reality (measured): shared spans on this corpus are near-full-doc
    * (90-100% coverage — planted near-copy clusters), so the 20% gate
    * drops exactly the cross-copy set; the margin lives in the
    * arithmetic, not the fixture.
    */
  def substrDropPolicy(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val perDoc = Dedup.exactSubstrPerDoc(s, d)
    val dropped = ($"dup_tokens" * 5L) >= $"total_tokens"
    Tables.documents(s, d).select($"doc_id", $"source")
      .join(perDoc, Seq("doc_id"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(dropped, 1L).otherwise(0L)).as("n_dropped"),
        sum($"total_tokens").as("tokens_total"),
        sum(when(dropped, $"total_tokens").otherwise(0L))
          .as("tokens_dropped"),
        sum(when(!dropped, $"total_tokens").otherwise(0L))
          .as("tokens_kept"))
      .orderBy($"source")
  }

  val substrDropPolicySql: String =
    Dedup.exactSubstrPerDocCtes + "\n" +
      """SELECT d.source,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN dup_tokens * 5 >= total_tokens
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  CAST(SUM(total_tokens) AS BIGINT) AS tokens_total,
        |  CAST(SUM(CASE WHEN dup_tokens * 5 >= total_tokens
        |    THEN total_tokens ELSE 0 END) AS BIGINT) AS tokens_dropped,
        |  CAST(SUM(CASE WHEN dup_tokens * 5 >= total_tokens
        |    THEN 0 ELSE total_tokens END) AS BIGINT) AS tokens_kept
        |FROM perdoc p JOIN documents d ON d.doc_id = p.doc_id
        |GROUP BY d.source
        |ORDER BY d.source""".stripMargin

  /** p27: the mixture plan REPLANNED over the post-dedup inventory (r16)
    * — the dedup dividend REINVESTED: p24 budgets against raw token
    * inventories, but after d25/d26's exact-substring surgery the
    * per-source inventory SHRINKS by the duplicated tokens, and a
    * data-constrained run (Muennighoff et al. 2023) must replan —
    * deficits grow where dedup bit hardest, epoch counts shift, and the
    * `reclaimed` column prices what the surgery freed. Same literal
    * weight formula and [[RepeatCap]] as p24 (change both or neither);
    * inventory = Σ(total − dup) per source off d25's shared per-doc
    * frame (hashed-window equi-joins — one extra narrow join over p24's
    * plan, never a second corpus pass for the raw counts: raw = Σ total
    * from the same frame).
    */
  def postDedupMixture(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val perDoc = Dedup.exactSubstrPerDoc(s, d)
    val inv = Tables.documents(s, d).select($"doc_id", $"source")
      .join(perDoc, Seq("doc_id"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"total_tokens").as("tok_raw"),
        sum($"total_tokens" - $"dup_tokens").as("tok_inv"))
      .withColumn("w",
        (substring($"source", 4, 10).cast("int") % 5 + 1).cast("long"))
    val tot = inv.agg(sum($"tok_inv").as("tot_inv"), sum($"w").as("tot_w"))
    inv.crossJoin(broadcast(tot))
      .withColumn("desired",
        expr("(tot_inv * 3L div 2) * w div tot_w"))
      .withColumn("planned", least($"desired", $"tok_inv" * RepeatCap))
      .select($"source", $"n_docs", $"tok_raw", $"tok_inv",
        ($"tok_raw" - $"tok_inv").as("reclaimed"), $"w", $"desired",
        $"planned",
        // total-duplication-safe: on a fully-deduped source tok_inv = 0
        // and planned = 0 (found live on the 10x dedup-hostile replica
        // smoke — every doc a planted copy); 0 epochs, not a div-by-zero
        expr("CASE WHEN tok_inv > 0 THEN planned div tok_inv ELSE 0L END")
          .as("full_epochs"),
        ($"desired" - $"planned").as("deficit"))
      .orderBy($"source")
  }

  val postDedupMixtureSql: String =
    Dedup.exactSubstrPerDocCtes + ",\n" +
      s"""inv AS (
         |  SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(p.total_tokens) AS BIGINT) AS tok_raw,
         |    CAST(SUM(p.total_tokens - p.dup_tokens) AS BIGINT) AS tok_inv,
         |    CAST(CAST(substr(d.source, 4) AS INTEGER) % 5 + 1 AS BIGINT)
         |      AS w
         |  FROM perdoc p JOIN documents d ON d.doc_id = p.doc_id
         |  GROUP BY d.source),
         |tot AS (
         |  SELECT CAST(SUM(tok_inv) AS BIGINT) AS tot_inv,
         |    CAST(SUM(w) AS BIGINT) AS tot_w FROM inv),
         |pl AS (
         |  SELECT i.source, i.n_docs, i.tok_raw, i.tok_inv, i.w,
         |    (t.tot_inv * 3 // 2) * i.w // t.tot_w AS desired,
         |    LEAST((t.tot_inv * 3 // 2) * i.w // t.tot_w,
         |      i.tok_inv * $RepeatCap) AS planned
         |  FROM inv i CROSS JOIN tot t)
         |SELECT source, n_docs, tok_raw, tok_inv,
         |  CAST(tok_raw - tok_inv AS BIGINT) AS reclaimed, w,
         |  CAST(desired AS BIGINT) AS desired,
         |  CAST(planned AS BIGINT) AS planned,
         |  CAST(CASE WHEN tok_inv > 0 THEN planned // tok_inv
         |    ELSE 0 END AS BIGINT) AS full_epochs,
         |  CAST(desired - planned AS BIGINT) AS deficit
         |FROM pl
         |ORDER BY source""".stripMargin

  /** p28: LEAVE-ONE-OUT RULE ABLATION — the question every curation
    * review actually asks of p25's cascade: "what does each rule COST
    * us?" For each of the five Gopher-style rules, the corpus is
    * re-evaluated with that one rule removed; the docs recovered are
    * exactly those whose failure MASK is that rule's bit alone (docs
    * failing only it), so the whole ablation is ONE corpus pass
    * computing a 5-bit failure mask + token count per doc, a ≤32-row
    * (mask → docs, tokens) histogram (map-side partial agg), and a
    * 6-row broadcast rule frame joined against it — p25's lazy-cascade
    * discipline, zero extra scans for 5 ablations (the naive form is 6
    * corpus passes). Stage 0 reports the full-cascade baseline.
    * Thresholds are p25's, mirrored literally (change both or neither).
    * At 100 TB: still exactly one aggregation over derived per-doc ints.
    */
  /** p29: 13-GRAM TEST-SET DECONTAMINATION (GPT-3 appendix C / PaLM's
    * "data contamination" audit — the EXACT-overlap method): a training
    * doc is contaminated if it shares any 13-token n-gram with the
    * held-out benchmark. This completes the decon triptych: p7 flags by
    * whole-doc bloom membership, p22 by embedding similarity; this is
    * the lexical-overlap standard labs actually report. Benchmark =
    * the doc_id mod 37 slice (fixture stand-in for a real eval set);
    * emitted per contaminated doc: distinct shared 13-grams and how
    * many benchmark docs it collides with — the triage columns (1
    * shared gram from 1 doc = likely boilerplate; many from many =
    * leaked eval). Live signal: 1 flagged doc / 46 shared grams at
    * sf0.01, 11/369 at sf0.1. The join is on the exact gram string (the
    * oracle needs string equality); at 100 TB the exchange keys on
    * xxhash64(gram) with the string resolved post-join — d25/p26's r16
    * discipline — and the benchmark side (eval sets are tiny) gram set
    * BROADCASTS, making this a map-side semi-join, no corpus shuffle.
    */
  /** p31: DETERMINISTIC corpus shuffle + shard manifest (r17) — the
    * reproducibility primitive every training run needs before data
    * touches a GPU: a SEEDED global permutation of the corpus and its
    * split into loader shards, such that any two runs (or engines)
    * produce the IDENTICAL order. Permutation key = the md5 fold of
    * `seed || ':' || doc_id` (p7's engine-portable fold — no RNG, no
    * Spark-version hash dependence), shard = key mod 8; within a shard
    * the documents are consumed in key order. The emitted manifest is
    * per shard: doc count, token sum, the first and last doc in
    * consumption order, and an ORDER FINGERPRINT (md5 of the ordered
    * doc_id list) — a training job resuming from any checkpoint can
    * re-derive and VERIFY its exact data order from this row alone.
    * Scale: one map pass computes keys, one exchange on shard, shard-
    * local sort via sortWithinPartitions (shards are the parallel unit
    * by construction — no global sort, no single-partition window);
    * the fingerprint is a ONE-PASS CHAINED DIGEST: a MessageDigest fed
    * the skey-ordered doc_id bytes row by row inside mapPartitions, so
    * per-shard state is O(1) — count/sum/first/last/16 digest bytes —
    * never a collected list or an O(shard) concatenated string (r18;
    * r17 shipped sort_array∘collect_list, a whole shard in one
    * aggregation buffer). Emitted md5 == md5 of the comma-joined
    * ordered doc_id list, byte-identical to the aggregate form, so the
    * oracle is untouched. Shard-count scale rule (t25's contract): the
    * modulus-8 here is the fixture stand-in — at 100 TB shards come
    * from `conv(pkh,16,10) DIV shardSpan` so each shard is CONSTANT
    * SIZE and the per-task sort stays bounded; the digest itself is
    * already O(1) whatever the shard size. Seed mirrored literally in
    * the oracle.
    */
  def seededShuffle(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val seed = "graft-p31-seed1"
    // fixed-width STRING permutation key (12 hex fold chars + zero-padded
    // doc_id): string order == numeric order, and it survives both
    // engines' arg_min/min_by signatures
    val keyed = Tables.documents(s, d)
      .select($"doc_id", size(split($"text", " ")).cast("long").as("n_toks"),
        expr(s"substring(md5(concat('$seed', ':', " +
          "CAST(doc_id AS STRING))), 1, 12)").as("pkh"))
      .select($"doc_id", $"n_toks",
        concat($"pkh", lpad($"doc_id".cast("string"), 10, "0")).as("skey"),
        pmod(expr("conv(pkh, 16, 10)").cast("long"), lit(8L)).as("shard"))
    keyed
      .select($"shard", $"skey", $"doc_id", $"n_toks")
      .as[(Long, String, Long, Long)]
      .repartition($"shard")
      .sortWithinPartitions($"shard", $"skey")
      .mapPartitions { it =>
        // rows arrive (shard, skey)-sorted, shards contiguous: fold each
        // shard with O(1) state, streaming doc_ids into the digest
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Long, Long, Long, String)]
        var cur = Long.MinValue
        var dig: java.security.MessageDigest = null
        var n = 0L; var toks = 0L; var first = 0L; var last = 0L
        def flush(): Unit = if (dig != null)
          out += ((cur, n, toks, first, last,
            dig.digest().map("%02x".format(_)).mkString))
        it.foreach { case (shard, _, docId, nToks) =>
          if (dig == null || shard != cur) {
            flush()
            cur = shard; n = 0L; toks = 0L; first = docId
            dig = java.security.MessageDigest.getInstance("MD5")
          } else dig.update(",".getBytes(java.nio.charset.StandardCharsets.UTF_8))
          dig.update(docId.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          n += 1; toks += nToks; last = docId
        }
        flush()
        out.iterator
      }
      .toDF("shard", "n_docs", "n_tokens", "first_doc", "last_doc",
        "order_md5")
      .orderBy($"shard")
  }

  val seededShuffleSql: String =
    """WITH keyed AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
      |    substr(md5('graft-p31-seed1' || ':' ||
      |      CAST(doc_id AS VARCHAR)), 1, 12) AS pkh
      |  FROM documents),
      |sharded AS (
      |  SELECT doc_id, n_toks,
      |    pkh || lpad(CAST(doc_id AS VARCHAR), 10, '0') AS skey,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(range(1, 13),
      |        i -> CAST(strpos('0123456789abcdef', substr(pkh, i, 1)) - 1
      |          AS BIGINT))),
      |      (acc, v) -> acc * 16 + v) % 8 AS shard
      |  FROM keyed)
      |SELECT CAST(shard AS BIGINT) AS shard,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
      |  CAST(arg_min(doc_id, skey) AS BIGINT) AS first_doc,
      |  CAST(arg_max(doc_id, skey) AS BIGINT) AS last_doc,
      |  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY skey))
      |    AS order_md5
      |FROM sharded
      |GROUP BY shard
      |ORDER BY shard""".stripMargin

  /** p32: CHECKPOINT-RESUME audit (r18) — p31's operational
    * counterpart: a training job that stopped mid-epoch resumes from a
    * per-shard POSITION checkpoint, and this is the exact remaining-work
    * slice that checkpoint denotes under the deterministic order —
    * per shard: docs consumed, docs/tokens remaining, and the NEXT
    * doc_id the loader must emit (-1 = shard exhausted). Order/shard
    * derivation shared LITERALLY with p31 (seed `graft-p31-seed1`,
    * md5-fold skey, mod-8 shards — change both or neither); checkpoint
    * position per shard = 10 + shard (fixture literal). The per-shard
    * row_number runs inside the shard partition (t25's bounded-shard
    * contract — never a global window); at 100 TB the checkpoint is a
    * (shard, skey) WATERMARK instead of an ordinal and the rank
    * disappears entirely (skey > watermark is a filter) — stated here
    * because the ordinal form is what the manifest's consumers actually
    * store today.
    */
  def checkpointResume(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val seed = "graft-p31-seed1"
    val keyed = Tables.documents(s, d)
      .select($"doc_id", size(split($"text", " ")).cast("long").as("n_toks"),
        expr(s"substring(md5(concat('$seed', ':', " +
          "CAST(doc_id AS STRING))), 1, 12)").as("pkh"))
      .select($"doc_id", $"n_toks",
        concat($"pkh", lpad($"doc_id".cast("string"), 10, "0")).as("skey"),
        pmod(expr("conv(pkh, 16, 10)").cast("long"), lit(8L)).as("shard"))
    val w = Window.partitionBy($"shard").orderBy($"skey")
    keyed.withColumn("rn", row_number().over(w))
      .withColumn("ckpt", $"shard" + 10L)
      .groupBy($"shard")
      .agg(count(lit(1)).as("n_docs"),
        count(when($"rn" <= $"ckpt", 1)).as("consumed"),
        count(when($"rn" > $"ckpt", 1)).as("remaining"),
        sum(when($"rn" > $"ckpt", $"n_toks").otherwise(0L))
          .as("toks_remaining"),
        coalesce(max(when($"rn" === $"ckpt" + 1L, $"doc_id")), lit(-1L))
          .as("next_doc"))
      .orderBy($"shard")
  }

  val checkpointResumeSql: String =
    """WITH keyed AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
      |    substr(md5('graft-p31-seed1' || ':' ||
      |      CAST(doc_id AS VARCHAR)), 1, 12) AS pkh
      |  FROM documents),
      |sharded AS (
      |  SELECT doc_id, n_toks,
      |    pkh || lpad(CAST(doc_id AS VARCHAR), 10, '0') AS skey,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(range(1, 13),
      |        i -> CAST(strpos('0123456789abcdef', substr(pkh, i, 1)) - 1
      |          AS BIGINT))),
      |      (acc, v) -> acc * 16 + v) % 8 AS shard
      |  FROM keyed),
      |rn AS (
      |  SELECT shard, doc_id, n_toks,
      |    ROW_NUMBER() OVER (PARTITION BY shard ORDER BY skey) AS rn,
      |    shard + 10 AS ckpt
      |  FROM sharded)
      |SELECT CAST(shard AS BIGINT) AS shard,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(COUNT(CASE WHEN rn <= ckpt THEN 1 END) AS BIGINT) AS consumed,
      |  CAST(COUNT(CASE WHEN rn > ckpt THEN 1 END) AS BIGINT) AS remaining,
      |  CAST(SUM(CASE WHEN rn > ckpt THEN n_toks ELSE 0 END) AS BIGINT)
      |    AS toks_remaining,
      |  CAST(COALESCE(MAX(CASE WHEN rn = ckpt + 1 THEN doc_id END), -1)
      |    AS BIGINT) AS next_doc
      |FROM rn
      |GROUP BY shard
      |ORDER BY shard""".stripMargin

  /** p30: quality-threshold ADMISSION SWEEP (r17) — the "choose your
    * cutoff" price curve every classifier-filtered pipeline (FineWeb,
    * DCLM) publishes before committing to a threshold: for each
    * candidate cutoff over a per-doc quality score, how many documents
    * and tokens survive, and what share of the token budget that is
    * (ppm, exact integer cross-multiply). Score = distinct-token ratio
    * ppm (t28's duplicate-density signal inverted — a real lexical
    * quality proxy, and deterministic on both engines). Thresholds
    * [0, 250k, 500k, 750k, 900k] ppm mirrored literally in the oracle
    * (change both or neither). Shapes: one corpus pass computing two
    * ints per doc, a 5-row broadcast threshold frame, one keyed
    * aggregation — the d21/s35 sweep idiom applied to quality
    * admission; at 100 TB still exactly one scan.
    */
  def qualitySweep(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val per = Tables.documents(s, d)
      .select(size(split($"text", " ")).cast("long").as("n_toks"),
        size(array_distinct(split($"text", " "))).cast("long")
          .as("n_distinct"))
      .select($"n_toks",
        expr("n_distinct * 1000000 DIV n_toks").as("uniq_pm"))
    val thr = Seq(0L, 250000L, 500000L, 750000L, 900000L).toDF("thr_pm")
    val tot = per.agg(sum($"n_toks").as("total"))
    per.crossJoin(broadcast(thr))
      .filter($"uniq_pm" >= $"thr_pm")
      .groupBy($"thr_pm")
      .agg(count(lit(1)).as("n_docs"), sum($"n_toks").as("n_tokens"))
      .crossJoin(broadcast(tot))
      .select($"thr_pm", $"n_docs", $"n_tokens",
        expr("n_tokens * 1000000 DIV total").as("token_share_pm"))
      .orderBy($"thr_pm")
  }

  val qualitySweepSql: String =
    """WITH per AS MATERIALIZED (
      |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
      |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
      |      * 1000000 // CAST(len(string_split(text, ' ')) AS BIGINT)
      |      AS uniq_pm
      |  FROM documents),
      |tot AS (SELECT CAST(SUM(n_toks) AS BIGINT) AS total FROM per),
      |thr AS (SELECT unnest([0, 250000, 500000, 750000, 900000]) AS t)
      |SELECT CAST(thr.t AS BIGINT) AS thr_pm,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(p.n_toks) AS BIGINT) AS n_tokens,
      |  CAST(CAST(SUM(p.n_toks) AS BIGINT) * 1000000 // MAX(tot.total)
      |    AS BIGINT) AS token_share_pm
      |FROM thr JOIN per p ON p.uniq_pm >= thr.t CROSS JOIN tot
      |GROUP BY thr.t
      |ORDER BY thr_pm""".stripMargin

  def ngramDecon(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val grams = Tables.documents(s, d)
      .select($"doc_id", split($"text", " ").as("w"))
      .filter(size($"w") >= 13)
      .select($"doc_id", explode(expr(
        """array_distinct(transform(sequence(1, size(w) - 12),
          |  p -> array_join(slice(w, p, 13), ' ')))""".stripMargin))
        .as("gram"))
    val bench = grams.filter($"doc_id" % 37 === 0)
      .select($"gram", $"doc_id".as("bench_id")).distinct()
    grams.filter($"doc_id" % 37 =!= 0)
      .join(broadcast(bench), "gram")
      .groupBy($"doc_id")
      .agg(countDistinct($"gram").as("n_shared_grams"),
        countDistinct($"bench_id").as("n_bench_docs"))
      .orderBy($"doc_id")
  }

  val ngramDeconSql: String =
    """WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS w,
      |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n
      |  FROM documents),
      |g AS MATERIALIZED (
      |  SELECT DISTINCT doc_id, array_to_string(w[p:p + 12], ' ') AS gram
      |  FROM d, UNNEST(range(1, n - 11)) AS t(p)
      |  WHERE n >= 13),
      |bench AS (
      |  SELECT DISTINCT gram, doc_id AS bench_id FROM g
      |  WHERE doc_id % 37 = 0)
      |SELECT g.doc_id,
      |  CAST(COUNT(DISTINCT g.gram) AS BIGINT) AS n_shared_grams,
      |  CAST(COUNT(DISTINCT b.bench_id) AS BIGINT) AS n_bench_docs
      |FROM g JOIN bench b USING (gram)
      |WHERE g.doc_id % 37 != 0
      |GROUP BY g.doc_id
      |ORDER BY g.doc_id""".stripMargin

  def ruleAblation(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val masked = Tables.documents(s, d)
      .withColumn("w", split(lower($"text"), " "))
      .select(
        length($"text").cast("long").as("lc"),
        size($"w").cast("long").as("nt"),
        size(filter($"w", x => x.isin(FunnelStop: _*))).cast("long").as("ns"),
        size(array_distinct($"w")).cast("long").as("nd"))
      .select($"nt",
        (when(!($"nt" >= 20L), 1).otherwise(0)
          + when(!($"nt" <= 80L), 2).otherwise(0)
          + when(!($"lc" >= $"nt" * 5L && $"lc" <= $"nt" * 12L), 4).otherwise(0)
          + when(!($"ns" * 20L >= $"nt"), 8).otherwise(0)
          + when(!($"nd" * 5L >= $"nt" * 2L), 16).otherwise(0)).as("mask"))
    val hist = masked.groupBy($"mask")
      .agg(count(lit(1)).as("n"), sum($"nt").as("tok"))
    val rules = Seq(
      (0, "cascade_baseline", 0), (1, "min_tokens", 1), (2, "max_tokens", 2),
      (3, "word_length", 4), (4, "stopword_floor", 8), (5, "repetition", 16))
      .toDF("stage", "rule", "bit")
    rules.join(broadcast(hist),
        $"mask" === 0 || $"mask" === $"bit", "left")
      .groupBy($"stage", $"rule")
      .agg(
        coalesce(sum($"n"), lit(0L)).as("n_kept"),
        coalesce(sum(when($"mask" === $"bit" && $"bit" > 0, $"n")), lit(0L))
          .as("docs_recovered"),
        coalesce(sum(when($"mask" === $"bit" && $"bit" > 0, $"tok")), lit(0L))
          .as("tokens_recovered"))
      .orderBy($"stage")
  }

  val ruleAblationSql: String =
    """WITH d AS (
      |  SELECT CAST(LENGTH(text) AS BIGINT) AS lc,
      |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS nt,
      |    CAST(len(list_filter(string_split(lower(text), ' '),
      |      x -> list_contains(['the','a','of','and','to','is','in','it'], x)))
      |      AS BIGINT) AS ns,
      |    CAST(len(list_distinct(string_split(lower(text), ' ')))
      |      AS BIGINT) AS nd
      |  FROM documents),
      |m AS (
      |  SELECT nt,
      |    (CASE WHEN NOT (nt >= 20) THEN 1 ELSE 0 END
      |     + CASE WHEN NOT (nt <= 80) THEN 2 ELSE 0 END
      |     + CASE WHEN NOT (lc >= nt * 5 AND lc <= nt * 12) THEN 4 ELSE 0 END
      |     + CASE WHEN NOT (ns * 20 >= nt) THEN 8 ELSE 0 END
      |     + CASE WHEN NOT (nd * 5 >= nt * 2) THEN 16 ELSE 0 END) AS mask
      |  FROM d),
      |hist AS (
      |  SELECT mask, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(nt) AS BIGINT) AS tok
      |  FROM m GROUP BY mask),
      |rules(stage, rule, bit) AS (VALUES
      |  (0, 'cascade_baseline', 0), (1, 'min_tokens', 1), (2, 'max_tokens', 2),
      |  (3, 'word_length', 4), (4, 'stopword_floor', 8), (5, 'repetition', 16))
      |SELECT CAST(r.stage AS INTEGER) AS stage, r.rule,
      |  CAST(COALESCE(SUM(h.n), 0) AS BIGINT) AS n_kept,
      |  CAST(COALESCE(SUM(CASE WHEN h.mask = r.bit AND r.bit > 0
      |    THEN h.n END), 0) AS BIGINT) AS docs_recovered,
      |  CAST(COALESCE(SUM(CASE WHEN h.mask = r.bit AND r.bit > 0
      |    THEN h.tok END), 0) AS BIGINT) AS tokens_recovered
      |FROM rules r LEFT JOIN hist h ON h.mask = 0 OR h.mask = r.bit
      |GROUP BY r.stage, r.rule
      |ORDER BY stage""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p31_seeded_shuffle" -> (seededShuffle _),
    "p32_checkpoint_resume" -> (checkpointResume _),
    "p33_cooldown_plan"    -> (cooldownPlan _),
    "p30_quality_sweep" -> (qualitySweep _),
    "p29_ngram_decon" -> (ngramDecon _),
    "p28_rule_ablation" -> (ruleAblation _),
    "p27_post_dedup_mixture" -> (postDedupMixture _),
    "p26_substr_drop_policy" -> (substrDropPolicy _),
    "p25_quality_funnel"   -> (qualityFunnel _),
    "p24_mixture_plan"     -> (mixturePlan _),
    "p23_decon_matrix"     -> (deconMatrix _),
    "p22_semantic_decon"   -> (semanticDecon _),
    "p21_cluster_split"    -> (clusterSplit _),
    "p20_repeat_budget"    -> (repeatBudget _),
    "p19_prune_curve"      -> (pruneCurve _),
    "p18_dataset_card"     -> (datasetCard _),
    "p17_curriculum"       -> (curriculum _),
    "p16_length_batching"  -> (lengthBatching _),
    "p15_soft_dedup"       -> (softDedup _),
    "p13_train_val_test"   -> (trainValTestSplit _),
    "p14_epoch_shuffle"    -> (epochShuffle _),
    "p12_domain_filter"    -> (domainFilter _),
    "p11_corpus_prep"      -> (corpusPrep _),
    "p10_epoch_repeat"     -> (epochRepeat _),
    "p9_temperature_mix"   -> (temperatureMix _),
    "p8_stratified_shard"  -> (stratifiedShard _),
    "p1_corpus_filter"     -> (corpusFilter _),
    "p2_stratified_sample" -> (stratifiedSample _),
    "p3_token_pack"        -> (tokenPack _),
    "p4_incremental_dedup" -> (incrementalDedup _),
    "p5_decontaminate"     -> (decontaminate _),
    "p6_quota_sample"      -> (quotaSample _),
    "p7_bloom_decontaminate" -> (bloomDecontaminate _))

  val oracle: Map[String, String] = Map(
    "p31_seeded_shuffle" -> seededShuffleSql,
    "p32_checkpoint_resume" -> checkpointResumeSql,
    "p33_cooldown_plan"    -> cooldownPlanSql,
    "p30_quality_sweep" -> qualitySweepSql,
    "p29_ngram_decon" -> ngramDeconSql,
    "p28_rule_ablation" -> ruleAblationSql,
    "p27_post_dedup_mixture" -> postDedupMixtureSql,
    "p26_substr_drop_policy" -> substrDropPolicySql,
    "p25_quality_funnel"   -> qualityFunnelSql,
    "p24_mixture_plan"     -> mixturePlanSql,
    "p23_decon_matrix"     -> deconMatrixSql,
    "p22_semantic_decon"   -> semanticDeconSql,
    "p21_cluster_split"    -> clusterSplitSql,
    "p20_repeat_budget"    -> repeatBudgetSql,
    "p19_prune_curve"      -> pruneCurveSql,
    "p18_dataset_card"     -> datasetCardSql,
    "p17_curriculum"       -> curriculumSql,
    "p16_length_batching"  -> lengthBatchingSql,
    "p15_soft_dedup"       -> softDedupSql,
    "p13_train_val_test"   -> trainValTestSplitSql,
    "p14_epoch_shuffle"    -> epochShuffleSql,
    "p12_domain_filter"    -> domainFilterSql,
    "p11_corpus_prep"      -> corpusPrepSql,
    "p10_epoch_repeat"     -> epochRepeatSql,
    "p9_temperature_mix"   -> temperatureMixSql,
    "p8_stratified_shard"  -> stratifiedShardSql,
    "p1_corpus_filter"     -> corpusFilterSql,
    "p2_stratified_sample" -> stratifiedSampleSql,
    "p3_token_pack"        -> tokenPackSql,
    "p4_incremental_dedup" -> incrementalDedupSql,
    "p5_decontaminate"     -> decontaminateSql,
    "p6_quota_sample"      -> quotaSampleSql,
    "p7_bloom_decontaminate" -> bloomDecontaminateSql)
}
