package graft.operators

import graft.{Ora, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Text analysis over `documents` (BASELINE.json north_star): language ID
  * (marker-word heuristic), quality scoring, token counting (whitespace +
  * regex-class "BPE-ish"), document fingerprinting, corpus term statistics.
  *
  * All per-doc metrics are narrow map-side work (no shuffle at all until the
  * corpus-level aggregations), which is the right shape for a 100 TB corpus:
  * quality/langid/fingerprint run as a single scan-project pipeline inside
  * whole-stage codegen.
  */
object TextAnalysis {
  import Ora._
  private val Dec = DecimalType(38, 6)

  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "is"),
    "es" -> Seq("el", "la", "de", "los", "que", "y"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "les", "et", "un", "est"))

  /** Language ID: score each language by marker-token hits, pick the max
    * with a fixed preference order on ties (en > es > de > fr).
    */
  def langId(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = Tables.documents(s, d)
      .withColumn("w", split(lower($"text"), " "))
    val scored = markers.foldLeft(base) { case (df, (lang, ms)) =>
      df.withColumn(s"${lang}_score",
        size(filter($"w", x => x.isin(ms: _*))))
    }
    scored.select(
      $"doc_id", $"lang".as("labeled_lang"),
      $"en_score", $"es_score", $"de_score", $"fr_score",
      when($"en_score" >= $"es_score" && $"en_score" >= $"de_score" && $"en_score" >= $"fr_score", "en")
        .when($"es_score" >= $"de_score" && $"es_score" >= $"fr_score", "es")
        .when($"de_score" >= $"fr_score", "de")
        .otherwise("fr").as("predicted_lang"))
      .orderBy($"doc_id")
  }

  val langIdSql: String = {
    val scoreExprs = markers.map { case (lang, ms) =>
      val lst = ms.map(m => s"'$m'").mkString("[", ",", "]")
      s"CAST(len(list_filter(string_split(lower(text), ' '), x -> list_contains($lst, x))) AS INTEGER) AS ${lang}_score"
    }.mkString(",\n  ")
    s"""WITH scored AS (
       |  SELECT doc_id, lang AS labeled_lang,
       |  $scoreExprs
       |  FROM documents)
       |SELECT doc_id, labeled_lang, en_score, es_score, de_score, fr_score,
       |  CASE WHEN en_score >= es_score AND en_score >= de_score AND en_score >= fr_score THEN 'en'
       |       WHEN es_score >= de_score AND es_score >= fr_score THEN 'es'
       |       WHEN de_score >= fr_score THEN 'de'
       |       ELSE 'fr' END AS predicted_lang
       |FROM scored
       |ORDER BY doc_id""".stripMargin
  }

  /** Quality scoring: length/token/stopword/punctuation signals + a banded
    * 0-3 score. Ratios are exact-int divisions (engine-identical doubles).
    */
  def quality(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val stop = Seq("the", "a", "of", "and", "to", "is", "in", "it")
    Tables.documents(s, d)
      .withColumn("w", split(lower($"text"), " "))
      .withColumn("len_chars", length($"text").cast("int"))
      .withColumn("n_tokens", size($"w"))
      .withColumn("n_stop", size(filter($"w", x => x.isin(stop: _*))))
      .withColumn("n_punct",
        size(regexp_extract_all($"text", lit("[.,!?;:]"), lit(0))).cast("int"))
      .select(
        $"doc_id", $"len_chars", $"n_tokens",
        ($"len_chars".cast("double") / $"n_tokens").as("chars_per_token"),
        ($"n_stop".cast("double") / $"n_tokens").as("stopword_ratio"),
        $"n_punct",
        (when($"len_chars" >= 100, 1).otherwise(0) +
          when($"n_stop" * 50 >= $"n_tokens", 1).otherwise(0) +
          when($"n_tokens" >= 10 && $"n_tokens" <= 10000, 1).otherwise(0))
          .as("quality_score"))
      .orderBy($"doc_id")
  }

  val qualitySql: String =
    """SELECT doc_id,
      | CAST(LENGTH(text) AS INTEGER) AS len_chars,
      | CAST(len(string_split(lower(text), ' ')) AS INTEGER) AS n_tokens,
      | CAST(LENGTH(text) AS DOUBLE) / len(string_split(lower(text), ' ')) AS chars_per_token,
      | CAST(len(list_filter(string_split(lower(text), ' '),
      |   x -> list_contains(['the','a','of','and','to','is','in','it'], x))) AS DOUBLE)
      |   / len(string_split(lower(text), ' ')) AS stopword_ratio,
      | CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS INTEGER) AS n_punct,
      | CAST((CASE WHEN LENGTH(text) >= 100 THEN 1 ELSE 0 END)
      |  + (CASE WHEN len(list_filter(string_split(lower(text), ' '),
      |       x -> list_contains(['the','a','of','and','to','is','in','it'], x))) * 50
      |       >= len(string_split(lower(text), ' ')) THEN 1 ELSE 0 END)
      |  + (CASE WHEN len(string_split(lower(text), ' ')) BETWEEN 10 AND 10000 THEN 1 ELSE 0 END)
      |  AS INTEGER) AS quality_score
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Token counting: whitespace tokens vs a BPE-ish regex lexer
    * (letter-runs | digit-runs | single punctuation).
    */
  def tokenCounts(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(
        $"doc_id",
        size(split($"text", " ")).as("ws_tokens"),
        size(regexp_extract_all(lower($"text"),
          lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).as("regex_tokens"),
        length(regexp_replace($"text", "[^A-Za-z]", "")).cast("int").as("n_letters"),
        length(regexp_replace($"text", "[^0-9]", "")).cast("int").as("n_digits"))
      .orderBy($"doc_id")
  }

  val tokenCountsSql: String =
    """SELECT doc_id,
      | CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
      | CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS regex_tokens,
      | CAST(LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS INTEGER) AS n_letters,
      | CAST(LENGTH(regexp_replace(text, '[^0-9]', '', 'g')) AS INTEGER) AS n_digits
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Document fingerprinting: exact md5, whitespace-normalized md5, and a
    * 1-min MinHash over word-5-gram shingles (winnowing-style content
    * fingerprint robust to reordering at the margins).
    */
  def fingerprint(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val norm = regexp_replace(trim(lower($"text")), "\\s+", " ")
    // All three fingerprints in ONE narrow projection: the 5-gram min-hash
    // is array_min over the transformed shingle array — map-side, no
    // explode, no aggregation shuffle, no rejoin. Same value as the grouped
    // min(md5(sh)) (array_min on hex strings is the same byte ordering);
    // docs under 5 words go null exactly like the oracle's left join.
    Tables.documents(s, d)
      .withColumn("w", split(lower($"text"), " "))
      .select($"doc_id", md5($"text").as("fp"), md5(norm).as("fp_norm"),
        when(size($"w") >= 5,
          array_min(expr(
            """transform(transform(sequence(0, size(w)-5),
              |  i -> concat_ws(' ', slice(w, i+1, 5))), x -> md5(x))""".stripMargin)))
          .as("min_shingle_fp"))
      .orderBy($"doc_id")
  }

  val fingerprintSql: String =
    """WITH words AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      |tok AS (SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS i
      |        FROM words WHERE len(w) >= 5),
      |sh5 AS (SELECT doc_id,
      |          word || ' ' || LEAD(word,1) OVER win || ' ' || LEAD(word,2) OVER win
      |               || ' ' || LEAD(word,3) OVER win || ' ' || LEAD(word,4) OVER win AS sh
      |        FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY i)),
      |five AS (SELECT doc_id, min(md5(sh)) AS min_shingle_fp
      |         FROM sh5 WHERE sh IS NOT NULL GROUP BY doc_id)
      |SELECT d.doc_id, md5(d.text) AS fp,
      |  md5(regexp_replace(trim(lower(d.text)), '\s+', ' ', 'g')) AS fp_norm,
      |  five.min_shingle_fp
      |FROM documents d LEFT JOIN five ON d.doc_id = five.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** Corpus term statistics: document frequency + idf for the 30 most common
    * words (tf-idf building block).
    */
  def termStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val n = docs.agg(count(lit(1)).as("n_docs"))
    docs
      .select($"doc_id", explode(array_distinct(split(lower($"text"), " "))).as("word"))
      .groupBy($"word").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(n))
      .select($"word", $"df", $"n_docs",
        log($"n_docs".cast("double") / $"df").cast(Dec).cast("double").as("idf"))
      .orderBy($"df".desc, $"word".asc)
      .limit(30)
  }

  val termStatsSql: String =
    """WITH tok AS (SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS word
      |             FROM documents),
      |df AS (SELECT word, COUNT(*) AS df FROM tok GROUP BY word),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents)
      |SELECT word, df, n_docs,
      |  CAST(CAST(LN(CAST(n_docs AS DOUBLE) / df) AS DECIMAL(38,6)) AS DOUBLE) AS idf
      |FROM df CROSS JOIN n
      |ORDER BY df DESC, word ASC
      |LIMIT 30""".stripMargin

  /** t6: PII scrubbing — the redaction pass a training corpus runs before
    * anything else: emails -> <EMAIL>, phone-shaped digits -> <PHONE>,
    * leftover digit runs -> #. The contact blob is synthesized from
    * customer integer keys (deterministic on both engines — no
    * double->string formatting), the scrub itself is the real operator:
    * ordered regexp_replace passes + pre-redaction match counts, all
    * map-side inside whole-stage codegen (the 100 TB shape: a narrow
    * projection, no shuffle until the final sort the driver compare needs).
    */
  def piiScrub(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val phoneRe = "[0-9]{3}-[0-9]{4}"
    val blob = concat(
      $"c_name", lit(" ph "),
      lpad(($"c_custkey" % 1000).cast("string"), 3, "0"), lit("-"),
      lpad(($"c_custkey" % 10000).cast("string"), 4, "0"),
      lit(" mail user"), $"c_custkey".cast("string"), lit("@example.com"),
      lit(" seg "), $"c_mktsegment")
    Tables.customer(s, d)
      .withColumn("contact", blob)
      .select(
        $"c_custkey",
        size(regexp_extract_all($"contact", lit(emailRe), lit(0))).as("n_emails"),
        size(regexp_extract_all($"contact", lit(phoneRe), lit(0))).as("n_phones"),
        regexp_replace(
          regexp_replace(
            regexp_replace($"contact", emailRe, "<EMAIL>"),
            phoneRe, "<PHONE>"),
          "[0-9]+", "#").as("scrubbed"))
      .orderBy($"c_custkey")
  }

  val piiScrubSql: String =
    """WITH blob AS (
      |  SELECT c_custkey,
      |    c_name || ' ph ' || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0')
      |      || '-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
      |      || ' mail user' || CAST(c_custkey AS VARCHAR) || '@example.com'
      |      || ' seg ' || c_mktsegment AS contact
      |  FROM customer)
      |SELECT c_custkey,
      |  CAST(len(regexp_extract_all(contact, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS INTEGER) AS n_emails,
      |  CAST(len(regexp_extract_all(contact, '[0-9]{3}-[0-9]{4}')) AS INTEGER) AS n_phones,
      |  regexp_replace(
      |    regexp_replace(
      |      regexp_replace(contact, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
      |      '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
      |    '[0-9]+', '#', 'g') AS scrubbed
      |FROM blob
      |ORDER BY c_custkey""".stripMargin

  /** t7: unigram surprisal — the language-model quality signal (average
    * -ln p(word) under the corpus unigram distribution; high surprisal =
    * text unlike the corpus, the classic perplexity-style filter, here
    * with the corpus itself as the LM). Exactness: each token's ln is
    * truncated to DECIMAL(38,6) (the t5 idf trick — quantizing away the
    * engines' last-ulp libm differences), the per-doc SUM is then exact
    * decimal arithmetic, and the final negate-and-divide is one
    * deterministic double op sequence. Shapes: token explode → one
    * word-keyed shuffle join against the unigram counts (at 100 TB the
    * vocab side is the smaller relation), one doc-keyed aggregation.
    */
  def surprisal(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, d)
      .select($"doc_id", explode(split(lower($"text"), " ")).as("word"))
    val wc = toks.groupBy($"word").agg(count(lit(1)).as("cnt"))
    val tot = wc.agg(sum($"cnt").as("total"))
    toks
      .join(wc, "word")
      .crossJoin(broadcast(tot))
      .select($"doc_id",
        log($"cnt".cast("double") / $"total".cast("double"))
          .cast(Dec).as("lnp"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum($"lnp").as("slnp"))
      .select($"doc_id", $"n_tokens",
        (-($"slnp".cast("double") / $"n_tokens")).as("avg_surprisal"))
      .orderBy($"doc_id")
  }

  val surprisalSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
      |  FROM documents),
      |wc AS (SELECT word, COUNT(*) AS cnt FROM toks GROUP BY word),
      |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM wc),
      |lnp AS (
      |  SELECT doc_id,
      |    CAST(LN(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))
      |      AS DECIMAL(38,6)) AS lnp
      |  FROM toks JOIN wc USING (word) CROSS JOIN tot),
      |agg AS (
      |  SELECT doc_id, COUNT(*) AS n_tokens,
      |    CAST(SUM(lnp) AS DECIMAL(38,6)) AS slnp
      |  FROM lnp GROUP BY doc_id)
      |SELECT doc_id, n_tokens,
      |  -(CAST(slnp AS DOUBLE) / n_tokens) AS avg_surprisal
      |FROM agg
      |ORDER BY doc_id""".stripMargin

  /** Docs whose duplicate-trigram share exceeds this are flagged. */
  val RepetitionMaxPct = 20L

  /** t8: within-document repetition ratio — the duplicate-n-gram quality
    * filter (boilerplate, keyword stuffing, degenerate generations show up
    * as repeated trigrams). Entirely map-side: the trigram list, its
    * distinct count, and the integer percentage are computed per row with
    * array ops — no explode, no shuffle, nothing leaves the partition until
    * the final sort. dup_pct is exact integer math, so the keep flag is
    * engine-identical.
    */
  def repetition(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id", split(lower($"text"), " ").as("w"))
      .filter(size($"w") >= 3)
      .withColumn("grams", expr(
        "transform(sequence(0, size(w) - 3), i -> concat_ws(' ', slice(w, i + 1, 3)))"))
      .select($"doc_id",
        size($"grams").cast("long").as("n_grams"),
        size(array_distinct($"grams")).cast("long").as("n_uniq"))
      .withColumn("dup_pct",
        expr("(n_grams - n_uniq) * 100 div n_grams"))
      .withColumn("keep", $"dup_pct" < RepetitionMaxPct)
      .orderBy($"doc_id")
  }

  val repetitionSql: String =
    s"""WITH w AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS w
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, list_transform(range(1, len(w) - 1),
       |    i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]) AS grams
       |  FROM w WHERE len(w) >= 3)
       |SELECT doc_id,
       |  CAST(len(grams) AS BIGINT) AS n_grams,
       |  CAST(len(list_distinct(grams)) AS BIGINT) AS n_uniq,
       |  CAST((len(grams) - len(list_distinct(grams))) * 100 // len(grams)
       |    AS BIGINT) AS dup_pct,
       |  (len(grams) - len(list_distinct(grams))) * 100 // len(grams)
       |    < $RepetitionMaxPct AS keep
       |FROM g
       |ORDER BY doc_id""".stripMargin

  /** t9: BPE pair statistics — the counting kernel of byte-pair-encoding
    * tokenizer training (Sennrich et al. 2016): global frequencies of
    * adjacent character pairs within words, whose argmax IS the next BPE
    * merge. A tokenizer trained on a 100 TB corpus runs exactly this
    * distributed count per merge iteration: narrow double explode
    * (words → in-word pairs, no cross-row state) into one partial-agg
    * count shuffle, top-30 by (count desc, pair asc). All integers and
    * 2-char strings.
    */
  def bpePairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(explode(split(lower($"text"), " ")).as("w"))
      .filter(length($"w") >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"))
      .groupBy($"pair")
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"pair".asc)
      .limit(30)
  }

  val bpePairsSql: String =
    """WITH words AS (
      |  SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents),
      |pairs AS (
      |  SELECT substr(w, CAST(i AS INTEGER), 2) AS pair
      |  FROM words, (SELECT unnest(range(1, 64)) AS i) ix
      |  WHERE length(w) >= 2 AND i <= length(w) - 1)
      |SELECT pair, COUNT(*) AS n
      |FROM pairs
      |GROUP BY pair
      |ORDER BY n DESC, pair ASC
      |LIMIT 30""".stripMargin

  /** t11: collocation detection — word bigrams that co-occur far more
    * often than their unigram frequencies predict (the corpus-linguistics
    * primitive behind phrase mining / tokenizer-vocab seeding). The usual
    * statistic is PMI (a log); to stay float-free the test is the
    * equivalent cross-multiplied LIFT inequality:
    * lift = (n_bg / Nb) / ((n_w1 / N)(n_w2 / N)) >= 20, evaluated as
    * n_bg * N^2 >= 20 * Nb * n_w1 * n_w2 in exact wide-integer arithmetic
    * (DECIMAL(38,0) here, HUGEINT in the oracle — exact to 1e38, room
    * for a ~1e14-token corpus). Tokenization keeps the d3 split(' ')
    * semantics (empties preserved).
    *
    * Scale shapes: bigram explode is a narrow map (no cross-row state —
    * adjacency comes from in-row array indexing, not a window); one
    * count shuffle keyed by the bigram (min-support 5 prunes the long
    * tail BEFORE the marginal joins); unigram marginals are vocab-keyed
    * joins (NOT forced broadcast — vocab grows with the corpus); totals
    * are 1-row broadcasts.
    */
  def collocations(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, d)
      .select($"doc_id", split(lower($"text"), " ").as("w"))
    val tok = toks.select(explode($"w").as("word"))
    val bg = toks.filter(size($"w") >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(w) - 1),
          |  i -> named_struct('w1', element_at(w, i), 'w2', element_at(w, i + 1)))"""
          .stripMargin)).as("p"))
      .select($"p.w1".as("w1"), $"p.w2".as("w2"))
    val nbg = bg.groupBy($"w1", $"w2").agg(count(lit(1)).as("n_bg"))
      .filter($"n_bg" >= 5)
    val marg = tok.groupBy($"word").agg(count(lit(1)).as("nw"))
    val totals = tok.agg(count(lit(1)).as("n_tok"))
      .crossJoin(bg.agg(count(lit(1)).as("nb_tot")))
    nbg
      .join(marg.select($"word".as("w1"), $"nw".as("n_w1")), Seq("w1"))
      .join(marg.select($"word".as("w2"), $"nw".as("n_w2")), Seq("w2"))
      .crossJoin(broadcast(totals))
      .select($"w1", $"w2", $"n_bg", $"n_w1", $"n_w2",
        (expr("CAST(n_bg AS DECIMAL(38,0)) * n_tok * n_tok") >=
          expr("CAST(20 AS DECIMAL(38,0)) * nb_tot * n_w1 * n_w2"))
          .as("is_colloc"))
      .orderBy($"n_bg".desc, $"w1", $"w2")
  }

  val collocationsSql: String =
    """WITH words AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      |tok AS (
      |  SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS i
      |  FROM words),
      |bg AS (
      |  SELECT w1, w2 FROM (
      |    SELECT word AS w1,
      |      LEAD(word) OVER (PARTITION BY doc_id ORDER BY i) AS w2
      |    FROM tok) x
      |  WHERE w2 IS NOT NULL),
      |nbg AS (
      |  SELECT w1, w2, COUNT(*) AS n_bg FROM bg GROUP BY 1, 2
      |  HAVING COUNT(*) >= 5),
      |marg AS (SELECT word, COUNT(*) AS nw FROM tok GROUP BY 1),
      |tot AS (SELECT (SELECT COUNT(*) FROM tok) AS n_tok,
      |               (SELECT COUNT(*) FROM bg) AS nb_tot)
      |SELECT nbg.w1, nbg.w2, n_bg, m1.nw AS n_w1, m2.nw AS n_w2,
      |  CAST(n_bg AS HUGEINT) * n_tok * n_tok
      |    >= CAST(20 AS HUGEINT) * nb_tot * m1.nw * m2.nw AS is_colloc
      |FROM nbg
      |JOIN marg m1 ON nbg.w1 = m1.word
      |JOIN marg m2 ON nbg.w2 = m2.word
      |CROSS JOIN tot
      |ORDER BY n_bg DESC, nbg.w1, nbg.w2""".stripMargin

  /** t10: BM25 document ranking for a fixed 3-term query (Lucene idf
    * variant, `ln(1 + (N-df+0.5)/(df+0.5))` — always positive; k1=1.2,
    * b=0.75). The retrieval-scoring primitive a curation pipeline uses to
    * pull topic-relevant documents out of a web corpus.
    *
    * Scale shape: two corpus scans — the BM25 minimum (pass 1 folds N,
    * total token count AND per-term df into ONE 3-row partial-aggregated
    * pass; pass 2 scores). The 3-row idf/stats table is broadcast; tf/dl
    * are computed map-side per document inside whole-stage codegen (no
    * shuffle until the final per-doc sum), and the top-100 lands in
    * TakeOrderedAndProject.
    * Exactness: idf and each per-(doc,term) score carry the t5 ln trick
    * (one double expression mirrored token-for-token in the oracle,
    * truncated to DECIMAL(38,6)); the per-doc sum over the 3 quantized
    * term scores is exact decimal, so only correctly-rounded IEEE ops and
    * one quantization separate the engines.
    */
  def bm25(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val terms = Seq("spark", "vector", "merge").toDF("term")
    val docs = Tables.documents(s, d)
      .select($"doc_id", split(lower($"text"), " ").as("w"))
      .withColumn("dl", size($"w"))
    val dt = docs.crossJoin(broadcast(terms))
      .select($"doc_id", $"dl", $"term",
        expr("size(filter(w, x -> x = term))").as("tf"))
    // every doc appears exactly once per term, so the per-term group also
    // carries the corpus stats: n_docs = count, total_len = sum(dl).
    // exists() short-circuits where pass 2's tf must count; df > 0 mirrors
    // the oracle's dfreq CTE dropping absent terms (else a term missing
    // from the whole corpus would keep zero-score rows only on this side).
    val idf = docs.crossJoin(broadcast(terms))
      .select($"dl", $"term", expr("exists(w, x -> x = term)").as("hit"))
      .groupBy($"term")
      .agg(count(lit(1)).as("n_docs"), sum($"dl").as("total_len"),
        sum(when($"hit", 1L).otherwise(0L)).as("df"))
      .filter($"df" > 0)
      .select($"term", $"n_docs", $"total_len",
        log((($"n_docs" - $"df").cast("double") + lit(0.5))
            / ($"df".cast("double") + lit(0.5)) + lit(1.0))
          .cast(Dec).as("idf"))
    val scored = dt.join(broadcast(idf), "term")
      .select($"doc_id",
        ($"idf".cast("double") * ($"tf".cast("double") * lit(2.2))
          / ($"tf".cast("double") + lit(1.2) * (lit(0.25) + lit(0.75)
            * (($"dl".cast("double") * $"n_docs".cast("double"))
               / $"total_len".cast("double")))))
          .cast(Dec).as("ts"))
    scored.groupBy($"doc_id").agg(sum($"ts").cast("double").as("bm25"))
      .orderBy($"bm25".desc, $"doc_id".asc)
      .limit(100)
  }

  val bm25Sql: String =
    """WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      |d AS (SELECT doc_id, w, len(w) AS dl FROM tok),
      |stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_len FROM d),
      |terms AS (SELECT unnest(['spark','vector','merge']) AS term),
      |dt AS (SELECT doc_id, dl, term, len(list_filter(w, x -> x = term)) AS tf
      |       FROM d CROSS JOIN terms),
      |dfreq AS (SELECT term, COUNT(*) AS df FROM dt WHERE tf > 0 GROUP BY term),
      |idf AS (SELECT term,
      |    CAST(LN(((CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)) + 1.0)
      |      AS DECIMAL(38,6)) AS idf
      |  FROM dfreq CROSS JOIN stats),
      |scored AS (SELECT dt.doc_id,
      |    CAST(CAST(idf.idf AS DOUBLE) * (CAST(dt.tf AS DOUBLE) * 2.2)
      |      / (CAST(dt.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * ((CAST(dt.dl AS DOUBLE) * CAST(stats.n_docs AS DOUBLE)) / CAST(stats.total_len AS DOUBLE))))
      |      AS DECIMAL(38,6)) AS ts
      |  FROM dt JOIN idf ON dt.term = idf.term CROSS JOIN stats)
      |SELECT doc_id, CAST(SUM(ts) AS DOUBLE) AS bm25
      |FROM scored GROUP BY doc_id
      |ORDER BY bm25 DESC, doc_id LIMIT 100""".stripMargin

  /** t12: lexical diversity — type-token ratio and hapax share per doc,
    * the vocabulary-richness quality signal (boilerplate and spam have
    * few types per token; natural prose has many hapax legomena) that
    * t2's surface ratios don't capture. Ratios are exact integer ppm.
    *
    * Scale: explode → (doc_id, word) count → doc_id rollup; both aggs
    * are keyed exchanges and the first is the same key family as d3's
    * shingle relation — no per-doc data structure ever materializes, so
    * a 100 GB document costs its token count, not its token count
    * squared (the map-side `filter(w, ...)` alternative is O(len²)).
    */
  def lexicalDiversity(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wc = Tables.documents(s, d)
      .select($"doc_id", explode(split(lower($"text"), " ")).as("word"))
      .groupBy($"doc_id", $"word").agg(count(lit(1)).as("c"))
    wc.groupBy($"doc_id").agg(
        sum($"c").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when($"c" === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select($"doc_id", $"n_tokens", $"n_types", $"n_hapax",
        expr("n_types * 1000000L div n_tokens").as("ttr_ppm"),
        expr("n_hapax * 1000000L div n_tokens").as("hapax_ppm"))
      .orderBy($"doc_id")
  }

  val lexicalDiversitySql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
      |  FROM documents),
      |wc AS (SELECT doc_id, word, COUNT(*) AS c FROM tok GROUP BY 1, 2),
      |agg AS (
      |  SELECT doc_id,
      |    CAST(SUM(c) AS BIGINT) AS n_tokens,
      |    COUNT(*) AS n_types,
      |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
      |  FROM wc GROUP BY 1)
      |SELECT doc_id, n_tokens, n_types, n_hapax,
      |  n_types * 1000000 // n_tokens AS ttr_ppm,
      |  n_hapax * 1000000 // n_tokens AS hapax_ppm
      |FROM agg
      |ORDER BY doc_id""".stripMargin

  /** t13's phrase delimiters (RAKE stopwords) — mirrored literally in the
    * oracle's NOT IN list; change both or neither.
    */
  private val RakeStops = Seq("the", "a")

  /** t13: RAKE keyphrase extraction (Rose et al. 2010) in the exact-integer
    * domain: candidate phrases are maximal stopword-free word runs (the
    * islands trick on token positions), each word carries its in-document
    * frequency and degree (Σ of containing-phrase lengths — RAKE's
    * co-occurrence degree), and a phrase scores
    * `1e6·Σdeg div Σfreq` summed over word OCCURRENCES — the
    * integer-ratio variant of RAKE's Σ deg/freq (per-word rational sums
    * can't hash-check; the aggregate ratio ranks near-identically and is
    * engine-exact). Top-3 phrases per doc, ties to the earliest phrase.
    *
    * Scale: everything is keyed by (doc_id[, word|grp]) — the explode is
    * the corpus token relation every t-op rides, the windows are per-doc,
    * the stats joins are (doc_id, word)-keyed equi-joins; nothing is
    * corpus-global except the final doc-ordered emit.
    */
  def rakeKeyphrases(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val words = Tables.documents(s, d)
      .select($"doc_id", posexplode(split($"text", " ")).as(Seq("pos", "word")))
    val ns = words.filter(!$"word".isin(RakeStops: _*))
      .withColumn("grp",
        $"pos" - row_number().over(
          Window.partitionBy($"doc_id").orderBy($"pos")))
    val ph = ns.groupBy($"doc_id", $"grp")
      .agg(min($"pos").as("p0"), count(lit(1)).as("plen"),
        array_join(
          transform(array_sort(collect_list(struct($"pos", $"word"))),
            x => x("word")), " ").as("phrase"))
    val freq = ns.groupBy($"doc_id", $"word").agg(count(lit(1)).as("freq"))
    val occ = ns.join(ph.select($"doc_id", $"grp", $"plen"), Seq("doc_id", "grp"))
    val deg = occ.groupBy($"doc_id", $"word").agg(sum($"plen").as("deg"))
    val sc = occ.join(deg, Seq("doc_id", "word"))
      .join(freq, Seq("doc_id", "word"))
      .groupBy($"doc_id", $"grp")
      .agg(sum($"deg").as("num"), sum($"freq").as("den"))
    ph.join(sc, Seq("doc_id", "grp"))
      .withColumn("score_ppm", expr("num * 1000000L div den"))
      .withColumn("rank", row_number().over(
        Window.partitionBy($"doc_id").orderBy($"score_ppm".desc, $"p0")))
      .filter($"rank" <= 3)
      .select($"doc_id", $"rank", $"phrase", $"plen".as("n_words"), $"score_ppm")
      .orderBy($"doc_id", $"rank")
  }

  val rakeKeyphrasesSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |pos AS (
      |  SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, w[CAST(i AS INTEGER)] AS word
      |  FROM toks CROSS JOIN range(1, 8192) t(i) WHERE i <= len(w)),
      |ns AS (
      |  SELECT doc_id, pos, word,
      |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      |  FROM pos WHERE word NOT IN ('the', 'a')),
      |ph AS (
      |  SELECT doc_id, grp, MIN(pos) AS p0, CAST(COUNT(*) AS BIGINT) AS plen,
      |    string_agg(word, ' ' ORDER BY pos) AS phrase
      |  FROM ns GROUP BY 1, 2),
      |freq AS (
      |  SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS freq
      |  FROM ns GROUP BY 1, 2),
      |occ AS (
      |  SELECT n.doc_id, n.grp, n.word, p.plen
      |  FROM ns n JOIN ph p USING (doc_id, grp)),
      |deg AS (
      |  SELECT doc_id, word, CAST(SUM(plen) AS BIGINT) AS deg
      |  FROM occ GROUP BY 1, 2),
      |sc AS (
      |  SELECT o.doc_id, o.grp,
      |    CAST(SUM(d.deg) AS BIGINT) AS num, CAST(SUM(f.freq) AS BIGINT) AS den
      |  FROM occ o
      |  JOIN deg d ON o.doc_id = d.doc_id AND o.word = d.word
      |  JOIN freq f ON o.doc_id = f.doc_id AND o.word = f.word
      |  GROUP BY 1, 2)
      |SELECT doc_id, CAST(rank AS INTEGER) AS rank, phrase, n_words, score_ppm
      |FROM (
      |  SELECT p.doc_id, p.phrase, p.plen AS n_words,
      |    s.num * 1000000 // s.den AS score_ppm, p.p0,
      |    ROW_NUMBER() OVER (PARTITION BY p.doc_id
      |      ORDER BY s.num * 1000000 // s.den DESC, p.p0) AS rank
      |  FROM ph p JOIN sc s ON p.doc_id = s.doc_id AND p.grp = s.grp)
      |WHERE rank <= 3
      |ORDER BY doc_id, rank""".stripMargin

  /** t14: n-gram novelty — per document, the share of its distinct word
    * 3-grams whose corpus-wide FIRST occurrence (min doc_id — the
    * fixture's stand-in for arrival order) is the document itself. The
    * freshness/staleness curve a crawl pipeline watches: re-crawls and
    * boilerplate drift push novelty toward 0 long before exact dedup
    * fires. Exact string shingles on both sides (no hash domain — unlike
    * d3 there is no collision caveat to accept).
    *
    * Scale: the (doc, shingle) relation is d3's exchange; first-seen is
    * one shingle-keyed min; the join back is shingle-keyed with no pair
    * expansion (an aggregate per side, never doc×doc). A viral shingle
    * costs one big min group, not a blow-up.
    */
  def ngramNovelty(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sh = Tables.documents(s, d)
      .select($"doc_id", split($"text", " ").as("w"))
      .select($"doc_id", explode(expr(
        """array_distinct(CASE WHEN size(w) >= 3
          |  THEN transform(sequence(0, size(w) - 3),
          |         i -> concat_ws(' ', w[i], w[i+1], w[i+2]))
          |  ELSE array() END)""".stripMargin.replace("\n", " "))).as("sh"))
    val firstSeen = sh.groupBy($"sh").agg(min($"doc_id").as("first_seen"))
    sh.join(firstSeen, Seq("sh"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when($"first_seen" === $"doc_id", 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_ppm", expr("n_novel * 1000000L div n_shingles"))
      .orderBy($"doc_id")
  }

  val ngramNoveltySql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |shs AS (
      |  SELECT DISTINCT doc_id,
      |    w[CAST(i + 1 AS INTEGER)] || ' ' || w[CAST(i + 2 AS INTEGER)]
      |      || ' ' || w[CAST(i + 3 AS INTEGER)] AS sh
      |  FROM toks CROSS JOIN range(0, 8192) t(i)
      |  WHERE i <= len(w) - 3),
      |fs AS (SELECT sh, MIN(doc_id) AS first_seen FROM shs GROUP BY 1)
      |SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
      |  CAST(SUM(CASE WHEN f.first_seen = s.doc_id THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_novel,
      |  CAST(SUM(CASE WHEN f.first_seen = s.doc_id THEN 1 ELSE 0 END)
      |    AS BIGINT) * 1000000 // COUNT(*) AS novelty_ppm
      |FROM shs s JOIN fs f USING (sh)
      |GROUP BY s.doc_id
      |ORDER BY doc_id""".stripMargin

  /** t15: vocabulary growth (Heaps' law curve) — distinct-word count as a
    * function of corpus size at 10 doc-count checkpoints (doc_id order =
    * the fixture's arrival order). The curve a tokenizer-budget or
    * vocab-size decision reads: if vocab still grows steeply at the last
    * checkpoint, the corpus hasn't saturated its domain. Computed without
    * any per-checkpoint rescan: each word carries its FIRST-seen doc
    * (t14's min-agg, at word granularity), each checkpoint its doc_id
    * cutoff, and vocab(k) = |{words: first_seen ≤ cutoff_k}| via one join
    * of the word relation against the 10-row broadcast checkpoint table.
    *
    * Scale: one word-keyed min + one doc-keyed token agg + two
    * broadcast-checkpoint joins; the expensive relation (words) is
    * scanned once however many checkpoints the curve has.
    */
  def heapsLaw(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select($"doc_id", split($"text", " ").as("w"))
      .withColumn("tok", size($"w").cast("long"))
    // checkpoint assignment via DistRank's distributed NTILE (doc_id
    // range partitions — no single-partition window); DistRank stages its
    // whole input, so it gets the two columns the deciles need, not the
    // word arrays. Both cumulative columns via one triangle self-join over
    // the 10-row decile frame (exact BIGINT).
    val cp = DistRank.withNtile(docs.select($"doc_id", $"tok"), 10, "decile",
        $"doc_id", desc = false, Nil)
      .groupBy($"decile")
      .agg(max($"doc_id").as("cutoff"), count(lit(1)).as("nd"),
        sum($"tok").as("nt"))
    val checkpoints = cp
      .join(broadcast(cp.select($"decile".as("d2"), $"nd".as("nd2"),
        $"nt".as("nt2"))), $"d2" <= $"decile")
      .groupBy($"decile", $"cutoff")
      .agg(sum($"nd2").as("n_docs"), sum($"nt2").as("n_tokens"))
      .select($"decile", $"cutoff", $"n_docs", $"n_tokens")
    val firstSeen = docs.select($"doc_id", explode($"w").as("word"))
      .groupBy($"word").agg(min($"doc_id").as("first_seen"))
    firstSeen.join(broadcast(checkpoints), $"first_seen" <= $"cutoff")
      .groupBy($"decile", $"cutoff", $"n_docs", $"n_tokens")
      .agg(count(lit(1)).as("vocab"))
      .orderBy($"decile")
  }

  val heapsLawSql: String =
    """WITH docs AS (
      |  SELECT doc_id, string_split(text, ' ') AS w,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
      |  FROM documents),
      |deciled AS (
      |  SELECT doc_id, tok,
      |    CAST(NTILE(10) OVER (ORDER BY doc_id) AS INTEGER) AS decile
      |  FROM docs),
      |cp AS (
      |  SELECT decile, MAX(doc_id) AS cutoff, COUNT(*) AS nd,
      |    CAST(SUM(tok) AS BIGINT) AS nt
      |  FROM deciled GROUP BY 1),
      |cps AS (
      |  SELECT decile, cutoff,
      |    CAST(SUM(nd) OVER (ORDER BY decile
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS n_docs,
      |    CAST(SUM(nt) OVER (ORDER BY decile
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS n_tokens
      |  FROM cp),
      |fs AS (
      |  SELECT word, MIN(doc_id) AS first_seen FROM (
      |    SELECT doc_id, unnest(w) AS word FROM docs)
      |  GROUP BY 1)
      |SELECT c.decile, c.cutoff, c.n_docs, c.n_tokens,
      |  CAST(COUNT(*) AS BIGINT) AS vocab
      |FROM fs f JOIN cps c ON f.first_seen <= c.cutoff
      |GROUP BY c.decile, c.cutoff, c.n_docs, c.n_tokens
      |ORDER BY decile""".stripMargin

  /** t16: language-ID confusion matrix — t1's predictions aggregated
    * against the labeled language, with per-label integer-ppm rates: the
    * table that turns "we run langid" into "langid is trustworthy for
    * routing" (off-diagonal mass = mislabeled training data or a weak
    * classifier — either way the thing to look at before stratifying by
    * predicted language). Pure reuse of t1's scoring: one extra keyed agg
    * + a broadcast per-label total.
    */
  def langConfusion(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val per = langId(s, d)
      .groupBy($"labeled_lang", $"predicted_lang")
      .agg(count(lit(1)).as("n"))
    val tot = per.groupBy($"labeled_lang").agg(sum($"n").as("label_total"))
    per.join(broadcast(tot), Seq("labeled_lang"))
      .withColumn("rate_ppm", expr("n * 1000000L div label_total"))
      .select($"labeled_lang", $"predicted_lang", $"n", $"label_total",
        $"rate_ppm")
      .orderBy($"labeled_lang", $"predicted_lang")
  }

  // placeholder + .replace AFTER stripMargin (the d16/d17/s22 pattern):
  // interpolating the multi-line langIdSql INTO the stripMargin template
  // would let stripMargin eat any whitespace-led '|'/'||' line inside it
  val langConfusionSql: String =
    """WITH li AS (
       |__LI__
       |),
       |per AS (
       |  SELECT labeled_lang, predicted_lang, COUNT(*) AS n
       |  FROM li GROUP BY 1, 2),
       |tot AS (
       |  SELECT labeled_lang, CAST(SUM(n) AS BIGINT) AS label_total
       |  FROM per GROUP BY 1)
       |SELECT p.labeled_lang, p.predicted_lang, p.n, t.label_total,
       |  p.n * 1000000 // t.label_total AS rate_ppm
       |FROM per p JOIN tot t USING (labeled_lang)
       |ORDER BY labeled_lang, predicted_lang""".stripMargin
      .replace("__LI__", langIdSql)

  /** t17: term burstiness (Fano factor) — variance-to-mean ratio of a
    * word's per-document counts over ALL documents (zeros included — they
    * contribute nothing to the sums, so the word-grouped sums suffice):
    * VMR = (N·Σx² − (Σx)²) / (N·Σx), exact integers end to end, emitted
    * as ppm. Content words are bursty (VMR ≫ 1: absent mostly, repeated
    * where topical); function words are Poisson-ish (VMR ≈ 1) — the
    * signal that separates them without any stopword list, feeding
    * keyword extraction and quality scoring. Top-20 by burstiness.
    *
    * Scale: one (doc, word) count + one word rollup; the top-20 is
    * TakeOrderedAndProject.
    */
  def burstiness(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val perDoc = docs
      .select($"doc_id", explode(split(lower($"text"), " ")).as("word"))
      .groupBy($"doc_id", $"word").agg(count(lit(1)).as("x"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    perDoc.groupBy($"word")
      .agg(count(lit(1)).as("df"), sum($"x").as("sx"),
        sum($"x" * $"x").as("sxx"))
      .crossJoin(broadcast(n))
      .select($"word", $"df", $"sx",
        expr("(n_docs * sxx - sx * sx) * 1000000L div (n_docs * sx)")
          .as("fano_ppm"))
      .orderBy($"fano_ppm".desc, $"word")
      .limit(20)
  }

  val burstinessSql: String =
    """WITH perdoc AS (
      |  SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS x FROM (
      |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
      |    FROM documents)
      |  GROUP BY 1, 2),
      |agg AS (
      |  SELECT word, COUNT(*) AS df, CAST(SUM(x) AS BIGINT) AS sx,
      |    CAST(SUM(x * x) AS BIGINT) AS sxx
      |  FROM perdoc GROUP BY 1),
      |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
      |SELECT word, df, sx,
      |  (n_docs * sxx - sx * sx) * 1000000 // (n_docs * sx) AS fano_ppm
      |FROM agg CROSS JOIN nn
      |ORDER BY fano_ppm DESC, word
      |LIMIT 20""".stripMargin

  /** t18: Zipf law fit — the log-log rank-frequency slope of the corpus
    * vocabulary, the third corpus-statistics diagnostic beside t15 (Heaps)
    * and t17 (burstiness): natural text sits near slope −1; a corpus of
    * boilerplate/templates flattens, heavy dedup steepens — a one-number
    * drift check between corpus versions. Exact least squares over
    * (ln rank, ln freq) of the top-1000 words: both logs go through the
    * t5 DECIMAL(38,6) truncation (the repo's cross-engine ln discipline),
    * every product is decimal-cast BEFORE summation (d17's order-free
    * rule), and the closed-form slope/intercept are scalar double
    * arithmetic over identical aggregate values on both engines.
    *
    * Scale: one (word) count + a TakeOrdered top-1000; the rank window
    * sits directly above the GlobalLimit (the allowed k-row re-rank
    * shape) — corpus-sized work is the word count alone.
    */
  def zipfFit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val freq = Tables.documents(s, d)
      .select(explode(split(lower($"text"), " ")).as("word"))
      .groupBy($"word").agg(count(lit(1)).as("f"))
      .orderBy($"f".desc, $"word").limit(1000)
    val t = freq
      .withColumn("r",
        row_number().over(Window.orderBy($"f".desc, $"word")).cast("long"))
      .select(
        log($"r".cast("double")).cast(Dec).cast("double").as("x"),
        log($"f".cast("double")).cast(Dec).cast("double").as("y"))
    t.agg(
        count(lit(1)).as("n"),
        sum(($"x" * $"y").cast(Dec)).cast("double").as("sxy"),
        sum(($"x" * $"x").cast(Dec)).cast("double").as("sxx"),
        sum($"x".cast(Dec)).cast("double").as("sx"),
        sum($"y".cast(Dec)).cast("double").as("sy"))
      .withColumn("slope",
        ($"n".cast("double") * $"sxy" - $"sx" * $"sy") /
          ($"n".cast("double") * $"sxx" - $"sx" * $"sx"))
      .withColumn("intercept",
        ($"sy" - $"slope" * $"sx") / $"n".cast("double"))
      .select($"n", $"slope", $"intercept")
      .orderBy($"n")
  }

  val zipfFitSql: String =
    """WITH w AS (
      |  SELECT unnest(string_split(lower(text), ' ')) AS word
      |  FROM documents),
      |f AS (
      |  SELECT word, COUNT(*) AS f FROM w GROUP BY 1
      |  ORDER BY f DESC, word LIMIT 1000),
      |r AS (
      |  SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, word) AS r FROM f),
      |t AS (
      |  SELECT
      |    CAST(CAST(LN(CAST(r AS DOUBLE)) AS DECIMAL(38,6)) AS DOUBLE) AS x,
      |    CAST(CAST(LN(CAST(f AS DOUBLE)) AS DECIMAL(38,6)) AS DOUBLE) AS y
      |  FROM r),
      |a AS (
      |  SELECT COUNT(*) AS n,
      |    CAST(SUM(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
      |    CAST(SUM(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy
      |  FROM t)
      |SELECT n,
      |  (CAST(n AS DOUBLE) * sxy - sx * sy)
      |    / (CAST(n AS DOUBLE) * sxx - sx * sx) AS slope,
      |  (sy - ((CAST(n AS DOUBLE) * sxy - sx * sy)
      |    / (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx)
      |    / CAST(n AS DOUBLE) AS intercept
      |FROM a
      |ORDER BY n""".stripMargin

  /** t19: SOURCE DRIFT matrix — pairwise KL divergence between the
    * per-source unigram distributions over the corpus's top-200
    * vocabulary (rank directly above a GlobalLimit — the allowed k-row
    * shape), Laplace add-1 smoothed over the shared grid so no pair is
    * undefined: KL(a||b) = sum_w p_aw ln(p_aw/p_bw). This is the
    * between-DOMAIN complement of t18's within-corpus Zipf check — the
    * number a mixture designer (p8's temperatures) consults to see which
    * domains actually differ and by how much, and the drift alarm
    * between corpus versions when run source=release. Arithmetic is the
    * repo's cross-engine ln discipline end-to-end: every ln quantized
    * through DECIMAL(38,6), the inner sum of quantized lns
    * left-to-right-parenthesized identically in both engines, each term
    * decimal-cast BEFORE summation (order-free), one final double
    * division. The corpus-sized stage is ONE token count; everything
    * after runs on a (sources x 200) grid.
    */
  def klDrift(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, d)
      .select($"source", explode(split(lower($"text"), " ")).as("word"))
    val top = toks.groupBy($"word").agg(count(lit(1)).as("f"))
      .orderBy($"f".desc, $"word").limit(200).select($"word")
    val cw = toks.join(broadcast(top), Seq("word"))
      .groupBy($"source", $"word").agg(count(lit(1)).as("c"))
    val sources = Tables.documents(s, d).select($"source").distinct()
    val grid = sources.crossJoin(broadcast(top))
      .join(cw, Seq("source", "word"), "left")
      .select($"source", $"word", (coalesce($"c", lit(0L)) + 1L).as("c1"))
      .localCheckpoint(true)
    val tot = grid.groupBy($"source").agg(sum($"c1").as("t1"))
    def lnq(c: org.apache.spark.sql.Column) =
      log(c.cast("double")).cast(Dec).cast("double")
    val a = grid.select($"source".as("src_a"), $"word", $"c1".as("ca"))
      .join(tot.select($"source".as("src_a"), $"t1".as("ta")), Seq("src_a"))
    val b = grid.select($"source".as("src_b"), $"word", $"c1".as("cb"))
      .join(tot.select($"source".as("src_b"), $"t1".as("tb")), Seq("src_b"))
    a.join(b, Seq("word"))
      .filter($"src_a" =!= $"src_b")
      .select($"src_a", $"src_b",
        ($"ca".cast("double") *
          (((lnq($"ca") + lnq($"tb")) - lnq($"cb")) - lnq($"ta")))
          .cast(Dec).as("term"))
      .groupBy($"src_a", $"src_b")
      .agg(sum($"term").as("num"))
      .join(tot.select($"source".as("src_a"), $"t1".as("ta")), Seq("src_a"))
      .select($"src_a", $"src_b",
        ($"num".cast("double") / $"ta".cast("double")).as("kl"))
      .orderBy($"src_a", $"src_b")
  }

  val klDriftSql: String =
    """WITH w AS (
      |  SELECT source, unnest(string_split(lower(text), ' ')) AS word
      |  FROM documents),
      |top AS (
      |  SELECT word FROM (
      |    SELECT word, COUNT(*) AS f FROM w GROUP BY 1
      |    ORDER BY f DESC, word LIMIT 200) t),
      |cw AS (
      |  SELECT source, word, COUNT(*) AS c
      |  FROM w JOIN top USING (word) GROUP BY 1, 2),
      |src AS (SELECT DISTINCT source FROM documents),
      |grid AS (
      |  SELECT s.source, t.word, COALESCE(cw.c, 0) + 1 AS c1
      |  FROM src s CROSS JOIN top t
      |  LEFT JOIN cw ON cw.source = s.source AND cw.word = t.word),
      |tot AS (SELECT source, SUM(c1) AS t1 FROM grid GROUP BY 1),
      |terms AS (
      |  SELECT a.source AS src_a, b.source AS src_b,
      |    CAST(CAST(a.c1 AS DOUBLE) *
      |      (((CAST(CAST(LN(CAST(a.c1 AS DOUBLE)) AS DECIMAL(38,6)) AS DOUBLE)
      |        + CAST(CAST(LN(CAST(tb.t1 AS DOUBLE)) AS DECIMAL(38,6)) AS DOUBLE))
      |        - CAST(CAST(LN(CAST(b.c1 AS DOUBLE)) AS DECIMAL(38,6)) AS DOUBLE))
      |        - CAST(CAST(LN(CAST(ta.t1 AS DOUBLE)) AS DECIMAL(38,6)) AS DOUBLE))
      |      AS DECIMAL(38,6)) AS term
      |  FROM grid a
      |  JOIN grid b ON a.word = b.word AND a.source <> b.source
      |  JOIN tot ta ON ta.source = a.source
      |  JOIN tot tb ON tb.source = b.source),
      |k AS (SELECT src_a, src_b, SUM(term) AS num FROM terms GROUP BY 1, 2)
      |SELECT k.src_a, k.src_b,
      |  CAST(k.num AS DOUBLE) / CAST(t.t1 AS DOUBLE) AS kl
      |FROM k JOIN tot t ON t.source = k.src_a
      |ORDER BY src_a, src_b""".stripMargin

  /** t20: bigram LM surprisal with Stupid Backoff (Brants et al. 2007) —
    * the next rung above t7's unigram filter, and the first with a real
    * TRAIN/HELD-OUT split: the LM (bigram + unigram counts) is built
    * from the `doc_id % 100 = 0` REFERENCE slice only (the CCNet shape —
    * a small reference LM scores the whole corpus; an 80% slice
    * saturates this vocabulary's bigram space and leaves the backoff
    * branch dead: 1 unseen bigram corpus-wide at sf0.01), and EVERY doc
    * is scored against it, so out-of-slice docs exercise backoff for
    * real (sf0.01: 76% of scored positions, 495/500 docs; sf0.1: 4.6%,
    * 4211/5000 docs — the rate falling as the slice's absolute size
    * grows is itself the coverage curve). Per scored position: seen bigram →
    * ln(c(prev,w)/c(prev)); unseen → ln(α·(c(w)+1)/(T+V)) (α=0.4, the
    * published constant; add-one over the train vocab V floors unseen
    * unigrams). Exactness: each token's ln truncated to DECIMAL(38,6)
    * (the t5/t7 discipline), decimal per-doc sum, ONE final double
    * divide; α and the slice mod mirrored literally in the oracle.
    * Shapes: map-side bigram assembly (in-row transform, no self-join),
    * (prev,word)- and word-keyed joins against the AGGREGATED count
    * tables (at 100 TB the LM side is the smaller relation — exactly how
    * corpus-LM scoring deploys), one doc-keyed aggregation; `n_backoff`
    * emitted so the filter's miss-rate is auditable.
    */
  def bigramSurprisal(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select($"doc_id", split(lower($"text"), " ").as("w"))
      .filter(size($"w") >= 2)
    val train = docs.filter($"doc_id" % 100 === 0)
    val trainToks = train.select(explode($"w").as("word"))
    val uc = trainToks.groupBy($"word").agg(count(lit(1)).as("cu"))
    val totv = uc.agg(sum($"cu").as("total"),
      count(lit(1)).cast("long").as("v"))
    val bc = train
      .select(explode(expr(
        """transform(sequence(1, size(w) - 1),
          |  i -> struct(element_at(w, i) AS prev,
          |              element_at(w, i + 1) AS word))""".stripMargin))
        .as("bg"))
      .select($"bg.prev", $"bg.word")
      .groupBy($"prev", $"word").agg(count(lit(1)).as("cb"))
    val scored = docs
      .select($"doc_id", explode(expr(
        """transform(sequence(1, size(w) - 1),
          |  i -> struct(element_at(w, i) AS prev,
          |              element_at(w, i + 1) AS word))""".stripMargin))
        .as("bg"))
      .select($"doc_id", $"bg.prev", $"bg.word")
      .join(bc, Seq("prev", "word"), "left")
      .join(uc.select($"word".as("prev"), $"cu".as("cup")), Seq("prev"), "left")
      .join(uc.select($"word", $"cu".as("cuw")), Seq("word"), "left")
      .crossJoin(broadcast(totv))
      .select($"doc_id", $"cb",
        when($"cb".isNotNull,
          log($"cb".cast("double") / $"cup".cast("double")))
          .otherwise(log(lit(0.4) *
            ((coalesce($"cuw", lit(0L)) + 1L).cast("double") /
              ($"total" + $"v").cast("double"))))
          .cast(Dec).as("lnp"))
    scored.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_scored"),
        sum(when($"cb".isNull, 1L).otherwise(0L)).as("n_backoff"),
        sum($"lnp").cast(Dec).as("slnp"))
      .select($"doc_id", $"n_scored", $"n_backoff",
        (-($"slnp".cast("double") / $"n_scored")).as("avg_surprisal"))
      .orderBy($"doc_id")
  }

  val bigramSurprisalSql: String =
    """WITH docs AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS w
      |  FROM documents WHERE len(string_split(lower(text), ' ')) >= 2),
      |train AS (SELECT * FROM docs WHERE doc_id % 100 = 0),
      |uc AS (
      |  SELECT word, CAST(COUNT(*) AS BIGINT) AS cu
      |  FROM (SELECT unnest(w) AS word FROM train) GROUP BY 1),
      |totv AS (
      |  SELECT CAST(SUM(cu) AS BIGINT) AS total,
      |    CAST(COUNT(*) AS BIGINT) AS v FROM uc),
      |bc AS (
      |  SELECT prev, word, CAST(COUNT(*) AS BIGINT) AS cb FROM (
      |    SELECT w[CAST(i AS INTEGER)] AS prev,
      |      w[CAST(i AS INTEGER) + 1] AS word
      |    FROM train, UNNEST(range(1, len(w))) t(i)) GROUP BY 1, 2),
      |scored AS (
      |  SELECT g.doc_id, bc.cb,
      |    CAST(CASE WHEN bc.cb IS NOT NULL
      |      THEN LN(CAST(bc.cb AS DOUBLE) / CAST(up.cu AS DOUBLE))
      |      ELSE LN(0.4 * (CAST(COALESCE(uw.cu, 0) + 1 AS DOUBLE) /
      |                     CAST(tv.total + tv.v AS DOUBLE)))
      |      END AS DECIMAL(38,6)) AS lnp
      |  FROM (
      |    SELECT doc_id, w[CAST(i AS INTEGER)] AS prev,
      |      w[CAST(i AS INTEGER) + 1] AS word
      |    FROM docs, UNNEST(range(1, len(w))) t(i)) g
      |  LEFT JOIN bc ON bc.prev = g.prev AND bc.word = g.word
      |  LEFT JOIN uc up ON up.word = g.prev
      |  LEFT JOIN uc uw ON uw.word = g.word
      |  CROSS JOIN totv tv)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_scored,
      |  CAST(SUM(CASE WHEN cb IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_backoff,
      |  -(CAST(CAST(SUM(lnp) AS DECIMAL(38,6)) AS DOUBLE) / COUNT(*))
      |    AS avg_surprisal
      |FROM scored GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** t21: BPE TRAINING — apply the merges, not just count pairs (r15,
    * the other half of t9). The canonical tokenizer-training kernel a
    * data pipeline runs (Sennrich et al. 2016): N rounds of
    * [distributed pair count → argmax merge rule → map-side re-tokenize],
    * with the merge table as BOUNDED driver state (one 3-column row per
    * round — the KMeans bounded-collect discipline) and every
    * re-tokenization a broadcast-free HOF fold inside codegen:
    * `aggregate(syms, ...)` replaces each leftmost (l,r) adjacency with
    * the merged symbol, greedy left-to-right (a freshly merged symbol
    * never re-matches as `l` in the same pass, since l+r != l — so the
    * fold IS the pass). Per-round state is localCheckpointed so round k
    * does not re-execute rounds 1..k-1 (at 100 TB: checkpoint to
    * storage; the loop shape is unchanged). Ties break on
    * (count DESC, l || \\u0001 || r ASC) — mirrored in the oracle, which
    * replays the SAME N rounds relationally: the greedy pass is
    * expressed as match-run parity (position i applies iff matched and
    * its consecutive-match run-prefix is even — provably the fold),
    * with per-round MATERIALIZED CTEs so the 3-way reuse of each
    * round's state is linear, not 3^N. Corpus slice doc_id % 4 = 3,
    * words >= 2 chars, max word length 8 (range(1,16) bound, the t9
    * trick).
    */
  private val BpeRounds = 6

  private def bpeApplyMerge(syms: org.apache.spark.sql.Column,
      a: String, b: String): org.apache.spark.sql.Column =
    aggregate(syms, array().cast("array<string>"), (acc, s) =>
      when(size(acc) > 0 &&
          element_at(acc, -1) === lit(a) && s === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(s))))

  /** Shared trainer (t21/t22): the six merge rules learned on the
    * slice, with each round's selection count and post-apply token
    * count. Bounded driver state — one 5-tuple per round, memoized per
    * fixture dir in-process AND (r16) PUBLISHED as a persistent
    * artifact: the trained merge table is a tokenizer's durable output,
    * so it round-trips through a CommitMarker-CAS'd generation under a
    * content-addressed tmpdir root ([[AnnIndex.ensureGeneration]]
    * applied to the tokenizer — the fixture file's length+mtime is in
    * the key, so a driver regen can never serve stale rules). A second
    * PROCESS encodes (t22) by opening the artifact instead of re-running
    * six rounds of jobs; racing trainers CAS and the loser adopts the
    * winner's rules (training is deterministic in the input, so the
    * race is benign — generation-keyed deterministic content).
    */
  private val bpeTrainCache =
    scala.collection.concurrent.TrieMap
      .empty[String, Seq[(Int, String, String, Long, Long)]]

  /** Test hook: drop the in-process memo (artifact reads then prove
    * themselves). */
  private[graft] def bpeMemoClear(): Unit = bpeTrainCache.clear()

  private def bpeArtifactBase(d: String): org.apache.hadoop.fs.Path = {
    val docsFile = new java.io.File(s"$d/documents.parquet")
    val fp = s"$d|${docsFile.length()}|${docsFile.lastModified()}|r$BpeRounds"
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(fp.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
    new org.apache.hadoop.fs.Path(
      new java.io.File(System.getProperty("java.io.tmpdir")).toURI.toString,
      s"graft-bpe-$key")
  }

  private def bpeRulesFromJson(body: String)
      : Seq[(Int, String, String, Long, Long)] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    body.linesIterator.filter(_.nonEmpty).map { line =>
      val n = mapper.readTree(line)
      (n.get("r").asInt(), n.get("a").asText(), n.get("b").asText(),
        n.get("n").asLong(), n.get("t").asLong())
    }.toSeq.sortBy(_._1)
  }

  /** Open the published merge table, or train and publish it. The
    * committed body is the jsonl rules FILE itself (not a dir). */
  private[graft] def bpeTrainPersistent(s: SparkSession, d: String)
      : Seq[(Int, String, String, Long, Long)] = {
    val base = bpeArtifactBase(d)
    val fs = base.getFileSystem(s.sessionState.newHadoopConf())
    val rulesFile = AnnIndex.ensureGeneration(s, base, 1L) { staged =>
      val rules = bpeTrainUncached(s, d)
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val out = fs.create(new org.apache.hadoop.fs.Path(staged), false)
      try out.write(rules.map { case (r, a, b, n, t) =>
        val o = mapper.createObjectNode()
        o.put("r", r); o.put("a", a); o.put("b", b)
        o.put("n", n); o.put("t", t)
        mapper.writeValueAsString(o)
      }.mkString("", "\n", "\n").getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    bpeRulesFromJson(graft.kv.CommitMarker.read(
      fs, new org.apache.hadoop.fs.Path(rulesFile)))
  }

  private def bpeTrain(s: SparkSession, d: String)
      : Seq[(Int, String, String, Long, Long)] =
    bpeTrainCache.getOrElseUpdate(d, bpeTrainPersistent(s, d))

  private def bpeTrainUncached(s: SparkSession, d: String)
      : Seq[(Int, String, String, Long, Long)] = {
    import s.implicits._
    var cur = Tables.documents(s, d)
      .filter($"doc_id" % 4 === 3)
      .select(explode(split(lower($"text"), " ")).as("w"))
      .filter(length($"w") >= 2)
      .select(expr(
        "transform(sequence(1, length(w)), i -> substring(w, i, 1))")
        .as("syms"))
      .localCheckpoint(true)
    (1 to BpeRounds).map { r =>
      val top = cur.filter(size($"syms") >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(syms) - 1), i -> " +
            "struct(element_at(syms, i) AS l, " +
            "element_at(syms, i + 1) AS r))")).as("p"))
        .groupBy($"p.l".as("l"), $"p.r".as("r"))
        .agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, concat($"l", lit("\u0001"), $"r").asc)
        .limit(1).collect()(0)
      val (a, b, n) =
        (top.getString(0), top.getString(1), top.getLong(2))
      cur = cur.select(bpeApplyMerge($"syms", a, b).as("syms"))
        .localCheckpoint(true)
      val toks = cur.agg(sum(size($"syms"))).as[Long].head()
      (r, a, b, n, toks)
    }
  }

  def bpeMerges(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    bpeTrain(s, d).toDF("round", "lhs", "rhs", "pair_n", "toks_after")
      .orderBy($"round")
  }

  /** Oracle: generated N-round unrolled replay (see [[bpeMerges]]). */
  val bpeMergesSql: String = {
    val sb = new StringBuilder
    sb ++= "WITH words AS MATERIALIZED (\n" +
      "  SELECT doc_id * 1000000 + wi AS wid, w\n" +
      "  FROM (\n" +
      "    SELECT doc_id,\n" +
      "      unnest(string_split(lower(text), ' ')) AS w,\n" +
      "      unnest(range(1, len(string_split(lower(text), ' ')) + 1))" +
      " AS wi\n" +
      "    FROM documents WHERE doc_id % 4 = 3)\n" +
      "  WHERE length(w) >= 2),\n" +
      "w0 AS MATERIALIZED (SELECT wid, string_split(w, '') AS syms" +
      " FROM words)"
    (1 to BpeRounds).foreach { r =>
      val p = s"w${r - 1}"
      sb ++= s""",
pr$r AS (
  SELECT list_extract(syms, CAST(i AS INTEGER)) AS l,
    list_extract(syms, CAST(i AS INTEGER) + 1) AS r2, COUNT(*) AS n
  FROM $p, (SELECT unnest(range(1, 16)) AS i) ix
  WHERE i <= len(syms) - 1
  GROUP BY 1, 2
  ORDER BY n DESC, l || chr(1) || r2 ASC
  LIMIT 1),
mt$r AS (
  SELECT w.wid, ix.i
  FROM $p w CROSS JOIN pr$r pp, (SELECT unnest(range(1, 16)) AS i) ix
  WHERE ix.i <= len(w.syms) - 1
    AND list_extract(w.syms, CAST(ix.i AS INTEGER)) = pp.l
    AND list_extract(w.syms, CAST(ix.i AS INTEGER) + 1) = pp.r2),
ap$r AS (
  SELECT wid, i, row_number() OVER (PARTITION BY wid, g ORDER BY i) AS rn
  FROM (SELECT wid, i, i - row_number() OVER (PARTITION BY wid ORDER BY i) AS g
        FROM mt$r)),
w$r AS MATERIALIZED (
  SELECT p.wid,
    list(CASE WHEN a1.wid IS NOT NULL THEN pp.l || pp.r2 ELSE p.s END
         ORDER BY p.i) AS syms
  FROM (
    SELECT w.wid, ix.i, list_extract(w.syms, CAST(ix.i AS INTEGER)) AS s
    FROM $p w, (SELECT unnest(range(1, 17)) AS i) ix
    WHERE ix.i <= len(w.syms)) p
  CROSS JOIN pr$r pp
  LEFT JOIN ap$r a1 ON a1.wid = p.wid AND a1.i = p.i AND a1.rn % 2 = 1
  LEFT JOIN ap$r a0 ON a0.wid = p.wid AND a0.i = p.i - 1 AND a0.rn % 2 = 1
  WHERE a0.wid IS NULL
  GROUP BY p.wid)"""
    }
    val merges = (1 to BpeRounds)
      .map(r => s"SELECT $r AS round, l, r2, n FROM pr$r")
      .mkString(" UNION ALL ")
    val toks = (1 to BpeRounds)
      .map(r => s"SELECT $r AS round, SUM(len(syms)) AS tk FROM w$r")
      .mkString(" UNION ALL ")
    sb ++= s""",
merges AS ($merges),
toks AS ($toks)
SELECT CAST(m.round AS INTEGER) AS round, m.l AS lhs, m.r2 AS rhs,
  CAST(m.n AS BIGINT) AS pair_n, CAST(t.tk AS BIGINT) AS toks_after
FROM merges m JOIN toks t ON t.round = m.round
ORDER BY round"""
    sb.toString
  }

  /** t22: BPE ENCODE — the inference half of the tokenizer story (r15):
    * the [[bpeTrain]] rules (slice-learned, t21's exact derivation)
    * applied to the FULL corpus in RANK order, reported per source as
    * the compression a training pipeline provisions by (words, chars
    * in, tokens out). Spark shape: the six rules compose as six chained
    * [[bpeApplyMerge]] HOF folds over one corpus pass — a broadcast-free
    * map-side encode inside codegen, the way a 100 TB corpus is
    * actually tokenized (rules driver-bounded, data never collected).
    * Oracle: the t21 generator twice over — train CTEs on the slice,
    * then the same parity-replay applied fold-by-fold to the full
    * corpus; validated against an independent python reference at both
    * SFs before porting.
    */
  def bpeEncode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    bpeEncodedGrain(s, d).groupBy($"source")
      .agg(sum($"n_words").as("n_words"),
        sum($"chars").as("chars"),
        sum($"tokens").as("tokens"))
      .orderBy($"source")
  }

  /** ONE full-corpus encode per fixture dir (r17): t22 and t24 ran the
    * IDENTICAL six-fold BPE encode — the two heaviest queries in the
    * suite, ~16 s of the sf0.1 bench — differing only in the carried
    * group column. The encode now runs once carrying BOTH columns,
    * aggregates to the (source, lang) GRAIN — bounded by the metadata
    * enums' cross product (25 rows on the fixture; never data-sized, a
    * real pipeline's source×language matrix is a config artifact) —
    * and memoizes the collected grain per fixture dir like the train
    * memo. t22 rolls the grain up by source, t24 by lang; BIGINT sums
    * re-associate exactly, so both stay bit-identical to their
    * single-pass forms and their oracles are unchanged.
    */
  private val bpeEncodedCache = scala.collection.concurrent.TrieMap
    .empty[String, Seq[(String, String, Long, Long, Long)]]

  /** Test hook (with [[bpeMemoClear]]): drop the encoded-grain memo. */
  private[graft] def bpeEncodedMemoClear(): Unit = bpeEncodedCache.clear()

  private def bpeEncodedGrain(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    bpeEncodedCache.getOrElseUpdate(d, {
      val rules = bpeTrain(s, d).map(t => (t._2, t._3))
      val words = Tables.documents(s, d)
        .select($"source", $"lang",
          explode(split(lower($"text"), " ")).as("w"))
        .filter(length($"w") >= 2)
        .select($"source", $"lang", length($"w").cast("long").as("chars"),
          expr(
            "transform(sequence(1, length(w)), i -> substring(w, i, 1))")
            .as("syms"))
      val enc = rules.foldLeft(words) { case (df, (a, b)) =>
        df.withColumn("syms", bpeApplyMerge($"syms", a, b))
      }
      enc.groupBy($"source", $"lang")
        .agg(count(lit(1)).as("n_words"),
          sum($"chars").as("chars"),
          sum(size($"syms").cast("long")).as("tokens"))
        .collect().toSeq.map(r => (r.getString(0), r.getString(1),
          r.getLong(2), r.getLong(3), r.getLong(4)))
    }).toDF("source", "lang", "n_words", "chars", "tokens")
  }

  /** Oracle generator: train on the slice (s0..s5 + pr1..pr6), encode
    * the full corpus (f0..f6) — generated like [[bpeMergesSql]]. The
    * carried group column (`src`) is parameterized so t22 (per source)
    * and t24 (per language) share one generator; `tail` is the final
    * SELECT over `f$BpeRounds w JOIN f0 w0 ON w0.wid = w.wid`.
    */
  private def bpeEncodeAggSql(groupCol: String, tail: String): String = {
    def applyCtes(prev: String, nxt: String, pr: String): String =
      s""",
mt_$nxt AS (
  SELECT w.wid, ix.i
  FROM $prev w CROSS JOIN $pr pp, (SELECT unnest(range(1, 16)) AS i) ix
  WHERE ix.i <= len(w.syms) - 1
    AND list_extract(w.syms, CAST(ix.i AS INTEGER)) = pp.l
    AND list_extract(w.syms, CAST(ix.i AS INTEGER) + 1) = pp.r2),
ap_$nxt AS (
  SELECT wid, i, row_number() OVER (PARTITION BY wid, g ORDER BY i) AS rn
  FROM (SELECT wid, i, i - row_number() OVER (PARTITION BY wid ORDER BY i) AS g
        FROM mt_$nxt)),
$nxt AS MATERIALIZED (
  SELECT p.wid, ANY_VALUE(p.src) AS src,
    list(CASE WHEN a1.wid IS NOT NULL THEN pp.l || pp.r2 ELSE p.s END
         ORDER BY p.i) AS syms
  FROM (
    SELECT w.wid, w.src, ix.i,
      list_extract(w.syms, CAST(ix.i AS INTEGER)) AS s
    FROM $prev w, (SELECT unnest(range(1, 17)) AS i) ix
    WHERE ix.i <= len(w.syms)) p
  CROSS JOIN $pr pp
  LEFT JOIN ap_$nxt a1 ON a1.wid = p.wid AND a1.i = p.i AND a1.rn % 2 = 1
  LEFT JOIN ap_$nxt a0 ON a0.wid = p.wid AND a0.i = p.i - 1 AND a0.rn % 2 = 1
  WHERE a0.wid IS NULL
  GROUP BY p.wid)"""
    def prCte(r: Int, prev: String): String =
      s""",
pr$r AS (
  SELECT list_extract(syms, CAST(i AS INTEGER)) AS l,
    list_extract(syms, CAST(i AS INTEGER) + 1) AS r2, COUNT(*) AS n
  FROM $prev, (SELECT unnest(range(1, 16)) AS i) ix
  WHERE i <= len(syms) - 1
  GROUP BY 1, 2
  ORDER BY n DESC, l || chr(1) || r2 ASC
  LIMIT 1)"""
    val sb = new StringBuilder
    sb ++= "WITH wordsall AS MATERIALIZED (\n" +
      s"  SELECT doc_id * 1000000 + wi AS wid, $groupCol AS src, w,\n" +
      "    (doc_id % 4 = 3) AS insl\n" +
      "  FROM (\n" +
      s"    SELECT doc_id, $groupCol,\n" +
      "      unnest(string_split(lower(text), ' ')) AS w,\n" +
      "      unnest(range(1, len(string_split(lower(text), ' ')) + 1))" +
      " AS wi\n" +
      "    FROM documents)\n" +
      "  WHERE length(w) >= 2),\n" +
      "s0 AS MATERIALIZED (SELECT wid, src, string_split(w, '') AS syms" +
      " FROM wordsall WHERE insl),\n" +
      "f0 AS MATERIALIZED (SELECT wid, src, string_split(w, '') AS syms" +
      " FROM wordsall)"
    (1 to BpeRounds).foreach { r =>
      sb ++= prCte(r, s"s${r - 1}")
      if (r < BpeRounds) sb ++= applyCtes(s"s${r - 1}", s"s$r", s"pr$r")
    }
    (1 to BpeRounds).foreach { r =>
      sb ++= applyCtes(s"f${r - 1}", s"f$r", s"pr$r")
    }
    sb ++= "\n" + tail.replace("__FN__", s"f$BpeRounds")
    sb.toString
  }

  val bpeEncodeSql: String = bpeEncodeAggSql("source",
    """SELECT w.src AS source,
      |  CAST(COUNT(*) AS BIGINT) AS n_words,
      |  CAST(SUM(len(w0.syms)) AS BIGINT) AS chars,
      |  CAST(SUM(len(w.syms)) AS BIGINT) AS tokens
      |FROM __FN__ w JOIN f0 w0 ON w0.wid = w.wid
      |GROUP BY w.src
      |ORDER BY source""".stripMargin)

  /** t24: tokenizer FERTILITY by language (r16) — the tokenizer-fairness
    * measurement (Petrov et al. 2023, "Language Model Tokenizers
    * Introduce Unfairness Between Languages"): a merge table trained on
    * one corpus slice makes some languages systematically MORE EXPENSIVE
    * per word, and a multilingual pipeline budgets by exactly this
    * table — per language: words, chars, BPE tokens, plus the two price
    * columns as exact integer cross-multiplies (`tokens·100 div words` =
    * fertility ×100, `chars·100 div tokens` = compression ×100; the
    * p25 float-free discipline). Spark shape: t22's six chained
    * codegen'd HOF folds over ONE corpus pass (rules from the published
    * t21 artifact — no retraining), grouped by the fixture's `lang`
    * column instead of `source`; oracle = the shared t22 generator
    * parameterized by group column. Fixture reality (measured, stated
    * honestly): the synthetic corpus draws all five languages from one
    * vocabulary distribution, so fertility lands flat (396-397 per
    * 100 words at sf0.1) — the TABLE is the deliverable; the spread is
    * a property of the corpus, and on a real multilingual crawl the
    * same query surfaces the Petrov et al. gap.
    */
  def tokenFertility(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    bpeEncodedGrain(s, d).groupBy($"lang")
      .agg(sum($"n_words").as("n_words"),
        sum($"chars").as("chars"),
        sum($"tokens").as("tokens"))
      .select($"lang", $"n_words", $"chars", $"tokens",
        expr("tokens * 100 div n_words").as("tok_per_100w"),
        expr("chars * 100 div tokens").as("chars_per_tok_x100"))
      .orderBy($"lang")
  }

  val tokenFertilitySql: String = bpeEncodeAggSql("lang",
    """SELECT w.src AS lang,
      |  CAST(COUNT(*) AS BIGINT) AS n_words,
      |  CAST(SUM(len(w0.syms)) AS BIGINT) AS chars,
      |  CAST(SUM(len(w.syms)) AS BIGINT) AS tokens,
      |  CAST(SUM(len(w.syms)) * 100 // COUNT(*) AS BIGINT)
      |    AS tok_per_100w,
      |  CAST(SUM(len(w0.syms)) * 100 // SUM(len(w.syms)) AS BIGINT)
      |    AS chars_per_tok_x100
      |FROM __FN__ w JOIN f0 w0 ON w0.wid = w.wid
      |GROUP BY w.src
      |ORDER BY lang""".stripMargin)

  /** t23: CCNet HEAD/MIDDLE/TAIL perplexity split (r15) — the famous
    * CCNet partition (Wenzek et al. 2020): every scored doc (t20's
    * Stupid-Backoff LM surprisal — ≥2 tokens, the t20 domain) lands in
    * one of three equal-size buckets by ascending surprisal (head =
    * closest to the reference LM = the slice pretraining keeps first),
    * reported per (source, bucket) as docs + whitespace tokens — the
    * provisioning table the CCNet recipe hands the mixture planner.
    * Scale: the tercile assignment is [[DistRank.withNtile]]'s
    * distributed NTILE (range partitions + per-partition offsets —
    * bit-identical to a flat window, ANSI sizes, doc_id tie-break), so
    * the plan has NO unpartitioned window; the doubles
    * feeding it are t20's hash-matched exact values, so the oracle's
    * flat NTILE(3) sees identical ordering.
    */
  def perplexitySplit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // r19 opt: materialize the (doc_id, surprisal) frame once — it is two
    // narrow columns but its producer is the whole t20 LM-scoring subtree,
    // which DistRank's range sampler and its shuffle would otherwise each
    // recompute.
    val scored = bigramSurprisal(s, d)
      .select($"doc_id", $"avg_surprisal")
      .localCheckpoint(true)
    val tiled = graft.operators.DistRank.withNtile(
      scored, 3, "b", $"avg_surprisal", desc = false, Seq($"doc_id"))
    tiled
      .join(Tables.documents(s, d)
        .select($"doc_id", $"source",
          size(split(lower($"text"), " ")).cast("long").as("tok")),
        Seq("doc_id"))
      .select($"source",
        when($"b" === 1, "head").when($"b" === 2, "middle")
          .otherwise("tail").as("bucket"),
        $"tok")
      .groupBy($"source", $"bucket")
      .agg(count(lit(1)).as("n_docs"), sum($"tok").as("tokens"))
      .orderBy($"source", $"bucket")
  }

  val perplexitySplitSql: String =
    """SELECT source, bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(tok) AS BIGINT) AS tokens
      |FROM (
      |  SELECT d.source,
      |    CASE NTILE(3) OVER (ORDER BY t.avg_surprisal, t.doc_id)
      |      WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
      |      ELSE 'tail' END AS bucket,
      |    CAST(len(string_split(lower(d.text), ' ')) AS BIGINT) AS tok
      |  FROM (__T20__) t
      |  JOIN documents d ON d.doc_id = t.doc_id)
      |GROUP BY source, bucket
      |ORDER BY source, bucket""".stripMargin
      .replace("__T20__", bigramSurprisalSql)

  /** t25 constants — mirrored LITERALLY in [[sequencePackingSql]] (change
    * both or neither). Budget 256 > the fixture's 200-token doc bound
    * (d25/p26's pinned guard), so no fixture doc is oversize — the
    * oversize-doc path (own bin, fill > budget) is spec-pinned on
    * synthetic rows instead.
    */
  val PackBudget = 256
  val PackShards = 8

  /** The packing plan over a typed doc Dataset — factored so QueriesSpec
    * can replay it on synthetic docs (oversize, exact-boundary) the
    * fixture can't produce. One shuffle (groupByKey on shard), then the
    * LINEAR [[graft.streaming.PackFold]] per group — sort the shard in
    * memory (bounded by the shard contract, the same bound the
    * sort-within-group carries anywhere), thread O(1) state, emit bins.
    */
  private[graft] def packDocs(
      docs: org.apache.spark.sql.Dataset[graft.streaming.PackDoc]): DataFrame = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.shard)
      .flatMapGroups { (shard, it) =>
        val (closed, open) = graft.streaming.PackFold(
          shard, None, it.toArray.sortBy(_.doc_id), PackBudget)
        // batch semantics: stream end flushes the trailing open bin
        closed.iterator ++ open.map(o => graft.streaming.PackBinOut(
          shard, o.bin, o.nDocs, o.fill.toLong, o.firstDoc, o.lastDoc)).iterator
      }
      .toDF()
      .orderBy("shard", "bin")
  }

  /** The per-doc ASSIGNMENT emit — the same [[graft.streaming.PackFold]]
    * walk (via its onDoc hook, so the two emits can never diverge), but
    * each doc yields its own (shard, doc_id, bin) row. This is the
    * 100 TB shape the t25 scaladoc promised: assignment rows come out of
    * the fold itself, O(docs) total, so downstream audits are keyed
    * equi-joins — no doc×bins range reconstruction.
    */
  private[graft] def packAssign(
      docs: org.apache.spark.sql.Dataset[graft.streaming.PackDoc]): DataFrame = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.shard)
      .flatMapGroups { (shard, it) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
        graft.streaming.PackFold(
          shard, None, it.toArray.sortBy(_.doc_id), PackBudget,
          (dd, bin) => out += ((shard, dd.doc_id, bin)))
        out.iterator
      }
      .toDF("shard", "doc_id", "bin")
  }

  /** t29: PACKING PURITY audit (r17) — the cross-document attention
    * question t25's packer raises: a packed training sequence that
    * mixes SOURCES (or languages) lets attention bleed across unrelated
    * documents unless the trainer masks boundaries, and "how much of my
    * packing is mixed?" is the number that decides whether boundary
    * masking (or source-grouped packing) is worth its cost (the
    * sequence-packing literature's contamination concern made a table).
    * Per shard: bins, source-mixed bins, language-mixed bins. The
    * doc→bin assignment comes STRAIGHT OUT OF THE FOLD ([[packAssign]]
    * — one (doc_id, bin) row per doc via PackFold's onDoc hook), so the
    * audit is ONE doc_id-keyed equi-join: O(docs) rows moved, no range
    * predicate, no per-shard doc×bins term (r18 — r17 shipped a
    * shard-keyed BETWEEN join against the bin frame whose quadratic
    * per-shard cost its own scaladoc flagged; the fold-emitted
    * assignment deletes it).
    * Oracle: the shared t25 recursive fold's `steps` relation joined
    * back to documents — the doc→bin assignment read directly.
    */
  def packingPurity(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select($"doc_id",
      ($"doc_id" % PackShards).as("shard"), $"source", $"lang",
      size(split($"text", " ")).as("n"))
    val asg = packAssign(docs.select($"doc_id", $"shard", $"n")
      .as[graft.streaming.PackDoc])
      .select($"doc_id", $"shard", $"bin")
    docs.select($"doc_id", $"source", $"lang")
      .join(asg, Seq("doc_id"))
      .groupBy($"shard", $"bin")
      .agg(countDistinct($"source").as("ns"),
        countDistinct($"lang").as("nl"))
      .groupBy($"shard")
      .agg(count(lit(1)).as("n_bins"),
        count(when($"ns" > 1, 1)).as("mixed_source_bins"),
        count(when($"nl" > 1, 1)).as("mixed_lang_bins"))
      .orderBy($"shard")
  }

  /** LAZY: packStepsCte is declared below this point — a strict val
    * would read null at object init (the kv12/d15 trap; the maps at the
    * bottom force this after every plain val above them initialized). */
  lazy val packingPuritySql: String = packStepsCte + ",\n" +
    """asg AS (
      |  SELECT s.shard, s.bin, d.source, d.lang
      |  FROM steps s JOIN documents d USING (doc_id)),
      |pb AS (
      |  SELECT shard, bin, COUNT(DISTINCT source) AS ns,
      |    COUNT(DISTINCT lang) AS nl
      |  FROM asg GROUP BY shard, bin)
      |SELECT CAST(shard AS BIGINT) AS shard,
      |  CAST(COUNT(*) AS BIGINT) AS n_bins,
      |  CAST(COUNT(CASE WHEN ns > 1 THEN 1 END) AS BIGINT)
      |    AS mixed_source_bins,
      |  CAST(COUNT(CASE WHEN nl > 1 THEN 1 END) AS BIGINT)
      |    AS mixed_lang_bins
      |FROM pb GROUP BY shard
      |ORDER BY shard""".stripMargin

  /** t25: SEQUENCE PACKING — the step between a cleaned corpus and a
    * training run: greedy sequential (first-fit-in-order) packing of
    * whitespace-token documents into fixed [[PackBudget]]-token training
    * sequences, doc order pinned to doc_id so the assignment is
    * deterministic. Packing is inherently a sequential fold, so the
    * PARALLEL UNIT is the shard (doc_id mod [[PackShards]] here; at
    * 100 TB, constant-SIZE shards via doc_id DIV shardSize — each task
    * folds its own shard, no cross-shard state, which is exactly how
    * production packers shard the problem). Per shard: ONE groupByKey
    * exchange, an in-memory sort of the shard's (doc_id, n) pairs
    * (bounded by the shard contract, NOT corpus-sized), then the LINEAR
    * [[graft.streaming.PackFold]] threading O(1) state doc to doc —
    * NOT a SQL HOF with an array accumulator, which array_append-copies
    * per doc and went O(shard²) = 25.6× on the 10× smoke; an
    * oversize doc opens its own bin (fill > budget, next doc always
    * overflows out of it). Emitted at bin granularity (n_docs, fill,
    * doc span per bin) — the packing audit a training-prep pipeline
    * reports. Oracle: DuckDB 1.0's `list_reduce` DROPS list-valued
    * struct-accumulator state (verified: `[1]||[2]||[3]` folds to
    * `[3]`), so the fold is replayed as a RECURSIVE CTE over per-shard
    * rank — one level per doc position, every shard advancing in
    * lockstep; `ordered` is AS MATERIALIZED (multiply-referenced CTE
    * rule, SURVEY §7.4i).
    */
  /** t26: FILL-IN-THE-MIDDLE span transform (Bavarian et al. 2022,
    * "Efficient Training of Language Models to Fill in the Middle") —
    * the data-side half of FIM training: each selected document splits
    * into (prefix, middle, suffix) at two DETERMINISTIC cut points and
    * re-serializes in PSM order `<PRE> p <SUF> s <MID> m`, teaching the
    * model to infill; the rest of the corpus passes through untouched
    * (the paper's ~50% FIM rate, selected by doc_id parity — corpus
    * properties stay balanced). Cut points derive from md5 folds of the
    * doc_id (engine-portable, p7's discipline): i = h1 mod (n+1),
    * m = h2 mod (n−i+1) — every (i, m) pair reachable, replayed by the
    * oracle bit-for-bit; the transformed text is hash-checked (md5 of
    * the PSM string), not just counted. Scale: pure map-side row math —
    * no exchange, no state; the one groupBy is the audit rollup.
    */
  def fimTransform(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select($"doc_id", split($"text", " ").as("w"),
        ($"doc_id" % 2 === 0).as("fim"))
      .withColumn("n", size($"w"))
      .withColumn("h1", expr(
        "CAST(conv(substring(md5(concat('fim1:', CAST(doc_id AS STRING))), 1, 12), 16, 10) AS BIGINT)"))
      .withColumn("h2", expr(
        "CAST(conv(substring(md5(concat('fim2:', CAST(doc_id AS STRING))), 1, 12), 16, 10) AS BIGINT)"))
      .withColumn("i", expr("CAST(h1 % (n + 1) AS INT)"))
      .withColumn("m", expr("CAST(h2 % (n - i + 1) AS INT)"))
      .withColumn("psm", expr(
        """CASE WHEN fim THEN concat(
          |  '<PRE> ', array_join(slice(w, 1, i), ' '),
          |  ' <SUF> ', array_join(slice(w, i + m + 1, n - i - m), ' '),
          |  ' <MID> ', array_join(slice(w, i + 1, m), ' '))
          |ELSE array_join(w, ' ') END""".stripMargin))
    docs.select($"doc_id", $"fim".cast("int").as("fim"),
      when($"fim", $"i").otherwise(lit(0)).as("n_prefix"),
      when($"fim", $"m").otherwise($"n").as("n_middle"),
      when($"fim", $"n" - $"i" - $"m").otherwise(lit(0)).as("n_suffix"),
      md5($"psm").as("psm_md5"))
      .orderBy($"doc_id")
  }

  val fimTransformSql: String =
    """WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS w,
      |    doc_id % 2 = 0 AS fim,
      |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(range(1, 13),
      |        i -> CAST(strpos('0123456789abcdef',
      |               substr(md5('fim1:' || CAST(doc_id AS VARCHAR)), i, 1))
      |             - 1 AS BIGINT))),
      |      (acc, v) -> acc * 16 + v) AS h1,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(range(1, 13),
      |        i -> CAST(strpos('0123456789abcdef',
      |               substr(md5('fim2:' || CAST(doc_id AS VARCHAR)), i, 1))
      |             - 1 AS BIGINT))),
      |      (acc, v) -> acc * 16 + v) AS h2
      |  FROM documents),
      |cuts AS (
      |  SELECT doc_id, w, fim, n,
      |    CAST(h1 % (n + 1) AS INTEGER) AS i,
      |    CAST(h2 % (n - CAST(h1 % (n + 1) AS INTEGER) + 1) AS INTEGER)
      |      AS m
      |  FROM d)
      |SELECT doc_id, CAST(fim AS INTEGER) AS fim,
      |  CAST(CASE WHEN fim THEN i ELSE 0 END AS INTEGER) AS n_prefix,
      |  CAST(CASE WHEN fim THEN m ELSE n END AS INTEGER) AS n_middle,
      |  CAST(CASE WHEN fim THEN n - i - m ELSE 0 END AS INTEGER)
      |    AS n_suffix,
      |  md5(CASE WHEN fim THEN
      |    '<PRE> ' || COALESCE(array_to_string(w[1:i], ' '), '') ||
      |    ' <SUF> ' || COALESCE(array_to_string(w[i + m + 1:n], ' '), '') ||
      |    ' <MID> ' || COALESCE(array_to_string(w[i + 1:i + m], ' '), '')
      |  ELSE array_to_string(w, ' ') END) AS psm_md5
      |FROM cuts
      |ORDER BY doc_id""".stripMargin

  /** t27: MEMORIZATION-RISK audit — the privacy-side reading of the
    * n-gram df distribution (Carlini et al.'s "memorization follows
    * duplication" inverted): a 20-token gram that occurs EXACTLY ONCE
    * in the corpus is long-tail content a model can only emit by
    * memorizing its one source — names, addresses, keys, unique
    * prose. Per doc: gram count, corpus-unique (df=1) gram count, and
    * uniqueness density in ppm (exact integer division) — the triage
    * column a privacy review sorts by; d10/t14 read the same df
    * relation for the OPPOSITE tail (df>1 duplication). Distinct grams
    * per doc first (array_distinct map-side), then one df aggregate
    * and one join back — both keyed on `xxhash64(gram)` (r17: the
    * 20-token gram string ~100-150 B never leaves the map side; the
    * exchange carries the 8-byte hash — d25/p26/p29's discipline,
    * ~15× narrower on the suite's hottest privacy exchange). The
    * oracle keeps string equality, so agreement is modulo 64-bit
    * xxhash collisions — d3's documented-and-accepted domain rule.
    * No window, no pair join — three keyed exchanges (gram-hash agg,
    * hash join-back, doc rollup), all on real keys. PlanAuditSpec
    * pins the df exchange schema: 8-byte key, no gram string.
    */
  def memorizationRisk(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // r19 opt: spread the tokenization (the 20-gram explode + hash below
    // is map-side work over the scan's couple of input splits) and pin
    // ONE gh-keyed exchange reused by the df count and the fetch join.
    val grams = Tables.spread(
      Tables.spread(
          Tables.documents(s, d).select($"doc_id", split($"text", " ").as("w")),
          $"doc_id")
        .filter(size($"w") >= 20)
        .select($"doc_id", explode(expr(
          """array_distinct(transform(sequence(1, size(w) - 19),
            |  p -> array_join(slice(w, p, 20), ' ')))""".stripMargin))
          .as("gram"))
        .select($"doc_id", xxhash64($"gram").as("gh")),
      $"gh")
    val df = grams.groupBy($"gh")
      .agg(count(lit(1)).as("dfreq"))
    grams.join(df, "gh")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"),
        count(when($"dfreq" === 1, 1)).as("n_unique"))
      .select($"doc_id", $"n_grams", $"n_unique",
        expr("n_unique * 1000000 DIV n_grams").as("uniq_ppm"))
      .orderBy($"doc_id")
  }

  val memorizationRiskSql: String =
    """WITH g AS MATERIALIZED (
      |  SELECT DISTINCT doc_id, array_to_string(w[p:p + 19], ' ') AS gram
      |  FROM (
      |    SELECT doc_id, string_split(text, ' ') AS w,
      |      CAST(len(string_split(text, ' ')) AS INTEGER) AS n
      |    FROM documents) d,
      |    UNNEST(range(1, n - 18)) AS t(p)
      |  WHERE n >= 20),
      |df AS (SELECT gram, COUNT(*) AS dfreq FROM g GROUP BY gram)
      |SELECT g.doc_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_grams,
      |  CAST(COUNT(CASE WHEN df.dfreq = 1 THEN 1 END) AS BIGINT)
      |    AS n_unique,
      |  CAST(COUNT(CASE WHEN df.dfreq = 1 THEN 1 END) * 1000000
      |    // COUNT(*) AS BIGINT) AS uniq_ppm
      |FROM g JOIN df USING (gram)
      |GROUP BY g.doc_id
      |ORDER BY g.doc_id""".stripMargin

  /** t28: WITHIN-DOC repetition signals (r17) — Gopher's quality-filter
    * family (Rae et al. 2021, Table A1: "fraction of duplicate
    * n-grams / fraction of characters in most common n-gram"), the
    * INTRA-document reading the rest of the t/d families don't cover
    * (t14/d10 look across docs; t17 at dispersion): machine-generated
    * and template text repeats itself, and these two integer-exact
    * signals are the standard cheap detectors — per doc: token count,
    * distinct tokens, duplicate-token density ppm, the most frequent
    * bigram's count, and its share of all bigrams in ppm. Shapes: two
    * doc-keyed aggregations (unigram distinct + bigram top/total) and
    * one join — every exchange keyed on doc_id, nothing corpus-wide.
    * A filter rule reads directly off the output (`dup_pm > X`), which
    * is how p25's funnel would consume it at 100 TB.
    */
  def repetitionSignals(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, d)
      .select($"doc_id", split($"text", " ").as("w"))
    val uni = toks.select($"doc_id", size($"w").cast("long").as("n_toks"),
      size(array_distinct($"w")).cast("long").as("n_distinct"))
    val big = toks.filter(size($"w") >= 2)
      .select($"doc_id", explode(expr(
        """transform(sequence(1, size(w) - 1),
          |  i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"""
          .stripMargin)).as("bg"))
      .groupBy($"doc_id", $"bg").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id").agg(max($"c").as("top_bigram_n"),
        sum($"c").as("n_bigrams"))
    uni.join(big, "doc_id")
      .select($"doc_id", $"n_toks", $"n_distinct",
        expr("(n_toks - n_distinct) * 1000000 DIV n_toks").as("dup_pm"),
        $"top_bigram_n",
        expr("top_bigram_n * 1000000 DIV n_bigrams").as("top2_share_pm"))
      .orderBy($"doc_id")
  }

  val repetitionSignalsSql: String =
    """WITH toks AS MATERIALIZED (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |uni AS (
      |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_toks,
      |    CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct
      |  FROM toks),
      |big AS (
      |  SELECT doc_id, bg, COUNT(*) AS c FROM (
      |    SELECT doc_id, w[i] || ' ' || w[i + 1] AS bg
      |    FROM toks, UNNEST(range(1, len(w))) AS t(i)
      |    WHERE len(w) >= 2)
      |  GROUP BY doc_id, bg),
      |bagg AS (
      |  SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_bigram_n,
      |    CAST(SUM(c) AS BIGINT) AS n_bigrams
      |  FROM big GROUP BY doc_id)
      |SELECT u.doc_id, u.n_toks, u.n_distinct,
      |  (u.n_toks - u.n_distinct) * 1000000 // u.n_toks AS dup_pm,
      |  b.top_bigram_n,
      |  b.top_bigram_n * 1000000 // b.n_bigrams AS top2_share_pm
      |FROM uni u JOIN bagg b USING (doc_id)
      |ORDER BY u.doc_id""".stripMargin

  def sequencePacking(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    packDocs(Tables.documents(s, d).select($"doc_id",
      ($"doc_id" % PackShards).as("shard"),
      size(split($"text", " ")).as("n")).as[graft.streaming.PackDoc])
  }

  /** The packing-fold recursion, shared by the t25 and st23 oracles (each
    * concatenates its own final SELECT below the CTE chain — concat of
    * independently-stripMargin'd parts, never interpolation into an outer
    * margin).
    */
  private[graft] val packStepsCte: String =
    s"""WITH RECURSIVE ordered AS MATERIALIZED (
       |  SELECT doc_id % $PackShards AS shard, doc_id,
       |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n,
       |    CAST(row_number() OVER (PARTITION BY doc_id % $PackShards
       |      ORDER BY doc_id) AS INTEGER) AS rk
       |  FROM documents),
       |steps(shard, rk, doc_id, n, fill, bin) AS (
       |  SELECT shard, rk, doc_id, n, n, 0 FROM ordered WHERE rk = 1
       |  UNION ALL
       |  SELECT o.shard, o.rk, o.doc_id, o.n,
       |    CASE WHEN s.fill + o.n <= $PackBudget THEN s.fill + o.n
       |         ELSE o.n END,
       |    CASE WHEN s.fill + o.n <= $PackBudget THEN s.bin
       |         ELSE s.bin + 1 END
       |  FROM steps s JOIN ordered o
       |    ON o.shard = s.shard AND o.rk = s.rk + 1),
       |bins AS (
       |  SELECT shard, bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(n) AS BIGINT) AS fill_tokens,
       |    CAST(MIN(doc_id) AS BIGINT) AS first_doc,
       |    CAST(MAX(doc_id) AS BIGINT) AS last_doc
       |  FROM steps
       |  GROUP BY shard, bin)""".stripMargin

  val sequencePackingSql: String = packStepsCte + "\n" +
    """SELECT shard, bin, n_docs, fill_tokens, first_doc, last_doc
      |FROM bins
      |ORDER BY shard, bin""".stripMargin

  /** t30 constants — mirrored LITERALLY in [[noveltyDecaySql]] (change
    * both or neither). 8-token grams; the oracle's per-doc gram index
    * bound (512) relies on the fixture's ~200-token doc ceiling (the
    * d25/p26 pinned guard). */
  val NovGram = 8

  /** t30: CORPUS NOVELTY DECAY (r18) — the redundancy curve that tells a
    * data team when a crawl stops adding information (the Lee et al.
    * dedup papers' motivating plot): consuming documents in doc_id
    * order, what fraction of each decile's 8-grams is NOVEL (first seen
    * in that document)? A healthy corpus decays slowly; a collapsed one
    * goes near-zero early — the number that decides whether the next
    * crawl increment is worth its tokens. Mechanics: distinct
    * (doc, gram) pairs, corpus-wide first occurrence = min(doc_id) per
    * gram, novel iff the min is this doc; decile = doc_id·10 DIV
    * (max_id+1) (broadcast 1-row max). Scale: ONE corpus scan, ONE
    * exchange keyed on xxhash64(gram) — the 8-byte key discipline
    * (t27/d25); equality is modulo 64-bit collisions, doc'd + accepted
    * (d3's contract; the oracle groups exact strings). Map-side partial
    * aggs everywhere; deciles are a 10-row frame.
    */
  def noveltyDecay(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, d)
      .select($"doc_id", split($"text", " ").as("toks"))
      .filter(size($"toks") >= NovGram)
    val hashed = toks.select($"doc_id", explode(expr(
        s"transform(sequence(0, size(toks) - $NovGram), " +
          "i -> xxhash64(concat_ws(' ', slice(toks, i + 1, " +
          s"$NovGram))))")).as("gh"))
      .distinct()
    val firsts = hashed.groupBy($"gh").agg(min($"doc_id").as("first_doc"))
    val perDoc = hashed.join(firsts, "gh")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"),
        count(when($"first_doc" === $"doc_id", 1)).as("n_novel"))
    val mx = Tables.documents(s, d).agg(max($"doc_id").as("mxid"))
    perDoc.crossJoin(broadcast(mx))
      .select(expr("doc_id * 10 DIV (mxid + 1)").as("decile"),
        $"n_grams", $"n_novel")
      .groupBy($"decile")
      .agg(count(lit(1)).as("n_docs"), sum($"n_grams").as("n_grams"),
        sum($"n_novel").as("n_novel"))
      .select($"decile", $"n_docs", $"n_grams", $"n_novel",
        expr("n_novel * 1000000 DIV n_grams").as("novelty_ppm"))
      .orderBy($"decile")
  }

  val noveltyDecaySql: String =
    """WITH toks AS MATERIALIZED (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |  WHERE len(string_split(text, ' ')) >= 8),
      |grams AS MATERIALIZED (
      |  SELECT DISTINCT doc_id,
      |    array_to_string(toks[CAST(i + 1 AS INTEGER):
      |      CAST(i + 8 AS INTEGER)], ' ') AS gram
      |  FROM toks, (SELECT unnest(range(512)) AS i) ix
      |  WHERE i + 8 <= len(toks)),
      |firsts AS MATERIALIZED (
      |  SELECT gram, MIN(doc_id) AS first_doc FROM grams GROUP BY gram),
      |perdoc AS (
      |  SELECT g.doc_id, COUNT(*) AS n_grams,
      |    SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
      |      AS n_novel
      |  FROM grams g JOIN firsts f USING (gram)
      |  GROUP BY g.doc_id),
      |mx AS (SELECT MAX(doc_id) AS mxid FROM documents)
      |SELECT doc_id * 10 // (mxid + 1) AS decile,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_grams) AS BIGINT) AS n_grams,
      |  CAST(SUM(n_novel) AS BIGINT) AS n_novel,
      |  CAST(SUM(n_novel) * 1000000 // SUM(n_grams) AS BIGINT)
      |    AS novelty_ppm
      |FROM perdoc CROSS JOIN mx
      |GROUP BY decile
      |ORDER BY decile""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t30_novelty_decay" -> (noveltyDecay _),
    "t29_packing_purity" -> (packingPurity _),
    "t28_repetition_signals" -> (repetitionSignals _),
    "t27_memorization_risk" -> (memorizationRisk _),
    "t26_fim_transform" -> (fimTransform _),
    "t25_sequence_packing" -> (sequencePacking _),
    "t24_token_fertility" -> (tokenFertility _),
    "t23_perplexity_split" -> (perplexitySplit _),
    "t22_bpe_encode" -> (bpeEncode _),
    "t21_bpe_merges" -> (bpeMerges _),
    "t20_bigram_surprisal" -> (bigramSurprisal _),
    "t19_kl_drift"        -> (klDrift _),
    "t18_zipf_fit"        -> (zipfFit _),
    "t17_burstiness"      -> (burstiness _),
    "t16_lang_confusion"  -> (langConfusion _),
    "t15_heaps_law"       -> (heapsLaw _),
    "t14_ngram_novelty"   -> (ngramNovelty _),
    "t13_rake_keyphrases" -> (rakeKeyphrases _),
    "t12_lexical_diversity" -> (lexicalDiversity _),
    "t10_bm25"        -> (bm25 _),
    "t9_bpe_pairs"    -> (bpePairs _),
    "t11_collocations" -> (collocations _),
    "t8_repetition"   -> (repetition _),
    "t7_surprisal"    -> (surprisal _),
    "t1_langid"       -> (langId _),
    "t2_quality"      -> (quality _),
    "t3_token_counts" -> (tokenCounts _),
    "t4_fingerprint"  -> (fingerprint _),
    "t5_term_stats"   -> (termStats _),
    "t6_pii_scrub"    -> (piiScrub _))

  val oracle: Map[String, String] = Map(
    "t29_packing_purity" -> packingPuritySql,
    "t30_novelty_decay" -> noveltyDecaySql,
    "t28_repetition_signals" -> repetitionSignalsSql,
    "t27_memorization_risk" -> memorizationRiskSql,
    "t26_fim_transform" -> fimTransformSql,
    "t25_sequence_packing" -> sequencePackingSql,
    "t24_token_fertility" -> tokenFertilitySql,
    "t23_perplexity_split" -> perplexitySplitSql,
    "t22_bpe_encode" -> bpeEncodeSql,
    "t21_bpe_merges" -> bpeMergesSql,
    "t20_bigram_surprisal" -> bigramSurprisalSql,
    "t19_kl_drift"        -> klDriftSql,
    "t18_zipf_fit"        -> zipfFitSql,
    "t17_burstiness"      -> burstinessSql,
    "t16_lang_confusion"  -> langConfusionSql,
    "t15_heaps_law"       -> heapsLawSql,
    "t14_ngram_novelty"   -> ngramNoveltySql,
    "t13_rake_keyphrases" -> rakeKeyphrasesSql,
    "t12_lexical_diversity" -> lexicalDiversitySql,
    "t10_bm25"        -> bm25Sql,
    "t8_repetition"   -> repetitionSql,
    "t7_surprisal"    -> surprisalSql,
    "t1_langid"       -> langIdSql,
    "t2_quality"      -> qualitySql,
    "t3_token_counts" -> tokenCountsSql,
    "t4_fingerprint"  -> fingerprintSql,
    "t5_term_stats"   -> termStatsSql,
    "t6_pii_scrub"    -> piiScrubSql,
    "t9_bpe_pairs"    -> bpePairsSql,
    "t11_collocations" -> collocationsSql)
}
