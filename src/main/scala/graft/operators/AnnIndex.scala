package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted ANN indexes: the embeddings corpus written ONCE with a coarse
  * search key as a parquet PARTITION column, so a similarity lookup prunes
  * at the file-listing level (PartitionFilters in the scan — files outside
  * the probed buckets are never opened). Two index families:
  *
  *   - sign-LSH ([[locate]]): random-hyperplane signature buckets (s2
  *     single-bucket, s3 multi-probe);
  *   - IVF ([[locateIvf]]): nearest-centroid cells (s4, top-2-cell probes).
  *
  * Layout notes:
  *   - partition values carry a letter prefix (`s<bits>` / `c<cid>`): a raw
  *     digit string would be type-inferred by partition discovery,
  *     corrupting both pruning and emitted values;
  *   - the true `sig` string stays a DATA column so query output is
  *     byte-identical to the unindexed form (same oracle);
  *   - indexes are content-addressed by source dir under java.io.tmpdir
  *     and built at most once. Publication reuses the repo's own
  *     stage-then-publish commit protocol ([[graft.kv.CommitMarker]], the
  *     analogue of the reference's GCS DoesNotExist-precondition lock,
  *     server.go:670-702): every builder writes into a writer-UNIQUE data
  *     dir (never renamed — safe on object stores, where rename is a
  *     copy), then CAS-creates a commit marker whose CONTENT names the
  *     winning data dir. Losers' publish throws, they delete their orphan
  *     build and adopt the marker's pointer. A builder that crashes
  *     mid-create leaves a zero-length husk that the NEXT builder reclaims
  *     through the marker protocol — no wedge, no manual delete (the old
  *     `.claim` + rename scheme wedged all readers for 120 s when a
  *     claimant crashed, and rename is not atomic on object stores). The
  *     fixtures are immutable (TESTDATA.md), so one generation suffices
  *     and no invalidation is needed.
  */
object AnnIndex {

  /** Build the sign-LSH index for `d`'s embeddings table at `out`. */
  def build(s: SparkSession, d: String, out: String): Unit =
    buildFiltered(s, d, out, lit(true))

  /** Sign-LSH index build over a predicate-selected slice of the corpus —
    * the shared path for the full build and the incremental delta
    * ([[locateIncremental]]): same signature scheme, same layout, so a
    * reader unions generations without caring which build wrote them.
    */
  def buildFiltered(
      s: SparkSession, d: String, out: String,
      pred: org.apache.spark.sql.Column): Unit = {
    import s.implicits._
    // One signature computation feeds both the data write and the idmap
    // sidecar (writeIdMapFrom) — the sidecar is NOT a read-back of the
    // 256 just-written bucket dirs (per-dir listing + footer reads cost
    // more than the 2-column frame it reproduces).
    val signed = Tables.embeddings(s, d)
      .filter(pred)
      .withColumn("sig", Similarity.sigCol($"embedding"))
      .withColumn("sigp", concat(lit("s"), $"sig"))
      .persist()
    try {
      signed
        .repartition($"sigp")
        .write.partitionBy("sigp").mode("overwrite").parquet(out)
      writeIdMapFrom(signed.select($"vec_id", $"sigp"), out)
    } finally signed.unpersist()
  }

  /** `vec_id -> sigp` reverse-lookup sidecar, written alongside every
    * insert generation (r10 verdict #7): [[delete]] must find the doomed
    * ids' buckets, and without a sidecar that is a full-index semi-join —
    * corpus-proportional for a takedown batch of ten ids. The sidecar is
    * the two narrow columns only, hash-partitioned by `vec_id` into
    * [[IdMapBuckets]] dirs, so a delete reads just the buckets its ids
    * hash into (literal partition filter) — cost scales with the delete
    * set, not the corpus. The `_` prefix hides it from the data scan like
    * `_centroids`.
    */
  private val IdMapSidecar = "_idmap"
  private[graft] val IdMapBuckets = 64L

  private def idMapBucket(c: org.apache.spark.sql.Column) =
    pmod(xxhash64(c), lit(IdMapBuckets))

  /** Derive the sidecar from the just-written data dir: a column-pruned
    * scan of (`vec_id`, `sigp`) — no recompute of signatures. `private[graft]`
    * so every OTHER site that creates an insert generation (st14's streaming
    * ingest) writes it too — delete() depends on the sidecar existing for
    * every generation.
    */
  private[graft] def writeIdMap(s: SparkSession, dataDir: String): Unit =
    writeIdMapFrom(
      s.read.parquet(dataDir).select(col("vec_id"), col("sigp")), dataDir)

  /** Sidecar write when the (`vec_id`, `sigp`) frame is already in hand
    * (recluster's cached chain resolution) — skips the read-back of the
    * just-written bucket dirs; content is identical by construction. */
  private[graft] def writeIdMapFrom(
      pairs: DataFrame, dataDir: String): Unit =
    graft.Tables.spread(
        pairs.withColumn("idb", idMapBucket(col("vec_id"))), col("idb"))
      .write.partitionBy("idb").mode("overwrite")
      .parquet(s"$dataDir/$IdMapSidecar")

  /** Number of IVF centroids (k of the trained k-means). */
  val IvfCentroids = 16

  /** Build the IVF index with TRAINED centroids: one integer-quantized
    * Lloyd round ([[KMeans.train]] — broadcast centroids, one
    * tree-aggregated pass, no shuffle) initialised from the first-k
    * vectors. The integer formulation is what makes training
    * oracle-replayable: a float k-means mean depends on double reduction
    * order, but floor-divided integer sums are order-free, so the DuckDB
    * oracle re-derives the exact centroids ([[KMeans.lloydCtes]]) and
    * s4/s6 stay bit-exact hash checks. Each vector is then assigned to its
    * nearest trained centroid by exact integer squared-L2 (ties to the
    * lowest cid) and the corpus is written partitioned by cell; the
    * centroids themselves are persisted under `_centroids` inside the
    * index (the `_` prefix hides them from the data scan, like
    * `_spark_metadata`), so lookups read 16 rows instead of retraining.
    */
  def buildIvf(s: SparkSession, d: String, out: String): Unit = {
    import s.implicits._
    val cents = KMeans.train(s, KMeans.quantized(s, d), IvfCentroids)
    val centsDf = cents.toSeq
      .map { case (cid, cq) => (cid, cq.toSeq) }.toDF("cid", "cq")
    val e = Tables.embeddings(s, d)
      .withColumn("q", expr(
        s"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * ${KMeans.QScale}.0) AS BIGINT))"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"vec_id").orderBy($"cdist".asc, $"cid".asc)
    e.crossJoin(broadcast(centsDf))
      .withColumn("cdist", expr(
        """aggregate(zip_with(q, cq, (x, y) -> (x - y) * (x - y)),
          |  CAST(0 AS BIGINT), (acc, v) -> acc + v)""".stripMargin))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"vec_id", $"label", $"embedding",
        concat(lit("c"), $"cid").as("cellp"))
      .repartition($"cellp")
      .write.partitionBy("cellp").mode("overwrite").parquet(out)
    centsDf.coalesce(1).write.mode("overwrite").parquet(s"$out/_centroids")
  }

  /** Content-addressed index root under java.io.tmpdir for fixture `d`.
    * `private[graft]`: [[graft.streaming.DedupIndex]] keys its appendable
    * generations off the same scheme.
    */
  private[graft] def indexBase(prefix: String, d: String): org.apache.hadoop.fs.Path = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
    new org.apache.hadoop.fs.Path(
      new java.io.File(System.getProperty("java.io.tmpdir")).toURI.toString,
      s"$prefix-$key-v2")
  }

  /** Build-once, marker-arbitrated index location (see the class note).
    * Optimistic: concurrent cold-start builders may each build once; the
    * marker CAS picks one winner, losers delete their orphan and adopt the
    * winner's pointer — the duplicate work is bounded to the cold-start
    * race, and no reader ever waits on a crashed builder.
    */
  private[graft] def locateIndex(
      s: SparkSession, d: String, prefix: String)(
      build: (SparkSession, String, String) => Unit): String =
    ensureGeneration(s, indexBase(prefix, d), 1L)(out => build(s, d, out))

  /** All committed generations under `base`, ascending. Generations are
    * dense from 1 (ensureGeneration publishes N+1 only after N exists), so
    * the walk stops at the first gap.
    */
  private[graft] def committedGenerations(
      s: SparkSession,
      base: org.apache.hadoop.fs.Path): Seq[(Long, String)] = {
    val fs = base.getFileSystem(s.sessionState.newHadoopConf())
    val commits = new org.apache.hadoop.fs.Path(base, "commits")
    Iterator.from(1)
      .map(g =>
        (g.toLong, graft.kv.CommitMarker.bodyAt(fs, commits, g.toLong)))
      .takeWhile(_._2.isDefined)
      .map { case (g, dir) => (g, dir.get) }
      .toSeq
  }

  /** Commit-or-adopt one index GENERATION under `base` — the core of the
    * stage-then-publish protocol, shared by the build-once indexes
    * (generation 1 only) and the incrementally-maintained one
    * ([[locateIncremental]], where each appended delta is the next
    * generation's marker). Returns the committed data dir for `gen`,
    * building (and racing to publish) if absent.
    */
  private[graft] def ensureGeneration(
      s: SparkSession, base: org.apache.hadoop.fs.Path, gen: Long)(
      build: String => Unit): String = {
    import org.apache.hadoop.fs.Path
    val fs = base.getFileSystem(s.sessionState.newHadoopConf())
    val commits = new Path(base, "commits")
    val marker = new Path(commits, gen.toString)
    def committed: Option[String] =
      graft.kv.CommitMarker.bodyAt(fs, commits, gen)
    committed.getOrElse {
      val staging = new Path(base, s"data-${java.util.UUID.randomUUID()}")
      build(staging.toString)
      var result: String = null
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (result == null) {
        try {
          graft.kv.CommitMarker.publish(fs, marker, staging.toString)
          result = staging.toString
        } catch {
          case _: graft.kv.PotTable.CommitIncomplete =>
            // our own write/close failed and the husk was cleaned: retry
            if (System.nanoTime() > deadline)
              throw new IllegalStateException(
                s"index marker $marker: repeated incomplete commits")
          case _: graft.kv.PotTable.CommitConflict =>
            committed match {
              case Some(winner) => // adopt; our build is an orphan
                fs.delete(staging, true)
                result = winner
              case None =>
                // husk whose reclaim is in flight (or double-crash wedge,
                // which publish() keeps diagnosing until repair())
                if (System.nanoTime() > deadline)
                  throw new IllegalStateException(
                    s"index marker $marker never committed; " +
                      "run CommitMarker.repair on its commits dir if a " +
                      "reclaimer crashed")
                Thread.sleep(100L)
            }
        }
      }
      result
    }
  }

  /** Publish a NON-REPRODUCIBLE delta as the next free generation — the
    * production append protocol. [[ensureGeneration]]'s loser behavior
    * (delete staging, adopt the winner) is only correct when the content
    * is DETERMINISTIC for its generation number (cold-start index builds,
    * the fixture's fixed base/delta split, a fold retried later): two
    * racers there stage the same rows, so either's dir serves. An append's
    * rows exist nowhere else — losing the marker CAS to a concurrent
    * append or [[compact]] fold must never drop them. So: stage once,
    * then CAS at successive generation numbers until one marker is won;
    * the staged dir is never deleted on a lost race, only re-offered at
    * the next number.
    *
    * `tag`, when given, makes the append IDEMPOTENT per tag: the tag is
    * embedded in the staged dir name (`data-&lt;tag&gt;-&lt;uuid&gt;`, so no
    * marker-format change — marker bodies stay bare dir paths every
    * reader already parses), and a committed generation carrying the tag
    * is adopted instead of re-staging. This is the exactly-once seam for
    * checkpoint-replayed micro-batches (st14: tag = `b&lt;batchId&gt;`) —
    * without it a replay after a crash-between-commit-and-checkpoint
    * appends the same vectors twice. The tag survives until its
    * generation is folded by [[compact]]; stream replay happens at
    * restart, before any maintenance compaction, which is the window
    * that matters.
    */
  def append(
      s: SparkSession, base: org.apache.hadoop.fs.Path,
      tag: Option[String] = None)(
      build: String => Unit): (Long, String) = {
    import org.apache.hadoop.fs.Path
    val adopted = tag.flatMap(t =>
      committedGenerations(s, base).find(_._2.contains(s"data-$t-")))
    if (adopted.isDefined) return adopted.get
    val fs = base.getFileSystem(s.sessionState.newHadoopConf())
    val commits = new Path(base, "commits")
    val staging = new Path(base,
      s"data-${tag.fold("")(_ + "-")}${java.util.UUID.randomUUID()}")
    // target generation read BEFORE the (long) build: any commit that
    // lands while we build just costs one conflict-and-advance below
    var gen = committedGenerations(s, base).lastOption.map(_._1).getOrElse(0L) + 1
    build(staging.toString)
    val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    while (true) {
      val marker = new Path(commits, gen.toString)
      try {
        graft.kv.CommitMarker.publish(fs, marker, staging.toString)
        return (gen, staging.toString)
      } catch {
        case _: graft.kv.PotTable.CommitIncomplete =>
          // our own write/close failed and the husk was cleaned: retry here
          if (System.nanoTime() > deadline)
            throw new IllegalStateException(
              s"append marker $marker: repeated incomplete commits")
        case _: graft.kv.PotTable.CommitConflict =>
          graft.kv.CommitMarker.bodyAt(fs, commits, gen) match {
            case Some(_) => gen += 1 // someone else's commit; ours is next
            case None =>             // husk whose reclaim is in flight
              if (System.nanoTime() > deadline)
                throw new IllegalStateException(
                  s"append marker $marker never committed; " +
                    "run CommitMarker.repair on its commits dir if a " +
                    "reclaimer crashed")
              Thread.sleep(100L)
          }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Sign-LSH index location for fixture dir `d`, building on first use. */
  def locate(s: SparkSession, d: String): String =
    locateIndex(s, d, "graft-ann")(build)

  /** IVF index location for fixture dir `d`, building on first use. The
    * prefix names the index FORMAT (trained centroids + `_centroids`
    * sidecar) — bumped from `graft-ivf` so a cached first-16 index from an
    * older build is never adopted for the new semantics.
    */
  def locateIvf(s: SparkSession, d: String): String =
    locateIndex(s, d, "graft-ivft")(buildIvf)

  /** Read the (possibly just-built) sign-LSH index: embeddings + `sig`
    * data column + `sigp` partition column.
    */
  def read(s: SparkSession, d: String): DataFrame =
    s.read.parquet(locate(s, d))

  def readIvf(s: SparkSession, d: String): DataFrame =
    s.read.parquet(locateIvf(s, d))

  /** The incremental-maintenance split for [[locateIncremental]]: the
    * fixture plays a corpus whose `vec_id % 5 == 3` rows arrived AFTER the
    * base index was built (the daily embedding-ingest shape). Mirrored in
    * the s11 oracle's `gen` derivation.
    */
  private[graft] val IncrDeltaMod = 5L
  private[graft] val IncrDeltaRem = 3L

  /** s11 backing store: a sign-LSH index maintained INCREMENTALLY — the
    * 100 TB operational answer to "new embeddings arrived; don't rebuild
    * the index". Generation 1 is the base corpus; each appended batch is
    * staged as its own partitioned data dir and published as the NEXT
    * commit marker (same [[graft.kv.CommitMarker]] CAS as the build-once
    * indexes, so appends are object-store-atomic, race-safe and
    * husk-reclaiming; a crashed appender never wedges readers). Readers
    * union every committed generation — each generation is itself
    * partitioned by `sigp`, so partition pruning holds per generation and
    * a lookup still opens only the probed buckets' files in EVERY
    * generation. Compaction (folding deltas back into a fat generation) is
    * the same stage-then-publish move with a bigger build.
    */
  def locateIncremental(s: SparkSession, d: String): Seq[(Int, String)] = {
    import s.implicits._
    val base = indexBase("graft-annincr", d)
    val g1 = ensureGeneration(s, base, 1L)(out =>
      buildFiltered(s, d, out, $"vec_id" % IncrDeltaMod =!= IncrDeltaRem))
    val g2 = ensureGeneration(s, base, 2L)(out =>
      buildFiltered(s, d, out, $"vec_id" % IncrDeltaMod === IncrDeltaRem))
    Seq((1, g1), (2, g2))
  }

  /** Read the union of the VISIBLE generations, tagging each row with the
    * generation that brought it — the provenance a production lookup
    * reports ("hit came from yesterday's delta"). Fold-aware: after a
    * [[compact]]+[[vacuumFolded]] cycle the walk starts at the latest fold
    * (whose rows carry their ORIGINAL `gen` as a data column, so
    * provenance survives compaction) instead of hard-reading the vacuumed
    * generation-1/2 dirs.
    */
  def readIncremental(s: SparkSession, d: String): DataFrame = {
    locateIncremental(s, d) // fixture contract: base + delta exist
    readCommitted(s, indexBase("graft-annincr", d))
  }

  /** Sidecar file marking a generation as a FOLD: its data dir contains
    * the union of every generation visible when it was built, so readers
    * start at the latest fold and union only what came after. The `_`
    * prefix hides it from the parquet scan like `_centroids`.
    */
  private val FoldsSidecar = "_folds"

  private def isFold(
      fs: org.apache.hadoop.fs.FileSystem, dir: String): Boolean =
    fs.exists(new org.apache.hadoop.fs.Path(dir, FoldsSidecar))

  /** The chain's head generation iff it is already a FOLD carrying an IVF
    * view (`_centroids`) — the cheap head check a maintenance cron runs
    * BEFORE paying [[recluster]]'s train-and-compare pass: a head that is
    * itself a fresh fold cannot have drifted from itself. None when the
    * head is a plain insert/tombstone generation (or the chain is empty).
    */
  private[graft] def headFold(
      s: SparkSession, base: org.apache.hadoop.fs.Path): Option[String] = {
    val fs = base.getFileSystem(s.sessionState.newHadoopConf())
    committedGenerations(s, base).lastOption.map(_._2).filter(dir =>
      isFold(fs, dir) &&
        fs.exists(new org.apache.hadoop.fs.Path(dir, CentroidsSidecar)))
  }

  /** Sidecar marking a generation as TOMBSTONES: its rows name DELETIONS
    * (`vec_id`, `sigp`), not inserts — the takedown/right-to-erasure
    * operation a production index must serve without rewriting 100 TB.
    * Tombstones are partitioned by the SAME `sigp` bucket scheme as the
    * data, so a pruned lookup also prunes the tombstone scan (the equi-join
    * on `sigp` lets Catalyst infer the probe filter onto the tombstone
    * side); deletions become PHYSICAL at the next [[compact]], which
    * resolves them and writes only surviving rows.
    */
  private val TombstonesSidecar = "_tombstones"

  private def isTombstone(
      fs: org.apache.hadoop.fs.FileSystem, dir: String): Boolean =
    fs.exists(new org.apache.hadoop.fs.Path(dir, TombstonesSidecar))

  /** Tombstone rows are schema-fixed; reading with an explicit schema keeps
    * an empty tombstone dir (delete of absent ids) readable.
    */
  private val TombstoneSchema = "vec_id LONG, sigp STRING"

  /** The generations a reader must union: everything from the latest fold
    * (inclusive) on — earlier generations are subsumed by the fold.
    */
  private def visibleGenerations(
      fs: org.apache.hadoop.fs.FileSystem,
      gens: Seq[(Long, String)]): Seq[(Long, String)] =
    gens.filter { case (_, dir) => isFold(fs, dir) }
      .map(_._1).maxOption match {
      case Some(f) => gens.filter(_._1 >= f)
      case None    => gens
    }

  /** A generation's rows with `gen` provenance: folds already carry the
    * column (their rows keep the generation that ORIGINALLY ingested
    * them); plain generations get their own number attached.
    */
  private def withGen(df: DataFrame, g: Long): DataFrame =
    if (df.columns.contains("gen")) df
    else df.withColumn("gen", lit(g.toInt))

  /** Union read of the visible generations under an arbitrary index base
    * (the generic form of [[readIncremental]], fold-aware; used by the
    * compaction equivalence checks). Every row carries `gen` — its
    * original ingest generation, preserved through folds. Tombstone
    * generations are RESOLVED, not unioned: a row is visible unless a
    * tombstone for its (`vec_id`, `sigp`) exists at a LATER generation
    * than the row's own — so a re-insert after a delete survives it.
    */
  private[graft] def readCommitted(
      s: SparkSession, base: org.apache.hadoop.fs.Path): DataFrame = {
    val fs = base.getFileSystem(s.sessionState.newHadoopConf())
    resolveVisible(s, fs, visibleGenerations(fs, committedGenerations(s, base)))
  }

  /** The survivors of `visible`: insert generations unioned with `gen`
    * provenance, minus rows tombstoned at a later generation. The join is
    * keyed on (`vec_id`, `sigp`): `vec_id` for identity, `sigp` so a
    * reader's bucket-probe filter propagates to the tombstone scan
    * through the equi-join constraint (pruned lookups read only the
    * probed buckets' tombstones). One aggregation over the tombstone list
    * (max generation per key) plus one keyed join — at 100 TB the cost
    * scales with the tombstone count, not the corpus.
    */
  private def resolveVisible(
      s: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      visible: Seq[(Long, String)]): DataFrame = {
    import org.apache.spark.sql.functions.{col, max}
    val (tombs, inserts) =
      visible.partition { case (_, dir) => isTombstone(fs, dir) }
    require(inserts.nonEmpty, "no insert generations among the visible set")
    val rows = inserts
      .map { case (g, dir) => withGen(s.read.parquet(dir), g) }
      .reduce(_ unionByName _)
    if (tombs.isEmpty) rows
    else {
      val latest = tombs
        .map { case (g, dir) =>
          s.read.schema(TombstoneSchema).parquet(dir)
            .select(col("vec_id"), col("sigp"),
              org.apache.spark.sql.functions.lit(g).as("tgen"))
        }
        .reduce(_ union _)
        .groupBy(col("vec_id"), col("sigp")).agg(max(col("tgen")).as("tgen"))
      rows.join(latest, Seq("vec_id", "sigp"), "left")
        .filter(col("tgen").isNull || col("gen") > col("tgen"))
        .drop("tgen")
    }
  }

  /** COMPACTION for the incrementally-maintained index: fold the visible
    * generations into one partitioned data dir and publish the fold as the
    * NEXT generation through the same [[graft.kv.CommitMarker]]
    * stage-then-publish CAS as every other commit — the object-store
    * hygiene a 100 TB index needs once daily deltas accumulate (each
    * lookup otherwise pays one file-listing per generation per probed
    * bucket forever). Properties:
    *
    *   - readers are never torn: the fold is invisible until its marker
    *     commits, and every pre-fold generation stays intact underneath
    *     (vacuum is a separate, explicitly-invoked step);
    *   - lookup-equivalent: the fold's rows are exactly the union of what
    *     it folded, partitioned by the same `sigp` scheme, so partition
    *     pruning and results are unchanged (AnnIndexSpec asserts
    *     row-identity before/after);
    *   - race-safe BOTH ways: if a concurrent [[append]] wins the
    *     next-generation CAS, the staged fold is deleted and their delta
    *     is adopted — this compact() run becomes a no-op (returns None)
    *     and the caller retries later, which is the right loser behavior
    *     (folding is maintenance; appends are data). In the opposite
    *     direction an [[append]] that loses this generation's CAS to the
    *     fold re-offers its staged delta at the next number — appended
    *     rows are never dropped (AnnIndexSpec pins the interleave).
    */
  def compact(
      s: SparkSession, base: org.apache.hadoop.fs.Path): Option[String] = {
    val fs = base.getFileSystem(s.sessionState.newHadoopConf())
    val gens = committedGenerations(s, base)
    require(gens.nonEmpty, s"no committed generations under $base")
    val top = gens.last._1
    val visible = visibleGenerations(fs, gens)
    if (visible.size <= 1) return None // single (or already-folded) gen
    val dir = ensureGeneration(s, base, top + 1) { out =>
      // tag each folded row with its ORIGINAL generation (folds keep the
      // column they already carry) so provenance survives compaction;
      // tombstoned rows are resolved away here — the fold is where a
      // deletion stops being a read-time anti-join and becomes physical
      graft.Tables.spread(resolveVisible(s, fs, visible), col("sigp"))
        .write.partitionBy("sigp").mode("overwrite").parquet(out)
      val f = fs.create(
        new org.apache.hadoop.fs.Path(out, FoldsSidecar), false)
      try f.write(top.toString.getBytes("UTF-8")) finally f.close()
      writeIdMap(s, out) // the fold is an insert generation: keep it mapped
    }
    if (isFold(fs, dir)) Some(dir) else None // lost the CAS to an append
  }

  /** IVF-view sidecars written by [[recluster]] inside a fold
    * generation: the trained centroids (16 rows) and the per-vector cell
    * assignment, `cellp`-partitioned so a probe's literal cell filter
    * prunes the assignment scan like the data scan. `_` prefix hides
    * both from the data read, like `_idmap`/`_folds`. */
  private[graft] val CentroidsSidecar = "_centroids"
  private[graft] val CellsSidecar = "_cells"

  /** MAINTENANCE: re-cluster the index's IVF view when the data has
    * drifted (r13 verdict #7 — s24 measures centroid shift; this ACTS on
    * it). The live rows (tombstones resolved away) train fresh centroids
    * — [[KMeans.train]]'s one integer Lloyd round, deterministic and
    * oracle-replayable — and the drift metric is the max over fresh
    * centroids of the squared-L2 distance to the NEAREST previous
    * centroid (previous = the `_centroids` sidecar of the newest
    * generation carrying one; no reference yet = bootstrap, recluster
    * unconditionally). Below `shiftThreshold`: no-op, returns None — the
    * gate that keeps a nightly maintenance cron from rewriting a quiet
    * index.
    *
    * Over the threshold, the rebuild publishes as a FOLD generation
    * through [[compact]]'s machinery (ensureGeneration CAS; a lost race
    * to a concurrent append adopts the append and returns None — data
    * beats maintenance, retry later): every live vector is preserved,
    * tombstoned rows become physical deletions, and the generation dir
    * carries the refreshed `_centroids` + `_cells` sidecars. Readers are
    * never torn; the sig-bucket layout (and so every existing lookup) is
    * unchanged — the IVF view rides alongside.
    *
    * Contract: the live set must still contain the first
    * [[IvfCentroids]] vec_ids (the deterministic Lloyd init — same rule
    * as [[buildIvf]]/the s9 oracle).
    */
  def recluster(
      s: SparkSession, base: org.apache.hadoop.fs.Path,
      shiftThreshold: Long): Option[String] = {
    import s.implicits._
    val fs = base.getFileSystem(s.sessionState.newHadoopConf())
    val gens = committedGenerations(s, base)
    require(gens.nonEmpty, s"no committed generations under $base")
    val top = gens.last._1
    val visible = visibleGenerations(fs, gens)
    // ONE chain resolution for the whole rebuild: the same cached frame
    // feeds the Lloyd pass, the fold write, the idmap sidecar, and the
    // cell assignment (four otherwise-independent full re-resolutions of
    // the multi-generation union + tombstone anti-join).
    val live = resolveVisible(s, fs, visible).persist()
    try {
    val q = live.select($"vec_id", expr(
        s"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * ${KMeans.QScale}.0) AS BIGINT))")
        .as("q"))
      .as[(Long, Seq[Long])].rdd.map { case (id, v) => (id, v.toArray) }
    val fresh = KMeans.train(s, q, IvfCentroids)
    def l2(a: Array[Long], b: Array[Long]): Long = {
      var acc = 0L; var i = 0
      while (i < a.length) { val t = a(i) - b(i); acc += t * t; i += 1 }
      acc
    }
    val prev = gens.reverse
      .map(g => new org.apache.hadoop.fs.Path(g._2, CentroidsSidecar))
      .find(fs.exists)
      .map(p => s.read.parquet(p.toString).collect()
        .map(r => (r.getInt(0), r.getSeq[Long](1).toArray)))
    val shift = prev match {
      case None    => Long.MaxValue // bootstrap: no reference to hold to
      case Some(p) => fresh.map(fc => p.map(pc => l2(fc._2, pc._2)).min).max
    }
    if (shift <= shiftThreshold) return None
    val centsDf = fresh.toSeq.map { case (cid, cq) => (cid, cq.toSeq) }
      .toDF("cid", "cq")
    val dir = ensureGeneration(s, base, top + 1) { out =>
      graft.Tables.spread(live, col("sigp"))
        .write.partitionBy("sigp").mode("overwrite").parquet(out)
      val f = fs.create(
        new org.apache.hadoop.fs.Path(out, FoldsSidecar), false)
      try f.write(top.toString.getBytes("UTF-8")) finally f.close()
      // the fold is an insert generation: keep it mapped — from the same
      // cached resolution (the fold's content BY CONSTRUCTION), not a
      // read-back of the 256 just-written bucket dirs
      writeIdMapFrom(live.select(col("vec_id"), col("sigp")), out)
      centsDf.coalesce(1).write.mode("overwrite")
        .parquet(s"$out/$CentroidsSidecar")
      // cell assignment: nearest fresh centroid by exact integer
      // squared-L2, ties to the lowest cid — buildIvf's rule, so the
      // s9/s21 oracle replay applies verbatim. The 16 centroids ride as
      // an in-row LITERAL and array_min's lexicographic struct order IS
      // the (dist, cid) tie rule — no crossJoin, no per-vector window,
      // no extra exchange (the r14 fix for a 16x row blow-up + corpus-
      // keyed window that dominated recluster's cost).
      val centsLit = typedlit(fresh.toSeq.sortBy(_._1)
        .map { case (cid, cq) => (cq.toSeq, cid) })
      live
        .withColumn("q", expr(
          s"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * ${KMeans.QScale}.0) AS BIGINT))"))
        .withColumn("cents", centsLit)
        .withColumn("best", array_min(expr(
          """transform(cents, c -> struct(
            |  aggregate(zip_with(q, c._1, (x, y) -> (x - y) * (x - y)),
            |    CAST(0 AS BIGINT), (acc, v) -> acc + v) AS cdist,
            |  c._2 AS cid))""".stripMargin)))
        .select($"vec_id", concat(lit("c"), $"best.cid").as("cellp"))
        .repartition($"cellp")
        .write.partitionBy("cellp").mode("overwrite")
        .parquet(s"$out/$CellsSidecar")
    }
    val ok = isFold(fs, dir) && fs.exists(
      new org.apache.hadoop.fs.Path(dir, CentroidsSidecar))
    if (ok) Some(dir) else None // lost the CAS to an append
    } finally live.unpersist()
  }

  /** Publish a TOMBSTONE generation deleting `ids` (a `vec_id` column) —
    * the arbitrary-id production path, built on [[append]] (a delete
    * request exists nowhere else; losing a CAS race must re-offer it, not
    * drop it). The tombstone rows pair each doomed id with its bucket
    * (`sigp`, looked up from the `_idmap` sidecars) and are partitioned by
    * that bucket, so pruned lookups also prune the tombstone scan. Readers
    * see the delete as soon as the marker commits; the rows are physically
    * removed by the next [[compact]].
    *
    * Bucket resolution (r11): when every visible insert generation carries
    * an `_idmap` sidecar, the lookup is a union of the sidecars pruned to
    * the ≤[[IdMapBuckets]] hash buckets the delete ids fall in (literal
    * partition filter — the bucket list is a bounded driver collect, like
    * the IVF sidecar), semi-joined against the broadcast delete set. Cost
    * scales with the delete set; the corpus is never scanned. Sidecar-less
    * generations (pre-r11 indexes) fall back to the full-index semi-join.
    * The sidecar route may also tombstone a pair that is ALREADY deleted —
    * harmless: resolution compares row `gen` against the latest tombstone
    * generation, so a dead pair stays dead and a re-insert after this
    * delete still survives it.
    */
  def delete(
      s: SparkSession, base: org.apache.hadoop.fs.Path,
      ids: DataFrame): (Long, String) =
    append(s, base)(out => writeTombstones(s, deletePairs(s, base, ids), out))

  /** The (`vec_id`, `sigp`) pairs a delete of `ids` must tombstone —
    * sidecar route when every visible insert generation is mapped,
    * full-index fallback otherwise. Exposed for the spec's plan audit.
    */
  private[graft] def deletePairs(
      s: SparkSession, base: org.apache.hadoop.fs.Path,
      ids: DataFrame): DataFrame = {
    val fs = base.getFileSystem(s.sessionState.newHadoopConf())
    val inserts = visibleGenerations(fs, committedGenerations(s, base))
      .filterNot { case (_, dir) => isTombstone(fs, dir) }
    val allMapped = inserts.nonEmpty && inserts.forall { case (_, dir) =>
      fs.exists(new org.apache.hadoop.fs.Path(dir, IdMapSidecar)) }
    if (allMapped) {
      val wanted = ids.select(col("vec_id")).distinct()
      val buckets = wanted.select(idMapBucket(col("vec_id")).as("idb"))
        .distinct().collect().map(_.getLong(0)) // bounded: <= IdMapBuckets
      inserts
        .map { case (_, dir) =>
          s.read.parquet(s"$dir/$IdMapSidecar")
            .select(col("vec_id"), col("sigp"), col("idb")) }
        .reduce(_ unionByName _)
        .filter(col("idb").isin(buckets: _*))
        .join(broadcast(wanted), Seq("vec_id"), "leftsemi")
        .select(col("vec_id"), col("sigp")).distinct()
    } else {
      readCommitted(s, base)
        .join(ids, Seq("vec_id"), "leftsemi")
        .select(col("vec_id"), col("sigp")).distinct()
    }
  }

  private def writeTombstones(
      s: SparkSession, rows: DataFrame, out: String): Unit = {
    graft.Tables.spread(rows, col("sigp"))
      .write.partitionBy("sigp").mode("overwrite").parquet(out)
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(s.sessionState.newHadoopConf())
    val f = fs.create(
      new org.apache.hadoop.fs.Path(out, TombstonesSidecar), false)
    try f.write("tombstones".getBytes("UTF-8")) finally f.close()
  }

  /** The s17 fixture's deterministic delete set: every
    * `vec_id % DelMod == DelRem` row (~14% of every bucket) — mirrored
    * LITERALLY in the s17 oracle SQL (change both or neither, like the
    * d5/d3 constants).
    */
  private[graft] val DelMod = 7L
  private[graft] val DelRem = 2L

  /** s17 backing store: the full sign-LSH index as generation 1 plus a
    * tombstone generation 2 deleting the [[DelMod]] fixture set. Both
    * generations' content is a pure function of the (immutable) fixture,
    * so [[ensureGeneration]]'s adopt-on-loss is safe here; arbitrary
    * production deletes go through [[delete]] instead.
    */
  def locateWithDeletes(
      s: SparkSession, d: String): org.apache.hadoop.fs.Path = {
    import s.implicits._
    val base = indexBase("graft-anndel", d)
    ensureGeneration(s, base, 1L)(out => build(s, d, out))
    ensureGeneration(s, base, 2L) { out =>
      writeTombstones(s,
        Tables.embeddings(s, d)
          .filter($"vec_id" % DelMod === DelRem)
          .withColumn("sigp", concat(lit("s"), Similarity.sigCol($"embedding")))
          .select($"vec_id", $"sigp"), out)
    }
    base
  }

  /** Read the s17 index with its deletions resolved. */
  def readWithDeletes(s: SparkSession, d: String): DataFrame =
    readCommitted(s, locateWithDeletes(s, d))

  /** Delete the data dirs of generations subsumed by the latest fold
    * (markers are retained — history stays addressable, the dirs just
    * answer 404 like any vacuumed version). Same caveat as
    * [[graft.kv.PotTable.vacuum]]: run it after in-flight readers of the
    * old generations have drained.
    */
  def vacuumFolded(
      s: SparkSession, base: org.apache.hadoop.fs.Path): Seq[Long] = {
    val fs = base.getFileSystem(s.sessionState.newHadoopConf())
    val gens = committedGenerations(s, base)
    gens.filter { case (_, dir) => isFold(fs, dir) }
      .map(_._1).maxOption match {
      case None => Seq.empty
      case Some(f) =>
        // report only what THIS cycle reclaimed: a dir already vacuumed
        // by a previous cycle answers delete=false and is skipped
        gens.takeWhile(_._1 < f).flatMap { case (g, dir) =>
          if (fs.delete(new org.apache.hadoop.fs.Path(dir), true)) Some(g)
          else None
        }
    }
  }
}
