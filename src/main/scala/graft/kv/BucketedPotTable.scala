package graft.kv

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Bucketed pot: the 100 TB evolution of [[PotTable]].
  *
  * The reference rewrites the ENTIRE path object on every document write
  * (server.go:396-400) — write amplification proportional to table size. This
  * variant hash-buckets rows by key into `nBuckets` buckets and rewrites
  * ONLY the buckets containing updated keys: an upsert of k keys touches at
  * most k buckets regardless of table size.
  *
  * Commit protocol (stage-then-publish, same CAS as PotTable — the
  * marker mechanics, husk recovery included, live in [[CommitMarker]]):
  *   - ONE Spark job stages every touched bucket's new content under a
  *     writer-unique root `data/g<N>_<uuid>/` via a `partitionBy("_b")`
  *     write (one `_b=<i>/` child per touched bucket) — a batch touching
  *     all buckets of a large table still costs one job launch, not
  *     |buckets| serial jobs;
  *   - the commit marker `_commits/<N>` contains the manifest
  *     `bucket:stagedPath` per line; a bucket emptied by a restage gets a
  *     TOMBSTONE line `bucket:` so the overlay drops it. One more line,
  *     `schema:<json>`, holds the table schema after generation N (the
  *     previous one widened by what N staged, `_b` excluded, every field
  *     nullable as the parquet reader returns it);
  *   - a [[remove]] restages nothing: its manifest holds one
  *     `del:<bucket>:<JSON array of keys>` line per touched live bucket
  *     (the bucket from the driver-side [[BucketMeta.bucketOf]], so no
  *     Spark job runs)
  *     and the schema line;
  *   - readers resolve bucket i at generation G by overlaying manifests
  *     1..G in order — the latest entry per bucket wins and clears the
  *     bucket's pending keys, `del:` lines add to them, and the latest
  *     schema line is the table's — then open the bucket dirs with that
  *     schema, minus the union of pending keys (one `InSet`, see
  *     [[PotTable.live]]), so no schema-inference job runs and a bucket
  *     staged before a column was added reads null there. Manifests
  *     without a schema line (stores written before it was recorded) read
  *     with inference. Marker committed (non-empty) => its staged dirs are
  *     complete; a losing writer deletes only its own staging and can
  *     never clobber published data.
  *
  * Every restage ([[upsert]], [[removeWhere]], [[compact]]) reads its
  * buckets through the pending-key filter, so the buckets it republishes
  * carry no pending keys. A remove whose pending set (over all buckets)
  * would pass [[PotTable.MaxTombstones]] keys restages its touched and
  * pending buckets instead. A binary built before `del:` lines fails on
  * them (a bucket id that is not a number), loudly.
  *
  * `compact()` rewrites every live bucket at one generation (the
  * Spark-for-compaction role the north star assigns); `vacuum()` deletes
  * staged roots that no retained manifest references, skipping roots whose
  * encoded generation is ahead of the committed one (a concurrent writer's
  * in-flight staging — deleting those would publish dangling pointers).
  */
final class BucketedPotTable(
    spark: SparkSession, root: String, path: String, nBuckets: Int) {
  import spark.implicits._

  private def dir = s"$root/$path"
  /** The session's Hadoop conf, taken once per instance; each `fs` call
    * resolves through Hadoop's FileSystem cache. */
  private lazy val conf = spark.sessionState.newHadoopConf()
  private def fs: FileSystem =
    new Path(root).getFileSystem(conf)

  /** The store's ROUTING MODULUS — self-describing since r15: the stamped
    * `_meta/buckets` marker is authoritative, the constructor count
    * (<= 0 = unspecified) is validated against it on first use and a
    * mismatch fails loudly instead of silently mis-routing point reads
    * and writes. See [[BucketMeta]].
    */
  private lazy val buckets: Int = BucketMeta.resolve(
    fs, new Path(dir), Some(nBuckets).filter(_ > 0),
    storeLive = fs.exists(commits))

  /** Stamp the modulus before any mutation routes rows by it (idempotent;
    * a CAS race between same-count creators is adoption).
    */
  private def stampMeta(): Unit =
    BucketMeta.stamp(fs, new Path(dir), buckets)

  private def bucketCol = pmod(xxhash64($"key"), lit(buckets.toLong)).cast("int")

  private def commits = new Path(s"$dir/_commits")

  def generation: Long = CommitMarker.head(fs, commits)

  private def markerPath(gen: Long) = new Path(commits, gen.toString)

  private val SchemaTag = "schema:"
  import PotTable.DelTag

  /** Committed generation `gen`'s manifest (empty if absent or a husk). */
  private def manifestAt(gen: Long): BucketedPotTable.Manifest = {
    val lines = CommitMarker.bodyAt(fs, commits, gen).toSeq
      .flatMap(_.split("\n")).filter(_.nonEmpty)
    val (schema, rest) = lines.partition(_.startsWith(SchemaTag))
    val (dels, entries) = rest.partition(_.startsWith(DelTag))
    def split(line: String): (Int, String) = {
      val i = line.indexOf(':')
      line.take(i).toInt -> line.drop(i + 1)
    }
    BucketedPotTable.Manifest(entries.map(split).toMap,
      dels.map(l => split(l.stripPrefix(DelTag)))
        .groupMapReduce(_._1)(e => PotTable.keysOf(e._2))(_ ++ _),
      schema.lastOption.map(_.stripPrefix(SchemaTag)))
  }

  /** The table as of generation `gen`: its live bucket dirs, the keys
    * tombstoned in each since its dir was staged, and its schema. */
  private final class View(val dirs: Map[Int, String],
      val pending: Map[Int, Set[String]], val schema: Option[StructType]) {
    def read(paths: Seq[String]): DataFrame = PotTable.scan(spark, schema, paths)

    /** Every pending key of `buckets`. */
    def pendingIn(buckets: Iterable[Int]): Set[String] =
      buckets.flatMap(pending.getOrElse(_, Set.empty)).toSet

    /** One multi-path scan over every live bucket dir, pending keys
      * filtered out. */
    def all: DataFrame =
      if (dirs.isEmpty) spark.emptyDataFrame
      else PotTable.live(read(dirs.values.toSeq.sorted), pendingIn(pending.keys))
  }

  /** The view at `gen`: bucket -> staged path by manifest overlay (oldest
    * first; emptied buckets dropped after the overlay so a later empty
    * entry shadows an earlier write), the pending keys per live bucket (an
    * entry clears them, `del:` lines add to them), and the latest recorded
    * schema — all from the one walk over manifests 1..gen.
    */
  private def resolve(gen: Long): View = {
    val (dirs, pending, schema) = (1L to gen).foldLeft(
        (Map.empty[Int, String], Map.empty[Int, Set[String]],
          Option.empty[String])) {
      case ((acc, dels, s), g) =>
        val m = manifestAt(g)
        val kept = dels -- m.entries.keys
        (acc ++ m.entries,
          m.dels.foldLeft(kept) { case (d, (b, ks)) =>
            d.updated(b, d.getOrElse(b, Set.empty) ++ ks) },
          m.schema.orElse(s))
    }
    val live = dirs.filter(_._2.nonEmpty)
    new View(live, pending.filter(p => live.contains(p._1)),
      schema.map(PotTable.parseSchema))
  }

  /** The view a writer extends. A store written before schemas were
    * recorded gets its schema merged from every live bucket once, so the
    * first recorded schema keeps columns that only untouched buckets hold.
    */
  private def resolveForWrite(gen: Long): View = {
    val v = resolve(gen)
    if (v.schema.isDefined || v.dirs.isEmpty) v
    else new View(v.dirs, v.pending, Some(spark.read.option("mergeSchema", "true")
      .parquet(v.dirs.values.toSeq.sorted: _*).schema))
  }

  /** Full snapshot read at the current generation: one multi-path parquet
    * scan over every live bucket dir — read-parallel, no union overhead.
    */
  def get(): DataFrame = resolve(generation).all

  /** TIME TRAVEL read (r14): the table's state at manifest generation
    * `gen` — the manifest overlay stops at `gen`, so the scan opens
    * exactly the staged dirs that generation's readers saw. Valid while
    * [[vacuum]] retention covers `gen` (vacuumed staged dirs fail the
    * scan loudly — the same retention contract as PotTable.getAt). An
    * uncommitted/out-of-range generation fails loudly, never a stale
    * fallback.
    */
  def getAt(gen: Long): DataFrame = {
    require(gen >= 1L && gen <= generation &&
        CommitMarker.bodyAt(fs, commits, gen).isDefined,
      s"bucketed pot $path: generation $gen is not committed " +
        s"(head is $generation) — never a stale/empty fallback")
    resolve(gen).all
  }

  /** Point read: resolve `key`'s bucket driver-side (same xxhash64/pmod
    * as [[bucketCol]], evaluated without a job) and scan ONLY that
    * bucket's current staged dir — the read-side payoff of bucketing.
    * The reference serves a get by reading the whole path object
    * (server.go:210-239); here a point lookup opens one bucket's files
    * regardless of table size. An absent bucket or a pending (removed)
    * key yields an empty frame with the table's schema.
    */
  def get(key: String): DataFrame = {
    import spark.implicits.StringToColumn
    val v = resolve(generation)
    if (v.dirs.isEmpty) return spark.emptyDataFrame
    val b = BucketMeta.bucketOf(key, buckets)
    v.dirs.get(b) match {
      case Some(dir) if !v.pendingIn(Seq(b)).contains(key) =>
        v.read(Seq(dir)).filter($"key" === key)
      case _ => v.all.filter(lit(false))
    }
  }

  /** Stage `df` (it carries `_b` and every table column, and is
    * distributed by [[byBucket]]) under a writer-unique root, one `_b=<i>`
    * child per touched bucket, and publish it as generation `expected`+1:
    * manifest entries for every touched bucket, empty entries for touched
    * buckets the staging job emptied (partitionBy writes no dir for them),
    * and `df`'s schema as the table's.
    */
  private def commitStaged(
      df: DataFrame, touched: Seq[Int], expectedGen: Long): Long = {
    val stagedRoot = s"$dir/data/g${expectedGen + 1}_${java.util.UUID.randomUUID()}"
    df.write.partitionBy("_b").mode("errorifexists").parquet(stagedRoot)
    val written = fs.listStatus(new Path(stagedRoot)).toSeq
      .map(_.getPath.getName)
      .filter(_.startsWith("_b="))
      .map(_.stripPrefix("_b=").toInt).toSet
    val schema = PotTable.readSchema(StructType(df.schema.filter(_.name != "_b")))
    publish(touched.sorted
      .map(b => if (written(b)) s"$b:$stagedRoot/_b=$b" else s"$b:") :+
      s"$SchemaTag${schema.json}", expectedGen, Some(stagedRoot))
  }

  /** CAS-publish the manifest `lines` as generation `expectedGen`+1
    * through [[CommitMarker.publishOwn]], timed as lock hold; a lost race
    * deletes `ownStaging` and rethrows.
    */
  private def publish(lines: Seq[String], expectedGen: Long,
      ownStaging: Option[String]): Long = {
    val next = expectedGen + 1
    CommitMarker.publishOwn(fs, markerPath(next), lines.mkString("\n"),
      ownStaging.map(new Path(_)), graft.Metrics.of(spark))
    next
  }

  /** `df` hash-distributed into one partition per touched bucket: the one
    * exchange of a staging plan. */
  private def byBucket(df: DataFrame, touched: Seq[Int]): DataFrame =
    df.repartition(touched.length, $"_b")

  /** Read the content of `buckets` in view `v` minus their pending keys,
    * `_b` recomputed from the key (deterministic), as one multi-path scan;
    * with no live bucket among them, an empty frame with the table's
    * schema.
    */
  private def readBuckets(v: View, buckets: Seq[Int]): DataFrame = {
    val paths = buckets.flatMap(v.dirs.get)
    if (paths.isEmpty) spark.createDataFrame(
      java.util.List.of[Row](), v.schema.getOrElse(new StructType()))
    else PotTable.live(v.read(paths), v.pendingIn(buckets))
      .withColumn("_b", bucketCol)
  }

  /** Partition-scoped upsert: last-writer-wins merge, but ONLY the buckets
    * containing incoming keys are staged and republished. Three Spark
    * jobs: one collects the touched buckets (a bucket set per partition),
    * and the staging write shuffles once — the batch and the
    * old buckets are distributed by `_b`, and last-writer-wins runs as a
    * window over (`_b`, `key`) inside that distribution. Returns the new
    * generation (unchanged generation for an empty batch). A batch adding
    * a column widens the table: untouched buckets read null there.
    */
  def upsert(docs: DataFrame): Long = {
    stampMeta()
    val gen = generation
    val v = resolveForWrite(gen)
    val stamped = docs
      .withColumn("_modified", current_timestamp())
      .withColumn("_b", bucketCol)
    // bucket IDs only — bounded by nBuckets, not by data size
    val touched = stamped.select($"_b").as[Int]
      .mapPartitions(it => Iterator(it.toArray.distinct))
      .collect().flatten.distinct.sorted.toSeq
    if (touched.isEmpty) return gen // empty batch: no-op, don't burn a generation
    commitStaged(PotTable.latest(
      byBucket(PotTable.sourced(stamped, readBuckets(v, touched)), touched),
      $"_b", $"key"), touched, gen)
  }

  /** Multi-key delete as tombstones: one `del:<bucket>:<keys>` manifest
    * line per touched live bucket, no bucket restaged, no Spark job. No
    * commit when no live bucket is touched. When the pending set would
    * pass [[PotTable.MaxTombstones]], the touched and pending buckets are
    * restaged through the filter instead; a bucket whose last row goes
    * becomes an empty entry.
    */
  def remove(keys: Seq[String]): Long = {
    graft.Metrics.of(spark).foreach(_.recordRemove()) // A12 op counter
    stampMeta()
    val gen = generation
    if (gen == 0L) return 0L
    val v = resolve(gen)
    val byB = keys.groupBy(BucketMeta.bucketOf(_, buckets))
      .filter(e => v.dirs.contains(e._1))
    if (byB.isEmpty) return gen // nothing to delete: no-op
    val pending = byB.foldLeft(v.pending) { case (p, (b, ks)) =>
      p.updated(b, p.getOrElse(b, Set.empty) ++ ks) }
    // a key hashes to one bucket, so the per-bucket sets are disjoint
    if (pending.values.map(_.size).sum > PotTable.MaxTombstones) {
      val w = resolveForWrite(gen)
      val touched = pending.keys.toSeq.sorted
      commitStaged(byBucket(readBuckets(new View(w.dirs, pending, w.schema),
        touched), touched), touched, gen)
    } else publish(byB.toSeq.sortBy(_._1).map { case (b, ks) =>
        s"$DelTag$b:${PotTable.keysJson(ks.toSet)}" } ++
      v.schema.map(s => s"$SchemaTag${s.json}"), gen, None)
  }

  /** Predicate remove (r14): delete every document matching `pred`,
    * restaging ONLY the buckets that contain matching rows — the
    * driver never materializes a key list (the one bounded collect is
    * bucket IDs, <= nBuckets). The distributed twin of [[remove]] for
    * data-sized delete sets (TTL sweeps, retention): cost scales with
    * the touched buckets, not the expired-key count.
    */
  def removeWhere(pred: org.apache.spark.sql.Column): Long = {
    graft.Metrics.of(spark).foreach(_.recordRemove())
    stampMeta()
    val gen = generation
    if (gen == 0L) return 0L
    val v = resolveForWrite(gen)
    if (v.dirs.isEmpty) return gen
    val touched = v.all
      .filter(pred).withColumn("_b", bucketCol)
      .select($"_b").distinct().as[Int].collect().sorted.toSeq
    if (touched.isEmpty) return gen // nothing matches: no-op
    // Keep rows where pred is NOT TRUE (coalesce NULL -> false): survival is
    // then independent of bucket co-residency — a NULL-pred row in a touched
    // bucket survives the restage, matching the filter(pred) touch detection
    // (NULL = not matching) and SQL DELETE semantics.
    commitStaged(byBucket(
      readBuckets(v, touched).filter(!coalesce(pred, lit(false))), touched),
      touched, gen)
  }

  /** Compaction: restage every live bucket at one generation (one job),
    * collapsing the manifest overlay a reader must walk and folding every
    * pending key. Old staged dirs stay on disk until [[vacuum]] —
    * concurrent readers keep their pinned files.
    */
  def compact(): Long = {
    stampMeta()
    val gen = generation
    if (gen == 0L) return 0L
    val v = resolveForWrite(gen)
    if (v.dirs.isEmpty) return gen // fully-emptied table: nothing to compact
    val live = v.dirs.keys.toSeq.sorted
    commitStaged(byBucket(readBuckets(v, live), live), live, gen)
  }

  /** Delete staged roots unreferenced by the manifests of the last
    * `retainGenerations` generations' views (lost races and superseded
    * buckets older than the grace window). A concurrent writer's in-flight
    * staging is always kept — see [[CommitMarker.sweepStaged]].
    */
  def vacuum(retainGenerations: Int = 1): Unit = {
    val gen = generation
    val dataRoot = new Path(s"$dir/data")
    if (!fs.exists(dataRoot)) return
    // a manifest value is `<root>/_b=<i>`; keep the top dir under data/
    def topSegment(p: String): String = {
      val hp = new Path(p)
      if (hp.getName.startsWith("_b=")) hp.getParent.getName else hp.getName
    }
    val keep = (math.max(0L, gen - retainGenerations) to gen)
      .flatMap(g => resolve(g).dirs.values)
      .map(topSegment).toSet
    CommitMarker.sweepStaged(fs, dataRoot, gen, keep)
    ()
  }

  /** Admin recovery for a wedged generation — see [[PotTable.repair]]. */
  def repair(): Seq[Long] =
    CommitMarker.repair(fs, commits)

  // ===================== persisted z-order layout (r16) ==================
  // q84 proved the z-order mechanism on a per-query temp dir; this is the
  // STORE-NATIVE form the r15 verdict asked for: a maintenance op that
  // rewrites the table's current state z-clustered under `_zorder/` and
  // publishes it as a CommitMarker generation readers ADOPT across
  // queries (and processes) — what a 100 TB lookup table actually runs.
  // The layout is a derived artifact pinned to its SOURCE generation: a
  // reader meeting a layout built from an older store generation fails
  // loudly (stale layout, re-run cluster) instead of serving dropped-
  // behind data. N-dim interleave via ZOrderLayout.zvalN; the caller
  // maps its dimensions into the [0, 2^8) domain and NAMES them — the
  // names persist in the layout parquet (filterable) and in the marker
  // body (self-describing, like _meta/buckets).

  private def zorderCommits = new Path(s"$dir/_zorder/_commits")

  /** Rewrite the current state z-clustered on `dims` (name -> column in
    * the [0,256) domain) and publish the layout. One shuffle, one file
    * per occupied z-bucket; the marker body records dims, bucketBits and
    * the source generation. Returns the layout generation.
    */
  def cluster(dims: Seq[(String, org.apache.spark.sql.Column)],
      bucketBits: Int = 6): Long = {
    require(dims.length >= 2, "cluster needs at least two dimensions")
    val srcGen = generation
    require(srcGen >= 1L, s"bucketed pot $path: nothing to cluster")
    val layoutGen = CommitMarker.head(fs, zorderCommits) + 1
    val staged =
      s"$dir/_zorder/data/g${layoutGen}_${java.util.UUID.randomUUID()}"
    val named = dims.foldLeft(get()) { case (df, (n, c)) =>
      df.withColumn(n, c.cast("long"))
    }
    graft.Tables.spread(
        named.withColumn("zb", shiftright(
          graft.operators.ZOrderLayout.zvalN(dims.map(d => col(d._1))),
          dims.length * graft.operators.ZOrderLayout.Bits - bucketBits)
          .cast("long")),
        col("zb"))
      .write.partitionBy("zb").mode("errorifexists").parquet(staged)
    val body = s"$staged\n" +
      s"""{"srcGen":$srcGen,"bucketBits":$bucketBits,""" +
      s""""dims":[${dims.map(d => "\"" + d._1 + "\"").mkString(",")}]}"""
    // no lock time: a layout publish is maintenance, not a kv write
    CommitMarker.publishOwn(fs, new Path(zorderCommits, layoutGen.toString),
      body, Some(new Path(staged)))
    layoutGen
  }

  /** The latest published layout: (dataDir, srcGen, bucketBits, dims). */
  private def resolveLayout(): Option[(String, Long, Int, Seq[String])] = {
    val head = CommitMarker.head(fs, zorderCommits)
    if (head == 0L) return None
    val body = CommitMarker.read(fs, new Path(zorderCommits, head.toString))
    val lines = body.split("\n", 2)
    val j = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(lines(1))
    import scala.jdk.CollectionConverters._
    Some((lines(0), j.get("srcGen").asLong(), j.get("bucketBits").asInt(),
      j.get("dims").elements().asScala.map(_.asText()).toSeq))
  }

  /** True iff a layout exists AND matches the store's current
    * generation — the "do I need to re-cluster?" probe. */
  def layoutFresh(): Boolean =
    resolveLayout().exists(_._2 == generation)

  /** Delete layout data dirs not referenced by the newest `retain`
    * layout generations ([[vacuum]]'s discipline applied to the derived
    * artifact — without it every re-cluster leaks a full table copy).
    * A concurrent clusterer's in-flight staging is always kept — see
    * [[CommitMarker.sweepStaged]]. Returns only the paths whose delete
    * succeeded.
    */
  def vacuumLayouts(retain: Int = 1): Seq[String] = {
    val dataRoot = new Path(s"$dir/_zorder/data")
    if (!fs.exists(dataRoot)) return Seq.empty
    // head is read BEFORE the listing: a layout committed after this
    // point is above `head`, so it is kept as in-flight either way
    val head = CommitMarker.head(fs, zorderCommits)
    val gens = CommitMarker.committedGenerations(fs, zorderCommits)
    val keep = gens.sorted.reverse.take(math.max(retain, 1)).map { g =>
      val body = CommitMarker.read(fs, new Path(zorderCommits, g.toString))
      new Path(body.split("\n", 2)(0)).getName
    }.toSet
    // a false delete (permissions, concurrent access) must not read as a
    // reclaimed layout in the vacuum_layouts CALL output (r18 ADVICE)
    CommitMarker.sweepStaged(fs, dataRoot, head, keep).map(_.toString)
  }

  /** Pruned read over the PERSISTED layout for a range predicate on one
    * clustered dimension: the structurally-derived bucket set becomes a
    * literal `zb IN (...)` partition filter (pruned at file listing);
    * the exact range predicate applies on top. Fails loudly on a stale
    * layout (source generation moved) or an un-clustered dimension —
    * never silently serves dropped-behind data or an unpruned scan.
    */
  def readClustered(dim: String, lo: Int, hi: Int): DataFrame = {
    val (dataDir, srcGen, bucketBits, dims) = resolveLayout().getOrElse(
      throw new IllegalStateException(
        s"bucketed pot $path: no z-order layout published — run cluster()"))
    require(srcGen == generation,
      s"bucketed pot $path: z-order layout was built at generation " +
        s"$srcGen but the store is at $generation — stale layout; " +
        "re-run cluster() (a layout is a derived artifact, it never " +
        "silently serves old state)")
    val di = dims.indexOf(dim)
    require(di >= 0, s"bucketed pot $path: dimension '$dim' is not in " +
      s"the clustered set ${dims.mkString("[", ", ", "]")}")
    val zbs = graft.operators.ZOrderLayout
      .bucketsForRangeN(di, dims.length, lo, hi, bucketBits)
    spark.read.parquet(dataDir)
      .filter(col("zb").isin(zbs: _*))
      .filter(col(dim).between(lo.toLong, hi.toLong))
  }

  /** Buckets restaged (or emptied) by generation `gen`'s commit — test
    * hook for asserting partition-scoped (not whole-table) rewrite. A
    * remove's `del:` lines restage nothing.
    */
  def bucketsWrittenAt(gen: Long): Seq[Int] =
    manifestAt(gen).entries.keys.toSeq.sorted

  /** Online reshard: rewrite the table's current state into a NEW bucketed
    * table (same root, `path` = this table's path + the suffix) with a
    * different bucket count. The bucket function (hash(key) mod n) is baked
    * into every manifest, so a bucket-count change is necessarily a full
    * rewrite — the point of doing it THROUGH Spark is that it is ONE
    * distributed job (read overlay → shuffle by new bucket → stage →
    * single CAS commit) while this table keeps serving reads untouched;
    * cutover is the caller swapping its path pointer, and abandoning the
    * new path aborts the reshard with no effect on the old. The new
    * table's generation history starts at 1 (a reshard is a state copy,
    * not a history copy — time travel stays with the old path, exactly
    * like [[PotTable.restore]]'s snapshot semantics).
    */
  def reshardTo(newBuckets: Int, suffix: String = "_resharded"): BucketedPotTable = {
    require(newBuckets >= 1, "reshardTo needs an explicit positive bucket count")
    val out = new BucketedPotTable(spark, root, s"$path$suffix", newBuckets)
    out.upsert(get())
    out
  }
}

object BucketedPotTable {
  /** One committed manifest: bucket -> staged path (empty = emptied
    * bucket), bucket -> keys tombstoned by this generation, and the
    * `schema:` line's JSON if there is one.
    */
  private[kv] final case class Manifest(entries: Map[Int, String],
      dels: Map[Int, Set[String]], schema: Option[String])

  /** `nBuckets = 0` (the default) = self-describing open: the stamped
    * `_meta/buckets` modulus is used ([[BucketMeta.DefaultBuckets]] for a
    * brand-new store). A positive count on an existing store must match
    * the stamped value — mismatch fails loudly.
    */
  def apply(spark: SparkSession, root: String, path: String,
      nBuckets: Int = 0): BucketedPotTable =
    new BucketedPotTable(spark, root, path, nBuckets)
}
