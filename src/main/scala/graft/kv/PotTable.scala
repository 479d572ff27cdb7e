package graft.kv

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Pot-parity table layer: the reference's whole semantics re-expressed as
  * Spark dataflow over versioned parquet directories.
  *
  * Reference model (SURVEY.md §1): a "path" holds one JSON map `key -> doc`,
  * every write is a whole-object read-modify-write under a CAS lock, and the
  * GCS object generation is the version handle clients replay to prove
  * ownership (reference server.go:212-214, 272-407, 670-702).
  *
  * Commit protocol (stage-then-publish — the order matters):
  *   1. the writer stages the new table state at a WRITER-UNIQUE path
  *      `data/g<N>_<uuid>/` (no two writers ever touch the same files);
  *   2. it then attempts `FileSystem.create(_commits/<N>, overwrite=false)` —
  *      an atomic create-new, exactly pot's `.potlock` DoesNotExist
  *      precondition (server.go:676) — the marker body's first two lines
  *      are the staged path, then the staged data's schema as JSON (the
  *      schema the parquet reader returns: every field nullable, nested
  *      ones too), and `txn` lines may follow (below);
  *   3. marker exists => its staged data is complete (written before), so
  *      readers resolve generation N by reading the marker, and open the
  *      staged data with the recorded schema — no schema-inference job, the
  *      way Delta readers take the table schema from the log's `metaData`
  *      action. A marker holding only the path (stores written before the
  *      schema was recorded) reads with inference. A LOSING writer only
  *      ever deletes its own staged directory — it can never clobber the
  *      winner's published data.
  *
  * Application transactions (Delta's `txn` action): a [[replace]] may
  * stamp an `(appId, version)` pair into the commit it makes, as a
  * `txn:<appId>:<version>` line after the schema line. Every commit copies
  * its parent marker's `txn` lines forward, replacing only its own appId's,
  * so the head marker holds the latest version of every app — the way a
  * Delta checkpoint keeps the latest `txn` per appId. An idempotent writer
  * (st12's micro-batches) reads its last applied version with
  * [[txnVersion]] — one marker read, no Spark job — and commits the data
  * and the new version in ONE generation, so no crash can separate them.
  *
  * Removes are tombstones, not rewrites (Delta's deletion vectors in the
  * log's own terms): [[remove]] publishes a marker that keeps the current
  * staged path and schema and adds a `del:<JSON array of keys>` line — every
  * key removed since that staged data was written. Every read of the
  * generation filters those keys out with one `InSet` (a null key
  * survives, as under a left-anti join), so a remove runs no Spark job.
  * Every write that restages data ([[upsert]], [[conditionalUpsert]],
  * [[replace]], [[removeWhere]]) reads through the same filtered view, so
  * its generation carries no `del:` line: the fold costs nothing extra.
  * A remove whose pending set would pass [[PotTable.MaxTombstones]] keys
  * stages the filtered view instead (copy-on-write), which bounds the
  * marker and the read filter. A binary built before tombstones ignores
  * the `del:` line and would read the removed keys back.
  *
  * Losing a commit race throws [[PotTable.CommitConflict]] — pot's 412/423.
  *
  * Scale: the fixture tables are single files, but every operation here is a
  * full DataFrame pipeline — at 100 TB a version is a directory of many
  * parquet files, upsert shuffles by key once, and the protocol is unchanged
  * because only the marker create must be atomic, never the data files.
  * Whole-version rewrite (pot's own write amplification, server.go:396-400)
  * becomes partition-scoped rewrite in [[BucketedPotTable]].
  */
final class PotTable(spark: SparkSession, root: String, path: String) {
  import spark.implicits._
  import PotTable.CommitConflict

  private def dir = s"$root/$path"
  /** The session's Hadoop conf, taken once per instance; each `fs` call
    * resolves through Hadoop's FileSystem cache. */
  private lazy val conf = spark.sessionState.newHadoopConf()
  private def fs: FileSystem =
    new Path(root).getFileSystem(conf)

  /** Current committed generation, 0 if the pot doesn't exist yet
    * (reference returns an empty map for absent paths, server.go:316-331).
    * Zero-length crash husks are not commits — see [[CommitMarker]].
    */
  def generation: Long = CommitMarker.head(fs, commits)

  private def commits = new Path(s"$dir/_commits")
  private def markerPath(gen: Long) = new Path(commits, gen.toString)

  /** Generation `gen`'s parsed marker; the empty pot's at 0. */
  private def marker(gen: Long): PotTable.Marker =
    if (gen == 0L) PotTable.Marker("", None, Map.empty)
    else PotTable.parseMarker(CommitMarker.read(fs, markerPath(gen)))

  /** The live documents `m` describes: its staged data, opened with the
    * schema it records, minus its tombstoned keys. */
  private def view(m: PotTable.Marker): DataFrame =
    PotTable.live(PotTable.scan(spark, m.schema, Seq(m.staged)), m.dels)

  /** Committed generation `gen` (empty at 0) and its marker. With
    * `retained`, a generation whose staged data was vacuumed fails with
    * [[PotTable.RetentionViolated]].
    */
  private def state(gen: Long, retained: Boolean = false)
      : (DataFrame, PotTable.Marker) =
    if (gen == 0L) (spark.emptyDataFrame, marker(0L))
    else {
      val m = marker(gen)
      if (retained && !fs.exists(new Path(m.staged)))
        throw new PotTable.RetentionViolated(
          s"pot $path generation $gen: staged data was vacuumed — the " +
            "retention window has passed this generation; pin vacuum's " +
            "retainGenerations above the oldest generation readers still " +
            s"need (current head is $generation)")
      (view(m), m)
    }

  private def read(gen: Long, retained: Boolean = false): DataFrame =
    state(gen, retained)._1

  /** Get == full-path scan of the current generation's staged data. */
  def get(): DataFrame = read(generation)

  /** Read a SPECIFIC committed generation (time travel). Works for any
    * generation whose staged data a vacuum retention window still holds
    * (the reference exposes the same handle as the GCS object generation;
    * here every committed marker is a readable version pointer). A
    * generation whose staged data [[vacuum]] reclaimed fails with
    * [[PotTable.RetentionViolated]] — loud and named, never Spark's bare
    * path-not-found (r13: the frontier-GC retention contract).
    */
  def getAt(gen: Long): DataFrame = read(gen, retained = true)

  /** The version application `appId` last committed with [[replace]], as
    * recorded in the head marker; None if it never did. One head lookup
    * and one marker read — no Spark job.
    */
  def txnVersion(appId: String): Option[Long] = marker(generation).txns.get(appId)

  /** Change feed between two committed generations (CDC): one row per key
    * whose document was added, removed, or changed from `fromGen` to
    * `toGen` — unchanged keys are not emitted. `change` is one of
    * 'added'/'removed'/'changed'. Payload identity = md5 of the canonical
    * JSON of all non-internal columns (sorted by name; `_modified` is a
    * write timestamp, not document content, so it never flags a change by
    * itself). One full-outer join keyed by `key` — the same single-shuffle
    * shape as upsert, so a 100 TB diff is one co-partitioned merge.
    */
  def diff(fromGen: Long, toGen: Long): DataFrame = {
    def keyed(g: Long): DataFrame = {
      val df = getAt(g)
      if (!df.columns.contains("key"))
        return Seq.empty[(String, String)].toDF("key", "h")
      val payload = df.columns.filter(c => c != "key" && c != "_modified").sorted
      df.select($"key",
        md5(to_json(struct(payload.map(col).toSeq: _*))).as("h"))
    }
    // null-safe: a pot may hold one null-key document, which must match
    // itself rather than diff as removed and added
    val a = keyed(fromGen).toDF("k_from", "h_from")
    val b = keyed(toGen).toDF("k_to", "h_to")
    a.join(b, $"k_from" <=> $"k_to", "full_outer")
      .withColumn("change",
        when($"h_from".isNull, lit("added"))
          .when($"h_to".isNull, lit("removed"))
          .when($"h_from" =!= $"h_to", lit("changed"))
          .otherwise(lit("unchanged")))
      .filter($"change" =!= "unchanged")
      .select(coalesce($"k_from", $"k_to").as("key"), $"change")
  }

  /** Stage `df` under a unique path, then atomically publish it (path,
    * schema and `txns`, the parent's carried forward; no tombstones) as
    * generation `expectedGen`+1 iff no other writer got there first.
    */
  private def commit(df: DataFrame, expectedGen: Long,
      txns: Map[String, Long]): Long = {
    val staged = s"$dir/data/g${expectedGen + 1}_${java.util.UUID.randomUUID()}"
    df.write.mode("errorifexists").parquet(staged)
    publish(PotTable.Marker(staged, Some(PotTable.readSchema(df.schema)), txns),
      expectedGen, Some(staged))
  }

  /** CAS-publish `m` as generation `expectedGen`+1 through
    * [[CommitMarker.publishOwn]], timed as lock hold; a lost race deletes
    * `ownStaging` and rethrows the [[PotTable.CommitConflict]].
    */
  private def publish(m: PotTable.Marker, expectedGen: Long,
      ownStaging: Option[String]): Long = {
    val next = expectedGen + 1
    CommitMarker.publishOwn(fs, markerPath(next), PotTable.renderMarker(m),
      ownStaging.map(new Path(_)), graft.Metrics.of(spark))
    next
  }

  /** Last-writer-wins merge of `docs` into the map at the given base
    * generation by `key` (server.go:385-393), at every generation including
    * the first: a pot holds one document per key, so a batch repeating a
    * key commits one of its rows.
    *
    * SCHEMA EVOLVES across generations (`allowMissingColumns`): the
    * reference's documents are schema-free JSON maps — a doc simply may or
    * may not carry a field (server.go:347-354 only contracts the key) — so
    * a batch introducing a new column widens the table (old rows read null
    * there), and a batch missing a column leaves nulls for its OWN rows
    * (LWW replaces the whole document, pot-style; it does not column-merge).
    */
  private def upsertAt(docs: DataFrame, gen: Long): Long = {
    val (old, m) = state(gen)
    commit(PotTable.lastWriterWins(
      docs.withColumn("_modified", current_timestamp()), old), gen, m.txns)
  }

  /** Upsert (Create/batch-Create, server.go:272-423). */
  def upsert(docs: DataFrame): Long = upsertAt(docs, generation)

  /** Whole-map replace (r20 optimization): commit `docs` AS the next
    * generation's complete state — the same CAS chain and generation
    * arithmetic as [[upsert]], minus the read-old/window-merge pass.
    * For a caller whose batch already CONTAINS every surviving key (the
    * additive-counter streams pre-merge old ∪ delta themselves), upsert's
    * LWW merge is provably the identity on the batch: every old key is
    * present in `docs`, so `docs` wins per key and the merged state ==
    * `docs`. KvSpec pins the equivalence. NOT for partial batches —
    * absent keys are DROPPED (that is the semantics: replace).
    * `expectedGen` is the generation the caller built `docs` from: if
    * another commit landed since, this throws [[PotTable.CommitConflict]]
    * instead of overwriting it.
    *
    * `txn = Some(appId -> version)` records that version for `appId` in
    * the same commit (Delta's `txn` action); [[txnVersion]] reads it back.
    * A commit that loses the CAS records nothing.
    */
  def replace(docs: DataFrame, expectedGen: Long,
      txn: Option[(String, Long)] = None): Long = {
    txn.foreach { case (app, _) =>
      require(app.nonEmpty && !app.contains('\n'), s"txn appId '$app'") }
    val stamped = docs.withColumn("_modified", current_timestamp())
    commit(stamped, expectedGen, marker(expectedGen).txns ++ txn)
  }

  /** Conditional write (WithNoRewrite + WithRewriteGeneration,
    * server.go:236-264, 365-393): reject the WHOLE batch if any incoming key
    * already exists, unless the caller owns the current generation or the
    * key's lease (`leaseMs` since `_modified`) has expired. All-or-nothing,
    * exactly like the reference (server.go:385-389).
    */
  def conditionalUpsert(
      docs: DataFrame,
      leaseMs: Long,
      callerGeneration: Long = -1L): Long = {
    val gen = generation
    if (gen != 0L && callerGeneration != gen) {
      val nowMs = System.currentTimeMillis()
      val conflicts = read(gen)
        .join(docs.select($"key"), Seq("key"), "left_semi")
        .filter(unix_millis($"_modified") + leaseMs > nowMs)
        .limit(1).count()
      if (conflicts > 0)
        throw new CommitConflict(
          s"pot $path: no-rewrite violated (live lease, caller gen " +
            s"$callerGeneration != current $gen)")
    }
    upsertAt(docs, gen)
  }

  /** Remove (multi-key delete, server.go:494-548) as a tombstone commit:
    * generation `gen`+1 keeps `gen`'s staged data, schema and `txn` lines
    * and adds `keys` to its `del:` set — one marker create, no Spark job.
    * Deleting absent keys is a no-op for readers, like the reference's
    * `delete(content, key)`. When the pending set would pass
    * [[PotTable.MaxTombstones]], the filtered view is staged instead.
    */
  def remove(keys: Seq[String]): Long = {
    // A12: the operation-level counter (server_routes.go:155-157); a
    // tombstone commit runs no engine query — see Metrics
    graft.Metrics.of(spark).foreach(_.recordRemove())
    val gen = generation
    if (gen == 0L) return 0L
    val m = marker(gen)
    val pending = m.copy(dels = m.dels ++ keys)
    if (pending.dels.size > PotTable.MaxTombstones)
      commit(view(pending), gen, m.txns)
    else publish(pending, gen, None)
  }

  /** Predicate remove (r14 — the distributed sweep): delete every
    * document matching `pred` in ONE atomic generation, with no
    * driver-side key materialization anywhere — the filter IS the
    * rewrite. This is the verb a TTL/retention sweep wants: the key-list
    * [[remove]] mirrors the reference's key-addressed DELETE, this stays
    * data-sized-safe when the expired set is large.
    */
  def removeWhere(pred: org.apache.spark.sql.Column): Long = {
    graft.Metrics.of(spark).foreach(_.recordRemove())
    val gen = generation
    if (gen == 0L) return 0L
    // SQL DELETE semantics: delete only rows where pred IS TRUE. A row whose
    // predicate evaluates to NULL must SURVIVE (`!pred` alone is NULL there,
    // which filter() drops — silent deletion).
    val (old, m) = state(gen)
    commit(old.filter(!coalesce(pred, lit(false))), gen, m.txns)
  }

  /** Admin recovery for a generation wedged by a crashed writer AND a
    * crashed reclaimer (see [[CommitMarker.publish]]'s failure-mode note).
    * Caller guarantees no writer is live. Returns repaired generations.
    */
  def repair(): Seq[Long] =
    CommitMarker.repair(fs, commits)

  /** Snapshot/export (Zip, server.go:550-614): materialize the current
    * version to an export directory. Returns the manifest.
    */
  def snapshot(outDir: String): DataFrame =
    Seq((path, exportTo(outDir))).toDF("path", "generation")

  /** Write the current generation to `outDir/<path>`, reading the very
    * generation it returns (a commit landing meanwhile is not exported
    * under the older number).
    */
  private[kv] def exportTo(outDir: String): Long = {
    val gen = generation
    if (gen > 0L) read(gen).write.mode("overwrite").parquet(s"$outDir/$path")
    gen
  }

  /** Delete staged data directories no marker references (lost races,
    * superseded generations older than `retainGenerations`). A tombstone
    * marker names its base's staged path, so the keep set holds the base
    * while any retained generation reads through it. Readers pin a
    * generation at scan start, so retention gives in-flight reads a grace
    * window instead of deleting under them. A concurrent writer's
    * in-flight staging is always kept — see [[CommitMarker.sweepStaged]].
    */
  def vacuum(retainGenerations: Int = 1): Unit = {
    val gen = generation
    val dataRoot = new Path(s"$dir/data")
    if (!fs.exists(dataRoot)) return
    // compare by the uuid-unique staged dir NAME to sidestep scheme/prefix
    // differences between marker content and FileStatus paths
    val keep = ((math.max(1L, gen - retainGenerations)) to gen)
      .flatMap(g => CommitMarker.bodyAt(fs, commits, g))
      .map(b => new Path(PotTable.parseMarker(b).staged).getName).toSet
    CommitMarker.sweepStaged(fs, dataRoot, gen, keep)
    ()
  }
}

object PotTable {
  /** Error analogous to pot's ErrNoRewriteViolated / 412 Precondition Failed
    * (server.go:27-34; readme.md:128). On the HTTP surface the reference
    * maps this error — and only this error — to 423 Locked
    * (server_routes.go:110-119, errors.Is(err, ErrNoRewriteViolated));
    * everything else is a 500. Catching CommitConflict distinctly from
    * [[CommitIncomplete]]/IOException is this library's form of that
    * mapping (asserted in KvSpec's lockout cases).
    */
  final class CommitConflict(msg: String) extends RuntimeException(msg)

  /** A pinned read (generation time travel, txn frontier snapshot) asked
    * for state the retention machinery has reclaimed — [[PotTable.vacuum]]
    * dropped the generation's staged data, or [[PotTxn.gcBelow]] dropped
    * the txn-frontier coordinates. Loud and specific: the CDC-retention
    * discipline is "vacuum no further than the slowest pinned reader",
    * and this error is what violating it looks like. */
  final class RetentionViolated(msg: String) extends IllegalStateException(msg)

  /** Our marker create won the CAS but writing/closing the body failed:
    * the commit is NOT durable and NOT foreign-owned — retry the commit
    * (the failed attempt's husk was already cleaned up). Distinct from
    * [[CommitConflict]], which means another writer owns the generation.
    */
  final class CommitIncomplete(msg: String, cause: Throwable)
      extends java.io.IOException(msg, cause)

  def apply(spark: SparkSession, root: String, path: String): PotTable =
    new PotTable(spark, root, path)

  /** Most keys a [[PotTable.remove]] leaves as tombstones before it
    * stages the filtered view instead. At ~10-20 bytes a key this keeps a
    * marker near 10-20 KB and the read filter within noise of none.
    */
  val MaxTombstones = 1024

  /** A parsed marker body: the staged path, the recorded schema (None in
    * stores written before it was), the `txn` versions by appId, and the
    * keys removed since the staged data was written.
    */
  private[kv] final case class Marker(staged: String,
      schema: Option[StructType], txns: Map[String, Long],
      dels: Set[String] = Set.empty)

  /** Tag of a marker line that lists tombstoned keys. */
  private[kv] val DelTag = "del:"
  private lazy val json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Keys as one JSON array: keys may hold `,`, `"` or a newline. */
  private[kv] def keysJson(keys: Set[String]): String =
    json.writeValueAsString(keys.toArray.sorted)

  private[kv] def keysOf(text: String): Set[String] =
    json.readValue(text, classOf[Array[String]]).toSet

  /** Line 1 is the staged path, every `txn:<appId>:<version>` line a txn,
    * a `del:<JSON array>` line the tombstoned keys, and the remaining
    * line, if any, the schema.
    */
  private[kv] def parseMarker(body: String): Marker = {
    val lines = body.trim.split("\n").map(_.trim)
    val (txnLines, rest) = lines.drop(1).partition(_.startsWith("txn:"))
    val (delLines, schema) = rest.partition(_.startsWith(DelTag))
    val txns = txnLines.map { l =>
      val at = l.lastIndexOf(':')
      l.substring(4, at) -> l.substring(at + 1).toLong
    }.toMap
    Marker(lines(0), schema.find(_.nonEmpty).map(parseSchema), txns,
      delLines.flatMap(l => keysOf(l.stripPrefix(DelTag))).toSet)
  }

  /** The marker body [[parseMarker]] reads back as `m`. */
  private[kv] def renderMarker(m: Marker): String =
    (Seq(m.staged) ++ m.schema.map(_.json) ++
      m.txns.toSeq.sorted.map { case (app, v) => s"txn:$app:$v" } ++
      Option.when(m.dels.nonEmpty)(DelTag + keysJson(m.dels))).mkString("\n")

  /** `df` without the rows whose key is in `dels`: `key IS NULL OR NOT
    * InSet(key, dels)`, with the `InSet` built directly (an `isin` over
    * literals costs planning time per key). A null key survives.
    */
  private[kv] def live(df: DataFrame, dels: Set[String]): DataFrame =
    if (dels.isEmpty || !df.columns.contains("key")) df
    else {
      import org.apache.spark.sql.catalyst.expressions.InSet
      import org.apache.spark.sql.graftbridge.ColumnBridge
      import org.apache.spark.sql.types.StringType
      import org.apache.spark.unsafe.types.UTF8String
      val key = if (df.schema("key").dataType == StringType) col("key")
        else col("key").cast(StringType)
      val tombstoned = ColumnBridge.column(InSet(ColumnBridge.expression(key),
        dels.map(k => UTF8String.fromString(k): Any)))
      df.filter(col("key").isNull || !tombstoned)
    }

  private[kv] def parseSchema(json: String): StructType =
    DataType.fromJson(json).asInstanceOf[StructType]

  /** The schema `spark.read.parquet` returns for data written with
    * `schema`: every field nullable, nested ones included (Spark's own
    * `asNullable` is internal).
    */
  private[kv] def readSchema(schema: StructType): StructType =
    nullable(schema).asInstanceOf[StructType]

  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** Parquet scan of `paths`: with a known schema Spark plans it without
    * the schema-inference job; without one it infers, as before schemas
    * were recorded.
    */
  private[kv] def scan(spark: SparkSession, schema: Option[StructType],
      paths: Seq[String]): DataFrame =
    schema.fold(spark.read)(spark.read.schema).parquet(paths: _*)

  /** Last-writer-wins by `key`: one row per key, rows of `incoming` over
    * rows of `old`. One shuffle by key; the union widens the schema
    * (`allowMissingColumns`). Which of several `incoming` rows for one key
    * survives is unspecified.
    */
  private[kv] def lastWriterWins(incoming: DataFrame, old: DataFrame): DataFrame =
    latest(sourced(incoming, old), col("key"))

  /** `incoming` over `old`, each row tagged with its source in `_src`
    * (1 incoming, 0 old); the union widens the schema. */
  private[kv] def sourced(incoming: DataFrame, old: DataFrame): DataFrame =
    incoming.withColumn("_src", lit(1))
      .unionByName(old.withColumn("_src", lit(0)), allowMissingColumns = true)

  /** One row per `by` group of a [[sourced]] frame, incoming rows first. */
  private[kv] def latest(df: DataFrame, by: org.apache.spark.sql.Column*): DataFrame =
    df.withColumn("_rn",
        row_number().over(Window.partitionBy(by: _*).orderBy(col("_src").desc)))
      .filter(col("_rn") === 1)
      .drop("_rn", "_src")

  /** Whole-warehouse snapshot (A7 parity — reference Zip archives the whole
    * bucket, server.go:550-614, re-triggered per write,
    * server_routes.go:160-166): every pot under `root` exported at its
    * CURRENT generation to `outDir/<path>`, plus a manifest DataFrame
    * (path, generation) persisted at `outDir/_manifest`. Internal state —
    * commit markers, reclaim files, staged-but-unpublished dirs — is
    * excluded the same way the reference zip skips `.potlock`s: the export
    * goes through each pot's committed view, never its raw directory.
    */
  def snapshotAll(spark: SparkSession, root: String, outDir: String): DataFrame = {
    import spark.implicits._
    val manifest = listPaths(spark, root)
      .map(p => (p, PotTable(spark, root, p).exportTo(outDir)))
      .toDF("path", "generation")
    manifest.coalesce(1).write.mode("overwrite").parquet(s"$outDir/_manifest")
    bundle(spark, outDir)
    manifest
  }

  /** Archive the export tree into `<outDir>/bundle.tar.gz` — the
    * reference's bundle format (Zip, server.go:550-614: tar + gzip of
    * every object, skipping entries under the bundle's own location and
    * `.potlock` files; the single-artifact form downstream consumers pull,
    * docs/howto_opa.md:137-143). Entry names are outDir-relative, like the
    * reference's bucket-relative object names, and sorted so the archive
    * is deterministic. A tar.gz is one serial stream by construction (the
    * reference's is too), so this runs driver-side over the already-
    * materialized export; the parallel-scale artifact remains the parquet
    * tree it archives.
    *
    * The input tree must be IMMUTABLE for the duration of the call (the
    * reference holds `localLock` across its Zip for the same reason,
    * server.go:550-560): each tar header pins the size from the initial
    * listing, and a file mutated between stat and copy fails the size
    * check below rather than producing a silently short/long entry.
    * `snapshotAll` satisfies this by bundling its own just-written export.
    */
  def bundle(spark: SparkSession, outDir: String): Unit = {
    import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
    val fs = new Path(outDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.makeQualified(new Path(outDir))
    // carry the FileStatus from listStatus: one metadata call per file,
    // not two (the per-write auto-snapshot trigger bundles a whole
    // warehouse — on an object store every extra stat is a round-trip)
    def files(p: Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).toSeq.sortBy(_.getPath.getName).flatMap { st =>
        if (st.isDirectory) files(st.getPath) else Seq(st)
      }
    val entries = files(out)
      .map(st =>
        (st.getPath.toString.stripPrefix(out.toString).stripPrefix("/"), st))
      .filterNot { case (r, _) =>
        r == "bundle.tar.gz" || r.endsWith(".potlock")
      }
      .sortBy(_._1)
    val os = new TarArchiveOutputStream(new java.util.zip.GZIPOutputStream(
      fs.create(new Path(out, "bundle.tar.gz"), true)))
    os.setLongFileMode(TarArchiveOutputStream.LONGFILE_POSIX)
    try entries.foreach { case (r, st) =>
      val p = st.getPath
      val e = new TarArchiveEntry(r)
      e.setSize(st.getLen)
      // pin mtime: TarArchiveEntry defaults to wall-clock now, which would
      // make byte-identical trees produce byte-different bundles
      e.setModTime(0L)
      os.putArchiveEntry(e)
      // Copy EXACTLY the pinned size and fail fast on mismatch: a file that
      // grew or shrank since listStatus means the immutability contract was
      // violated — surface that, never emit a corrupt entry. (Tar itself
      // also enforces written == header size, but with a less actionable
      // message and only after a short read has already gone through.)
      val in = fs.open(p)
      try {
        val buf = new Array[Byte](65536)
        var remaining = st.getLen
        while (remaining > 0) {
          val n = in.read(buf, 0, math.min(buf.length.toLong, remaining).toInt)
          if (n < 0) throw new java.io.IOException(
            s"bundle: $p shrank below its listed ${st.getLen} bytes mid-archive "
              + "(input tree mutated during bundle(); see scaladoc)")
          os.write(buf, 0, n)
          remaining -= n
        }
        if (in.read() != -1) throw new java.io.IOException(
          s"bundle: $p grew past its listed ${st.getLen} bytes mid-archive "
            + "(input tree mutated during bundle(); see scaladoc)")
      } finally in.close()
      os.closeArchiveEntry()
    } finally os.close()
  }

  /** Restore a [[bundle]] archive into a FRESH warehouse root: extract the
    * tar.gz, then re-ingest every manifest table through the normal commit
    * protocol (one CAS generation per pot) — the restore analog of the
    * reference's recovery path, which re-POSTs an exported data.json into
    * a new bucket (readme.md:26-43; the bundle is its single-artifact
    * form, server.go:550-614). Restored pots start at generation 1
    * regardless of the source's generation history: a snapshot captures
    * STATE, not history — time-travel handles don't survive a restore
    * (same as the reference, whose zip holds current objects only).
    * Returns the restored manifest (path, source generation at snapshot
    * time, restored generation).
    *
    * Extraction is driver-side (a tar.gz is one serial stream by
    * construction — symmetrical with [[bundle]]); the per-pot re-ingest
    * runs through Spark, so the parallel-scale work stays distributed.
    * Tar entry names are validated against path traversal before any
    * write.
    */
  def restore(spark: SparkSession, bundlePath: String, newRoot: String): DataFrame = {
    import org.apache.commons.compress.archivers.tar.TarArchiveInputStream
    import spark.implicits._
    val bp = new Path(bundlePath)
    val fs = bp.getFileSystem(spark.sessionState.newHadoopConf())
    val rows = graft.Scratch.withDir("graft-restore") { dir =>
      val tmp = java.nio.file.Paths.get(dir)
      val in = new TarArchiveInputStream(
        new java.util.zip.GZIPInputStream(fs.open(bp)))
      try {
        var e = in.getNextEntry
        while (e != null) {
          val name = e.getName
          val target = tmp.resolve(name).normalize()
          if (!target.startsWith(tmp))
            throw new java.io.IOException(
              s"restore: refusing traversal entry '$name' in $bundlePath")
          if (e.isDirectory) java.nio.file.Files.createDirectories(target)
          else {
            java.nio.file.Files.createDirectories(target.getParent)
            val os = java.nio.file.Files.newOutputStream(target)
            try {
              val buf = new Array[Byte](65536)
              var n = in.read(buf)
              while (n >= 0) { os.write(buf, 0, n); n = in.read(buf) }
            } finally os.close()
          }
          e = in.getNextEntry
        }
      } finally in.close()
      val manifest = spark.read.parquet(s"$tmp/_manifest")
        .select($"path", $"generation").as[(String, Long)].collect().sorted
      manifest.map { case (p, srcGen) =>
        val t = PotTable(spark, newRoot, p)
        (p, srcGen,
          if (srcGen > 0L) t.upsert(spark.read.parquet(s"$tmp/$p"))
          else t.generation)
      }
    }
    rows.toSeq.toDF("path", "source_generation", "restored_generation")
  }

  /** ListPaths (server.go:425-466): enumerate pots under a root — like the
    * reference's prefix listing, paths may be NESTED ("locks/job"), so this
    * walks directories recursively; a pot = any dir holding a `_commits`
    * child. Pot-internal dirs (`data/`, `_commits/`) are not descended
    * into, the way `.potlock`s are excluded from the reference's listings.
    */
  def listPaths(spark: SparkSession, root: String): Seq[String] = {
    // A12: list is pure FS metadata — no Spark query runs, so the engine
    // listener can never see it; count at the call site like the reference's
    // :list route (server_routes.go:66-68)
    graft.Metrics.of(spark).foreach(_.recordList())
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(rootPath)) return Seq.empty
    def walk(dir: Path, rel: String): Seq[String] =
      fs.listStatus(dir).toSeq.filter(_.isDirectory).flatMap { st =>
        val name = st.getPath.getName
        val path = if (rel.isEmpty) name else s"$rel/$name"
        if (fs.exists(new Path(st.getPath, "_commits"))) Seq(path)
        else walk(st.getPath, path)
      }
    walk(rootPath, "").sorted
  }
}
