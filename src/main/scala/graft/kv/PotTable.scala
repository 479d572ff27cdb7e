package graft.kv

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

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
  *      precondition (server.go:676) — writing the staged path as the
  *      marker's content;
  *   3. marker exists => its staged data is complete (written before), so
  *      readers resolve generation N by reading the marker. A LOSING writer
  *      only ever deletes its own staged directory — it can never clobber
  *      the winner's published data.
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
  private def fs: FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Current committed generation, 0 if the pot doesn't exist yet
    * (reference returns an empty map for absent paths, server.go:316-331).
    * Zero-length crash husks are not commits — see [[CommitMarker]].
    */
  def generation: Long =
    CommitMarker.committedGenerations(fs, new Path(s"$dir/_commits"))
      .foldLeft(0L)(math.max)

  private def markerPath(gen: Long) = new Path(s"$dir/_commits/$gen")

  private def readMarker(gen: Long): String =
    CommitMarker.read(fs, markerPath(gen)).trim

  /** Get == full-path scan of the current generation's staged data. */
  def get(): DataFrame = {
    val gen = generation
    if (gen == 0L) spark.emptyDataFrame
    else spark.read.parquet(readMarker(gen))
  }

  /** Read a SPECIFIC committed generation (time travel). Works for any
    * generation whose staged data a vacuum retention window still holds
    * (the reference exposes the same handle as the GCS object generation;
    * here every committed marker is a readable version pointer). A
    * generation whose staged data [[vacuum]] reclaimed fails with
    * [[PotTable.RetentionViolated]] — loud and named, never Spark's bare
    * path-not-found (r13: the frontier-GC retention contract).
    */
  def getAt(gen: Long): DataFrame =
    if (gen == 0L) spark.emptyDataFrame
    else {
      val staged = readMarker(gen)
      if (!fs.exists(new Path(staged)))
        throw new PotTable.RetentionViolated(
          s"pot $path generation $gen: staged data was vacuumed — the " +
            "retention window has passed this generation; pin vacuum's " +
            "retainGenerations above the oldest generation readers still " +
            s"need (current head is $generation)")
      spark.read.parquet(staged)
    }

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
    val a = keyed(fromGen).withColumnRenamed("h", "h_from")
    val b = keyed(toGen).withColumnRenamed("h", "h_to")
    a.join(b, Seq("key"), "full_outer")
      .withColumn("change",
        when($"h_from".isNull, lit("added"))
          .when($"h_to".isNull, lit("removed"))
          .when($"h_from" =!= $"h_to", lit("changed"))
          .otherwise(lit("unchanged")))
      .filter($"change" =!= "unchanged")
      .select($"key", $"change")
  }

  /** Stage `df` under a unique path, then atomically publish it as
    * generation `expectedGen`+1 iff no other writer got there first.
    */
  private def commit(df: DataFrame, expectedGen: Long): Long = {
    val next = expectedGen + 1
    val staged = s"$dir/data/g${next}_${java.util.UUID.randomUUID()}"
    df.write.mode("errorifexists").parquet(staged)
    fs.mkdirs(markerPath(next).getParent)
    // A12: the publish CAS is our write-side mutual exclusion — time it as
    // the analogue of the reference's localLock hold (server.go:616-626
    // records elapsed ms unconditionally via defer, conflict or not)
    val t0 = System.nanoTime()
    try {
      CommitMarker.publish(fs, markerPath(next), staged)
      next
    } catch {
      case e: CommitConflict =>
        fs.delete(new Path(staged), true) // only our own staging, never published data
        throw e
    } finally graft.Metrics.of(spark)
      .foreach(_.recordLockMs((System.nanoTime() - t0) / 1000000L))
  }

  /** Last-writer-wins merge of `docs` into the current map by `key` at the
    * given base generation (server.go:385-393). One shuffle by key; new rows
    * win over old via source-priority window dedup.
    *
    * SCHEMA EVOLVES across generations (`allowMissingColumns`): the
    * reference's documents are schema-free JSON maps — a doc simply may or
    * may not carry a field (server.go:347-354 only contracts the key) — so
    * a batch introducing a new column widens the table (old rows read null
    * there), and a batch missing a column leaves nulls for its OWN rows
    * (LWW replaces the whole document, pot-style; it does not column-merge).
    */
  private def upsertAt(docs: DataFrame, gen: Long): Long = {
    val stamped = docs
      .withColumn("_modified", current_timestamp())
      .withColumn("_src", lit(1))
    val merged =
      if (gen == 0L) stamped.drop("_src")
      else {
        val old = get().withColumn("_src", lit(0))
        val w = Window.partitionBy($"key").orderBy($"_src".desc)
        stamped.unionByName(old, allowMissingColumns = true)
          .withColumn("_rn", row_number().over(w))
          .filter($"_rn" === 1)
          .drop("_rn", "_src")
      }
    commit(merged, gen)
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
    */
  def replace(docs: DataFrame): Long = {
    val stamped = docs.withColumn("_modified", current_timestamp())
    commit(stamped, generation)
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
      val conflicts = get()
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

  /** Remove (multi-key delete, server.go:494-548): left-anti join; deleting
    * absent keys is a no-op, like the reference's `delete(content, key)`.
    */
  def remove(keys: Seq[String]): Long = {
    // A12: the operation-level counter (server_routes.go:155-157); the
    // anti-join rewrite below still counts as an engine write — see Metrics
    graft.Metrics.of(spark).foreach(_.recordRemove())
    val gen = generation
    if (gen == 0L) return 0L
    val keysDf = keys.toDF("key")
    commit(get().join(broadcast(keysDf), Seq("key"), "left_anti"), gen)
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
    commit(get().filter(!coalesce(pred, lit(false))), gen)
  }

  /** Admin recovery for a generation wedged by a crashed writer AND a
    * crashed reclaimer (see [[CommitMarker.publish]]'s failure-mode note).
    * Caller guarantees no writer is live. Returns repaired generations.
    */
  def repair(): Seq[Long] =
    CommitMarker.repair(fs, new Path(s"$dir/_commits"))

  /** Snapshot/export (Zip, server.go:550-614): materialize the current
    * version to an export directory. Returns the manifest.
    */
  def snapshot(outDir: String): DataFrame = {
    val gen = generation
    if (gen > 0L) get().write.mode("overwrite").parquet(s"$outDir/$path")
    Seq((path, gen)).toDF("path", "generation")
  }

  /** Delete staged data directories no marker references (lost races,
    * superseded generations older than `retainGenerations`). Readers pin a
    * generation at scan start, so retention gives in-flight reads a grace
    * window instead of deleting under them. Staged names encode their
    * TARGET generation (`g<N>_<uuid>`): a dir with N > the committed
    * generation belongs to a concurrent writer that staged but has not yet
    * won the CAS — deleting it would let that writer publish pointers to
    * missing files, so vacuum always skips it.
    */
  def vacuum(retainGenerations: Int = 1): Unit = {
    val gen = generation
    val dataRoot = new Path(s"$dir/data")
    if (!fs.exists(dataRoot)) return
    // compare by the uuid-unique staged dir NAME to sidestep scheme/prefix
    // differences between marker content and FileStatus paths
    val keep = ((math.max(1L, gen - retainGenerations)) to gen)
      .filter(g => fs.exists(markerPath(g)))
      .map(g => new Path(readMarker(g)).getName).toSet
    val StagedGen = "^g(\\d+)_.*".r
    fs.listStatus(dataRoot).foreach { st =>
      val name = st.getPath.getName
      val inFlight = name match {
        case StagedGen(g) => g.toLong > gen
        case _            => false
      }
      if (!inFlight && !keep.contains(name)) fs.delete(st.getPath, true)
    }
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
    val rows = listPaths(spark, root).map { p =>
      val t = PotTable(spark, root, p)
      val gen = t.generation
      if (gen > 0L) t.get().write.mode("overwrite").parquet(s"$outDir/$p")
      (p, gen)
    }
    val manifest = rows.toDF("path", "generation")
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
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
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
    val fs = bp.getFileSystem(spark.sparkContext.hadoopConfiguration)
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
        if (srcGen > 0L) t.upsert(spark.read.parquet(s"$tmp/$p"))
        (p, srcGen, t.generation)
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
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
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
