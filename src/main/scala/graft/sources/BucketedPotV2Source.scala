package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** SQL DML front door for the BUCKETED pot store (u22) — the write half
  * the r13 verdict called for, designed the Spark-first way: the store is
  * a SHARDED POT — `nBuckets` independent pot objects laid out as
  * `<root>/_b=<i>/data.json`, keys routed by `xxhash64(key) pmod n` (the
  * same bucket function as [[graft.kv.BucketedPotTable]]). Every shard is
  * a full pot chain, so the whole u14–u20 connector surface composes per
  * bucket for free:
  *
  *   - READ: the existing glob scan — one partition per bucket, pushed
  *     key/pot_file filters, pushed counts, delta-headed chain folding —
  *     PLUS bucket pruning: an exact `key = 'k'` / `key IN (...)`
  *     predicate resolves its bucket(s) at PLANNING and the scan opens
  *     only those objects (the SQL analogue of BucketedPotTable's point
  *     get);
  *   - INSERT INTO (append): task writers route rows to per-bucket
  *     fragments; the driver commits each TOUCHED bucket through the pot
  *     LWW merge-snapshot-CAS core with `retryOnConflict` — concurrent
  *     SQL writers serialize per bucket and BOTH land (no lost update);
  *   - INSERT OVERWRITE / TRUNCATE: every existing bucket rewrites
  *     (touched buckets to their new content, untouched to empty);
  *   - DELETE FROM (exact key shapes): metadata path — only the buckets
  *     the keys hash to are rewritten; non-exact shapes fall back to the
  *     row-level rewrite like the single pot;
  *   - MERGE INTO / UPDATE: delta-based row-level ops. The operation
  *     captures each bucket's head generation at build, PINS its scan to
  *     those generations (the r14 discipline: scan content and the
  *     conflict check are the same state), and commits each touched
  *     bucket's delta fragments with `expectedHeadGen` — a concurrent
  *     writer on any touched bucket is a loud CommitConflict, never a
  *     delta applied over unseen state.
  *
  * Atomicity contract (r15 — statement-atomic for READERS too): every
  * multi-bucket statement runs behind a [[BucketedStmtLog]] barrier —
  * intent CAS'd before any bucket commits (readers cap those buckets at
  * the pre-statement BASE generations), per-bucket commits tagged for
  * exactly-once adoption, done marker flipping the whole statement
  * visible atomically. A reader planned mid-statement sees NONE of it,
  * never a committed prefix. Crash mid-statement => readers keep the
  * pre-statement view and `BucketedPotV2Source.recoverStatements` rolls
  * forward from the staged fragments; a conflict-failed MERGE drops its
  * barrier (prefix visible, the pre-r15 reality for exactly that case)
  * and re-raises for the user to re-run. What can never happen is a lost
  * update, a torn bucket, or a silently half-seen successful statement.
  *
  * Scale: an upsert of k keys touches at most k buckets regardless of
  * table size (write amplification bounded by the CHANGE SET, not the
  * table — reference server.go:396-400 rewrites the whole object); reads
  * fan out one task per bucket; point reads open one object. The
  * per-bucket ceiling is the pot ceiling — size buckets via the
  * `buckets` option so each shard stays a driver-memory unit.
  */
class BucketedPotV2Source extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PotV2Source.schemaWith(
      PotV2Source.parseShred(Option(options.get("shred"))))
  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val root = properties.get("path")
    val shred = PotV2Source.parseShred(Option(properties.get("shred")))
    val supplied = Option(properties.get("buckets")).map(_.toInt)
    // r15: the store is SELF-DESCRIBING — the persisted `_meta/buckets`
    // modulus is authoritative. A supplied count must match it (mismatch
    // fails loudly at planning, never a silently mis-pruned point read or
    // a mis-routed write); omitting the count reads the stored value.
    // Bad paths skip resolution so the table's own require fires first.
    val n =
      if (root == null || root.isEmpty || PotV2Source.isGlob(root))
        supplied.getOrElse(graft.kv.BucketMeta.DefaultBuckets)
      else BucketedPotV2Source.resolveBuckets(root, supplied)
    new BucketedPotV2Table(root, n, shred)
  }
  override def supportsExternalMetadata(): Boolean = true
}

object BucketedPotV2Source {
  def bucketPot(root: String, b: Int): String = s"$root/_b=$b/data.json"

  /** The store root's FileSystem under the running session's conf: one
    * conf snapshot, so a statement or write takes it once and passes it
    * to the helpers below and to [[BucketedStmtLog]]. */
  private[graft] def fsOf(root: String): FileSystem =
    new Path(root).getFileSystem(PotV2Source.sessionConf())

  /** Buckets that currently exist on disk (have a data.json). */
  def existingBuckets(fs: FileSystem, root: String, n: Int): Seq[Int] =
    (0 until n).filter(b => fs.exists(new Path(bucketPot(root, b))))

  /** Resolve the routing modulus against the persisted `_meta/buckets`
    * marker — stored is authoritative, a differing supplied count is a
    * loud [[graft.kv.BucketMeta.BucketCountMismatch]], a count-free open
    * of a pre-meta live store fails asking for the count once.
    */
  def resolveBuckets(root: String, supplied: Option[Int]): Int = {
    val p = new Path(root)
    val fs = fsOf(root)
    graft.kv.BucketMeta.resolve(fs, p, supplied,
      storeLive =
        Option(fs.globStatus(new Path(root, "_b=*"))).exists(_.nonEmpty))
  }

  /** Stamp the modulus at the write front door (idempotent CAS). */
  def stampBuckets(fs: FileSystem, root: String, n: Int): Unit =
    graft.kv.BucketMeta.stamp(fs, new Path(root), n)

  /** Crash recovery: roll every open multi-bucket statement forward from
    * its staged fragments and flip it visible (see [[BucketedStmtLog]]).
    * Returns the completed statement ids.
    */
  def recoverStatements(root: String): Seq[String] =
    BucketedStmtLog.recover(fsOf(root), root)

  /** Head generation per existing bucket (the row-level ops' pin vector). */
  def headVector(fs: FileSystem, root: String, n: Int): Map[Int, Long] =
    existingBuckets(fs, root, n).map { b =>
      val commits = new Path(new Path(bucketPot(root, b)).getParent, ".commits")
      b -> graft.kv.CommitMarker.head(fs, commits)
    }.toMap

  /** u55 (r18): TIMESTAMP AS OF over the whole BUCKETED store — the
    * wall-clock instant resolved to a PER-BUCKET generation vector:
    * each bucket reads its youngest generation whose marker mtime is
    * <= the instant (u46's commit clock, per chain; between-commits →
    * the EARLIER generation, Delta/Iceberg's rule), then the vector is
    * capped by [[BucketedStmtLog.capsAt]] — an instant inside ANY
    * multi-bucket statement's barrier window (open, crashed, completed,
    * or aborted; the `_stmts/closed` journal keeps the windows) reads
    * that statement's buckets at their PRE-statement base generations,
    * so the statement is none-or-all at every historical instant
    * exactly as it was for live readers. Cap 0 = the bucket had no
    * commit yet (reads empty); an instant predating EVERY bucket's
    * first commit fails NAMED at planning, mirroring u46.
    */
  def asOfVector(root: String, n: Int, millis: Long): Map[Int, Long] = {
    val fs = fsOf(root)
    val resolved = existingBuckets(fs, root, n).map { b =>
      val commits =
        new Path(new Path(bucketPot(root, b)).getParent, ".commits")
      val fit = graft.kv.CommitMarker.committedGenerations(fs, commits)
        .filter(g => fs.getFileStatus(new Path(commits, g.toString))
          .getModificationTime <= millis)
      b -> (if (fit.isEmpty) 0L else fit.max)
    }.toMap
    require(resolved.values.exists(_ > 0L),
      s"BucketedPotV2Source: timestampAsOf $millis predates the earliest " +
        s"commit of every bucket under $root — nothing existed yet")
    val winCaps = BucketedStmtLog.capsAt(root, millis)
    val vector = resolved.map { case (b, g) =>
      b -> math.min(g, winCaps.getOrElse(b, Long.MaxValue))
    }
    // r19 ADVICE: retention guard at PLANNING (the single-pot
    // generation-pin contract brought to the bucketed AS OF path) — an
    // instant older than vacuum_pot_retain's window can resolve to a
    // generation whose chain artifacts were reclaimed; verify each
    // bucket's needed artifacts exist and raise the NAMED
    // RetentionViolated here, never a raw executor FileNotFoundException
    vector.foreach { case (b, g) =>
      if (g > 0L) {
        val commits =
          new Path(new Path(bucketPot(root, b)).getParent, ".commits")
        val body = PotChain.artifactOf(fs, commits, g)
        val needed: Seq[String] =
          if (PotChain.isSnap(body)) Seq(body)
          else {
            val (snap, dgens) = PotChain.chainRun(fs, commits, g)
            snap.toSeq ++ dgens
          }
        val gone = needed.filterNot(p => fs.exists(new Path(p)))
        if (gone.nonEmpty)
          throw new graft.kv.PotTable.RetentionViolated(
            s"bucketed pot $root bucket $b: timestampAsOf $millis resolves " +
              s"to generation $g whose ${gone.size} chain artifact(s) were " +
              s"vacuumed (first: ${gone.head}) — the retention window has " +
              "passed this instant; pin vacuum_pot_retain's window above " +
              "the oldest instant readers still need")
      }
    }
    vector
  }

  /** BUCKETED shallow clone (r17 — u42's clonePot composed over a whole
    * store): clone every bucket's marker chain + head materialization,
    * stamp the target's `_meta/buckets` with the source's modulus
    * (stamp-once CAS; a differing pre-existing stamp is a loud
    * mismatch), and carry NO statement log — open multi-bucket
    * statements are rolled FORWARD first ([[recoverStatements]], the
    * r16 auto-recovery made a clone precondition), so the cloned
    * buckets are a statement-consistent frontier and the clone starts
    * with clean statement history. Z-order layouts (q85) are NOT
    * cloned: a layout is a derived acceleration artifact the clone can
    * re-`cluster()` — copying would share layout paths the source's
    * `vacuumLayouts` may retire (the same borrowed-artifact hazard the
    * per-bucket ownership guard already covers for chain bodies).
    * Per-bucket clones inherit clonePot's idempotent RESUME: a
    * mid-clone crash (some buckets cloned, some not) re-runs to
    * completion; a target bucket with divergent writes fails loudly.
    * Same retention contract as clonePot: the source's retention must
    * outlive every clone's pinned-read horizon. Returns (bucket,
    * generation) per cloned marker.
    */
  def cloneBucketedPot(srcRoot: String, dstRoot: String)
      : Seq[(Int, Long)] = {
    val srcP = new Path(srcRoot)
    val fs = fsOf(srcRoot)
    val n = graft.kv.BucketMeta.stored(fs, srcP).getOrElse(
      throw new IllegalArgumentException(
        s"cloneBucketedPot: $srcRoot has no _meta/buckets stamp — not a " +
          "bucketed store (clone single pots with clonePot)"))
    // statement-consistent frontier: roll crashed statements forward,
    // then refuse while any statement is still OPEN (a live writer's
    // intent window; cloning mid-statement would freeze a prefix)
    BucketedStmtLog.recover(fs, srcRoot)
    val open = BucketedStmtLog.openStatements(fs, srcRoot)
    require(open.isEmpty,
      s"cloneBucketedPot: $srcRoot has ${open.size} open statement(s) " +
        s"(first: ${open.head._1}) — quiesce writers or CALL " +
        "recover_statements, then re-run")
    graft.kv.BucketMeta.stamp(fs, new Path(dstRoot), n)
    val stamped = graft.kv.BucketMeta.stored(fs, new Path(dstRoot))
    require(stamped.contains(n),
      s"cloneBucketedPot: target $dstRoot is stamped with " +
        s"${stamped.getOrElse(-1)} buckets, source has $n — refusing to " +
        "mix moduli")
    existingBuckets(fs, srcRoot, n).flatMap { b =>
      PotV2Source.clonePot(fs, bucketPot(srcRoot, b), bucketPot(dstRoot, b))
        .map(g => (b, g))
    }
  }
}

/** `keySpj` (u54): report the `bucket(n, key)` scan partitioning — set
  * ONLY by [[GraftFunctionCatalog.loadTable]], because the transform
  * resolves against the loading catalog's FunctionCatalog. A table
  * reached any other way must NOT report it: the session catalog
  * (`spark_catalog`) THROWS resolving an empty-namespace function
  * (REQUIRES_SINGLE_PART_NAMESPACE — found live, r18), and a path-based
  * read has no catalog at all. */
private[sources] class BucketedPotV2Table(root: String, nBuckets: Int,
    shred: Seq[(String, Seq[String],
      org.apache.spark.sql.types.DataType)] = Nil,
    keySpj: Boolean = false)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {
  require(root != null && root.nonEmpty,
    "BucketedPotV2Source: .option(\"path\", <bucket root dir>) is required")
  require(!PotV2Source.isGlob(root),
    s"BucketedPotV2Source: path must be the bucket ROOT directory, not a " +
      s"glob (the connector shards it): $root")
  require(nBuckets >= 1, s"BucketedPotV2Source: buckets must be >= 1")

  override def name(): String = s"bucketed-pot:$root[$nBuckets]"
  override def schema(): StructType = PotV2Source.schemaWith(shred)

  /** u32 — the same `_pot_gen` hidden column as the single-pot table
    * ([[PotV2Table.metadataColumns]]): per-bucket generation provenance,
    * since each bucket keeps its own chain. */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    PotV2Source.MetadataCols
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE)

  /** u54: the store's declared layout — one `bucket(n, key)` transform,
    * the catalog-visible twin of the scan-reported partitioning. */
  override def partitioning(): Array[Transform] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .bucket(nBuckets, "key"))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // u55: wall-clock read of the whole store (per-bucket mtime
    // resolution + the statement-window caps — see asOfVector)
    val asOf = Option(options.get("timestampAsOf"))
      .map(PotV2Source.parseTsMillis)
    new BucketedPotScanBuilder(root, nBuckets, shred, asOf,
      keyGrain = if (keySpj) Some(nBuckets) else None)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new BucketedPotWriteBuilder(root, nBuckets, info)

  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation =
        new BucketedPotRowLevelOperation(root, nBuckets, info.command())
    }

  /** Metadata DELETE: exact key shapes rewrite only the buckets the keys
    * hash to; exact pot_file shapes prune likewise; anything else
    * declines to the row-level rewrite. */
  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall(PotV2Filters.deletable)

  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    import org.apache.spark.sql.sources.{EqualTo, In}
    val fs = BucketedPotV2Source.fsOf(root)
    BucketedPotV2Source.stampBuckets(fs, root, nBuckets)
    // buckets named by exact key predicates; other deletable shapes
    // (prefix, pot_file) cannot be hashed — those touch every bucket
    val keyBuckets: Option[Set[Int]] = filters.collectFirst {
      case EqualTo("key", k: String) =>
        Set(graft.kv.BucketMeta.bucketOf(k, nBuckets))
      case In("key", vs) =>
        vs.map(v => graft.kv.BucketMeta.bucketOf(v.toString, nBuckets)).toSet
    }
    val existing = BucketedPotV2Source.existingBuckets(fs, root, nBuckets)
    val touched = keyBuckets.fold(existing)(bs => existing.filter(bs))
    // r15 statement barrier (filters serialized into the intent — the
    // roll-forward source for a crashed multi-bucket DELETE)
    val qid = java.util.UUID.randomUUID().toString
    val barrier = touched.length > 1
    if (barrier) {
      // beginFresh: base re-read after the intent CAS (ADVICE r15 — a
      // commit landing in the read-then-publish window stays visible)
      BucketedStmtLog.beginFresh(fs, root, qid, touched,
        () => BucketedPotV2Source.headVector(fs, root, nBuckets),
        base => BucketedStmtLog.intentBody(
          "delete", qid, truncate = false, 0L, touched, base,
          Map.empty, Some(filters)))
    }
    try touched.foreach { b =>
      new PotV2Table(BucketedPotV2Source.bucketPot(root, b))
        .deleteWhere(filters)
    } catch {
      case e: graft.kv.PotTable.CommitConflict if barrier =>
        BucketedStmtLog.abort(fs, root, qid, Seq.empty)
        throw e
    }
    if (barrier) BucketedStmtLog.complete(fs, root, qid, Seq.empty)
  }
}

/** The glob scan plus PLANNING-time bucket pruning: exact key predicates
  * hash to their bucket objects and join the pushed pot_file filters, so
  * a point SELECT over a 1000-bucket store opens one object. */
private[sources] class BucketedPotScanBuilder(root: String, nBuckets: Int,
    shred: Seq[(String, Seq[String],
      org.apache.spark.sql.types.DataType)] = Nil,
    asOfMillis: Option[Long] = None,
    keyGrain: Option[Int] = None)
    extends PotV2ScanBuilder(s"$root/_b=*/data.json", None, shred) {
  import org.apache.spark.sql.sources._

  private def qualifiedPath(b: Int): String = {
    val p = new Path(BucketedPotV2Source.bucketPot(root, b))
    // qualify like globStatus qualifies matched files, or the string
    // comparison in PotV2Filters.accepts would prune EVERYTHING
    p.getFileSystem(conf).makeQualified(p).toString
  }

  private def qualifiedBucket(k: String): String =
    qualifiedPath(graft.kv.BucketMeta.bucketOf(k, nBuckets))

  /** u54 (r18): key-grain `KeyGroupedPartitioning(bucket(nBuckets, key))`
    * — each partition is one bucket, its partition key the bucket id, so
    * same-modulus key-equi-joins between two stores read through the
    * graft catalog plan exchange-free (see
    * [[PotV2Scan.outputPartitioning]]; catalog-loaded tables only —
    * the keySpj gate above). */
  override protected def keyBucketGrain: Option[Int] = keyGrain

  /** r15 statement-atomicity barrier: open statements cap their buckets
    * at the pre-statement base generation — a reader planned mid-
    * statement sees NONE of it; the done marker flips it visible whole.
    * u55: an AS OF read caps EVERY bucket at its wall-clock-resolved
    * generation instead (statement windows already folded in —
    * [[BucketedPotV2Source.asOfVector]]); the capped-scan machinery
    * (eff = min(head, cap), cap 0 = skip) serves both identically.
    */
  override protected def capResolver: Option[() => Map[String, Long]] =
    asOfMillis match {
      case Some(t) => Some(() =>
        BucketedPotV2Source.asOfVector(root, nBuckets, t).map {
          case (b, g) => qualifiedPath(b) -> g
        })
      case None => Some(() =>
        BucketedStmtLog.caps(BucketedPotV2Source.fsOf(root), root).map { case (b, g) =>
        qualifiedPath(b) -> g
      })
    }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val rest = super.pushFilters(filters)
    val derived: Array[Filter] = pushed.flatMap {
      case EqualTo("key", k: String) =>
        Some(In("pot_file", Array[Any](qualifiedBucket(k))))
      case In("key", vs) if vs.nonEmpty =>
        Some(In("pot_file",
          vs.map(v => qualifiedBucket(v.toString): Any).distinct))
      case _ => None
    }
    pushed = pushed ++ derived
    rest
  }
}

// ============================ write path =================================

private[sources] class BucketedPotWriteBuilder(
    root: String, nBuckets: Int, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  private var truncateFirst = false
  override def truncate(): WriteBuilder = { truncateFirst = true; this }
  override def build(): Write = {
    val ceiling = Option(info.options.get("maxObjectBytes")).map(_.toLong)
      .getOrElse(PotV2Source.DefaultMaxObjectBytes)
    new BucketedPotWrite(root, nBuckets, info.schema(), info.queryId(),
      truncateFirst, ceiling)
  }
}

/** A [[PotFragmentWriterFactory]] task's fragments, one per touched
  * bucket (`(bucket, fragment path)`); a plain pot's are all bucket 0. */
private[graft] case class BucketFragmentsMessage(
    partitionId: Int, fragments: Seq[(Int, String)])
    extends WriterCommitMessage

private[graft] object BucketFragmentsMessage {
  /** Task messages regrouped per bucket as the per-bucket pot commits
    * take them; each commit merges in partition order. */
  def perBucket(messages: Array[WriterCommitMessage])
      : Map[Int, Seq[PotFragmentMessage]] =
    messages.toSeq
      .collect { case m: BucketFragmentsMessage => m }
      .flatMap(m => m.fragments.map { case (b, f) =>
        (b, PotFragmentMessage(m.partitionId, f)) })
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
}

private[graft] class BucketedPotWrite(
    root: String, nBuckets: Int, schema: StructType, queryId: String,
    truncateFirst: Boolean, maxObjectBytes: Long)
    extends Write with BatchWrite {

  private[sources] val keyIdx = schema.fieldNames.indexOf("key")
  private[sources] val docIdx = schema.fieldNames.indexOf("doc_json")
  require(keyIdx >= 0 && docIdx >= 0,
    s"BucketedPotV2Source write needs key + doc_json columns, got $schema")

  private def stagingDir = new Path(root, s".staging-$queryId")
  private def qid8 = queryId.replace("-", "").take(8)
  private[sources] def stagingBase: String = stagingDir.toString
  /** The session conf every bucket commit and fragment task resolves
    * FileSystems from ([[PotV2Source.sessionConf]]). */
  private[sources] lazy val conf = PotV2Source.sessionConf()
  private[sources] lazy val writerFactory = new PotFragmentWriterFactory(
    PotV2Source.broadcastConf(conf), stagingBase, nBuckets, keyIdx, docIdx)

  override def toBatch: BatchWrite = this

  /** Streaming half (st20): each micro-batch epoch routes its rows to
    * per-bucket fragments and commits every touched bucket through the
    * SINGLE-pot streaming epoch path — O(change-set) delta generations
    * with threshold compaction per shard, epoch-tag adoption per
    * (query, epoch) on every chain (a replayed epoch re-commits only the
    * buckets that have not adopted yet — per-bucket exactly-once).
    * Complete mode (truncate) replaces the WHOLE store each epoch:
    * touched buckets rewrite, untouched existing buckets empty. The
    * sharded store thus ingests a stream at change-set cost per shard —
    * the 100 TB firehose shape: keys fan out across buckets, each
    * bucket's chain grows by its own epoch delta.
    */
  override def toStreaming
      : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
    new BucketedPotStreamingWrite(this)

  private[sources] def commitEpoch(
      epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    commitStatement(messages, Some(epochId))

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = writerFactory

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    commitStatement(messages, None)

  /** One statement over the buckets its rows touch: a batch INSERT
    * (`epoch` None) or a streaming epoch. Overwrite rewrites EVERY
    * existing bucket (untouched ones to empty); append touches only the
    * buckets with incoming rows.
    *
    * r15 statement barrier: a multi-bucket statement publishes an INTENT
    * (readers cap at the base vector — none-or-all visibility) before
    * any bucket commits, and flips DONE after the last; beginFresh
    * re-reads the base after the intent CAS (ADVICE r15). Single-bucket
    * statements are already atomic in their one chain commit. A
    * checkpoint-replayed epoch adopts its own existing intent (the
    * original base vector is the correct cap).
    *
    * Each bucket commit is statement-tagged, so a re-run adopts the
    * buckets it already committed (exactly-once per bucket), and retries
    * on conflict, so concurrent writers serialize per bucket and both
    * land. A batch statement commits each bucket as a snapshot; an epoch
    * routes through [[PotV2Write.commitEpoch]] (per-shard delta
    * generations with threshold compaction).
    */
  private def commitStatement(messages: Array[WriterCommitMessage],
      epoch: Option[Long]): Unit = {
    val fs = new Path(root).getFileSystem(conf)
    BucketedPotV2Source.stampBuckets(fs, root, nBuckets)
    val perBucket = BucketFragmentsMessage.perBucket(messages)
    val buckets: Seq[Int] =
      if (truncateFirst)
        (perBucket.keySet ++
          BucketedPotV2Source.existingBuckets(fs, root, nBuckets)).toSeq.sorted
      else perBucket.keySet.toSeq.sorted
    val stmtId = queryId + epoch.fold("")(e => s"-e$e")
    val tag = s"q$qid8" + epoch.fold("")(e => s"e$e")
    val staging = new Path(stagingBase + epoch.fold("")(e => s"-e$e"))
    val barrier = buckets.length > 1
    if (barrier)
      BucketedStmtLog.beginFresh(fs, root, stmtId, buckets,
        () => BucketedPotV2Source.headVector(fs, root, nBuckets),
        base => BucketedStmtLog.intentBody(
          if (epoch.isDefined) "epoch" else "insert", queryId,
          truncateFirst, maxObjectBytes, buckets, base,
          perBucket.view.mapValues(_.map(m =>
            (m.partitionId, m.fragment))).toMap, epoch = epoch),
        adoptExisting = epoch.isDefined)
    buckets.foreach { b =>
      val w = new PotV2Write(BucketedPotV2Source.bucketPot(root, b),
        PotV2Source.Schema, s"$queryId-b$b", truncateFirst, maxObjectBytes,
        conf = conf)
      val msgs = perBucket.getOrElse(b, Nil).toArray[WriterCommitMessage]
      val done = new Path(staging, s"done-b$b")
      if (epoch.isDefined) w.commitEpoch(msgs, tag, done)
      else w.commitEntries(msgs, truncate = truncateFirst, snapTag = Some(tag),
        retryOnConflict = true, staging = done)
    }
    if (barrier) BucketedStmtLog.complete(fs, root, stmtId, Seq(staging))
    else fs.delete(staging, true)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    stagingDir.getFileSystem(conf).delete(stagingDir, true)
}

private[graft] class BucketedPotStreamingWrite(write: BucketedPotWrite)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    write.writerFactory
  override def commit(
      epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    write.commitEpoch(epochId, messages)
  override def abort(
      epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val staging = new Path(write.stagingBase + s"-e$epochId")
    staging.getFileSystem(write.conf).delete(staging, true)
  }
}

// ===================== row-level ops (MERGE / UPDATE) ====================

private[sources] class BucketedPotRowLevelOperation(
    root: String, nBuckets: Int, cmd: RowLevelOperation.Command)
    extends SupportsDelta {
  // per-bucket head generations captured at BUILD: the scan pins to this
  // vector and every touched bucket's commit expects it — scan content
  // and conflict check are the same state on every shard
  private val observed: Map[Int, Long] = BucketedPotV2Source.headVector(
    BucketedPotV2Source.fsOf(root), root, nBuckets)

  override def command(): RowLevelOperation.Command = cmd

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new BucketedPinnedScanBuilder(root, observed)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite =
        new BucketedPotDeltaWrite(root, nBuckets, info, observed)
    }

  override def rowId()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("key"))
}

/** Generation-pinned multi-bucket scan: one partition per bucket, each
  * pinned to the generation the row-level operation captured. */
private[sources] class BucketedPinnedScanBuilder(
    root: String, observed: Map[Int, Long])
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = PotV2Source.Schema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new Scan with Batch {
    override def readSchema(): StructType = required
    override def toBatch: Batch = this
    override def description(): String =
      s"BucketedPotPinnedScan(root=$root, gens=${observed.toSeq.sorted})"
    private lazy val conf = PotV2Source.sessionConf()
    private lazy val taskConf = PotV2Source.broadcastConf(conf)
    override def planInputPartitions(): Array[InputPartition] = {
      val fs = new Path(root).getFileSystem(conf)
      observed.toSeq.sorted.flatMap { case (b, g) =>
        val pot = new Path(BucketedPotV2Source.bucketPot(root, b))
        if (g > 0) {
          val commits = new Path(pot.getParent, ".commits")
          val body = PotChain.artifactOf(fs, commits, g)
          // same retention guard as the single-pot pinned scan: a
          // bucket generation vacuumed between op build and scan is a
          // loud named failure at planning, never an executor FNF
          if (PotChain.isSnap(body) && !fs.exists(new Path(body)))
            throw new graft.kv.PotTable.RetentionViolated(
              s"bucketed pot $root bucket $b generation $g: snapshot " +
                "body was vacuumed between operation build and scan — " +
                "re-run the statement (it will pin the new head)")
          Some(if (PotChain.isSnap(body)) PotFilePartition(body, g)
            else PotStatePartition(pot.getParent.toString, g, body)
            : InputPartition)
        } else if (fs.exists(pot)) Some(PotFilePartition(pot.toString))
        else None
      }.toArray
    }
    override def createReaderFactory(): PartitionReaderFactory =
      new PotV2ReaderFactory(taskConf, required.fieldNames, Array.empty, None)
  }
}

private[graft] class BucketedPotDeltaWrite(
    root: String, nBuckets: Int, info: LogicalWriteInfo,
    observed: Map[Int, Long])
    extends DeltaWrite with DeltaBatchWrite {
  private val rowKeyIdx = info.schema().fieldNames.indexOf("key")
  private val rowDocIdx = info.schema().fieldNames.indexOf("doc_json")
  require(info.schema().isEmpty || (rowKeyIdx >= 0 && rowDocIdx >= 0),
    s"delta write needs key + doc_json in the row schema, got ${info.schema()}")
  private val idKeyIdx = info.rowIdSchema()
    .map[Int](s => s.fieldNames.indexOf("key")).orElse(-1)
  require(idKeyIdx >= 0,
    s"delta write needs key in the rowId schema, got ${info.rowIdSchema()}")
  private val ceiling = Option(info.options.get("maxObjectBytes"))
    .map(_.toLong).getOrElse(PotV2Source.DefaultMaxObjectBytes)

  private def stagingDir = new Path(root, s".staging-${info.queryId()}")
  private lazy val conf = PotV2Source.sessionConf()

  override def toBatch: DeltaBatchWrite = this

  override def createBatchWriterFactory(
      pinfo: PhysicalWriteInfo): DeltaWriterFactory =
    new PotFragmentWriterFactory(PotV2Source.broadcastConf(conf),
      stagingDir.toString, nBuckets, rowKeyIdx, rowDocIdx, idKeyIdx)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(root).getFileSystem(conf)
    BucketedPotV2Source.stampBuckets(fs, root, nBuckets)
    val perBucket = BucketFragmentsMessage.perBucket(messages)
    val buckets = perBucket.keys.toSeq.sorted
    val qid8 = info.queryId().replace("-", "").take(8)
    // r15 statement barrier (see BucketedStmtLog): base = the op's pinned
    // generation vector — scan content, conflict check and reader cap are
    // all the same state
    val barrier = buckets.length > 1
    if (barrier)
      BucketedStmtLog.begin(fs, root, info.queryId(),
        BucketedStmtLog.intentBody("delta", info.queryId(),
          truncate = false, ceiling, buckets,
          buckets.map(b => b -> observed.getOrElse(b, 0L)).toMap,
          perBucket.view.mapValues(_.map(m =>
            (m.partitionId, m.fragment))).toMap))
    try buckets.foreach { b =>
      val pot = BucketedPotV2Source.bucketPot(root, b)
      val w = new PotV2Write(pot, PotV2Source.Schema,
        s"${info.queryId()}-b$b", truncateFirst = false, ceiling,
        conf = conf)
      // statement-tagged so a crashed statement's recovery adopts the
      // buckets it already committed instead of re-raising its own
      // generation as a conflict
      w.commitEntries(
        perBucket(b).toArray[WriterCommitMessage],
        truncate = false, snapTag = Some(s"q$qid8"),
        retryOnConflict = false,
        staging = new Path(stagingDir, s"done-b$b"),
        expectedHeadGen = Some(observed.getOrElse(b, 0L)))
    } catch {
      case e: graft.kv.PotTable.CommitConflict if barrier =>
        // conflict-failed statement: barrier down, prefix visible, loud
        // re-run signal — see BucketedStmtLog.abort
        BucketedStmtLog.abort(fs, root, info.queryId(), Seq(stagingDir))
        throw e
    }
    if (barrier)
      BucketedStmtLog.complete(fs, root, info.queryId(), Seq(stagingDir))
    else fs.delete(stagingDir, true)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    stagingDir.getFileSystem(conf).delete(stagingDir, true)
}
