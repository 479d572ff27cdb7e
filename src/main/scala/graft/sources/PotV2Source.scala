package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsMetadataColumns, SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** DataSource V2 connector for the reference's native pot storage — one
  * `data.json` pot object per pot path (server.go:212-214, 318-331), plus
  * this engine's generation chain; [[PotChain]] states every format.
  *
  * [[PotJson]] is the dataflow form (wholetext + from_json); this is the
  * CONNECTOR form a Spark-native engine exposes so pot buckets are tables:
  *
  *   spark.read.format("graft.sources.PotV2Source")
  *     .option("path", "s3://bucket/pots/&lt;glob&gt;/data.json").load()
  *
  * Architecture (the real V2 contract, not a wrapper):
  *   - TableProvider/Table with BATCH_READ;
  *   - planning globs the path DRIVER-side and emits ONE InputPartition
  *     per pot object — a pot bucket with 10k paths scans with 10k
  *     embarrassingly-parallel tasks, no shuffle, no driver JSON work;
  *   - each PartitionReader streams its file through Jackson (the JSON
  *     parser already on Spark's classpath) and emits (pot_file, key,
  *     doc_json) InternalRows;
  *   - SupportsPushDownRequiredColumns: column pruning reaches the
  *     reader, so `SELECT key` never materializes document bodies —
  *     the V2 analogue of the parquet ReadSchema discipline the rest of
  *     the suite pins in plans.
  *
  * Schema is the fixed raw triple (documents vary per key — typing is the
  * client's job, exactly like the reference's `Client[T]`); compose with
  * `from_json` for typed reads. Keys are emitted in the file's own order
  * (Jackson preserves it); callers needing determinism sort — same
  * contract as the reference's Go map iteration being unordered.
  */
class PotV2Source extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PotV2Source.schemaWith(
      PotV2Source.parseShred(Option(options.get("shred"))))
  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new PotV2Table(properties.get("path"),
      PotV2Source.parseShred(Option(properties.get("shred"))))
  override def supportsExternalMetadata(): Boolean = true
}

object PotV2Source {
  val Schema: StructType = StructType(Seq(
    StructField("pot_file", StringType, nullable = false),
    StructField("key", StringType, nullable = false),
    StructField("doc_json", StringType, nullable = false)))

  /** Document-field SHREDDING (u45, r17): `.option("shred",
    * "field:type,field:type")` projects named TOP-LEVEL document fields
    * as real (nullable) read columns next to the raw triple — the u35
    * VARIANT idea surfaced where Catalyst can push into it. With the
    * fields first-class, an ordinary `WHERE region_key = 2` reaches the
    * scan builder as a plain column [[org.apache.spark.sql.sources
    * .Filter]], and the reader evaluates it during the streaming parse
    * BEFORE document stringification (the dominant per-entry cost) —
    * non-matching entries die as parse tokens, counted in the
    * `docSkippedEntries` custom metric. A shredded read that also drops
    * `doc_json` from its projection never stringifies ANY body. Types:
    * `string` and `bigint`; a missing field, JSON null, or type
    * mismatch reads as SQL NULL (never a coercion guess). Shredding is
    * a READ view — the write path's (key, doc_json) contract is
    * unchanged.
    */
  /** Shred spec entry: `field:type` for a top-level field, or
    * `alias=a.b.c:type` for a NESTED path (r17 — the dot walks
    * sub-objects during the same pre-stringify extraction; the alias
    * names the column, since dots in column names would fight SQL).
    * A dotted path without an alias is rejected loudly. */
  def parseShred(spec: Option[String])
      : Seq[(String, Seq[String], org.apache.spark.sql.types.DataType)] =
    spec.filter(_.trim.nonEmpty).map(_.split(",").toSeq.map { p =>
      val (alias0, rest) = p.split("=", 2) match {
        case Array(a, r) => (Some(a.trim), r)
        case _ => (None, p)
      }
      val (path, t) = rest.split(":") match {
        case Array(f, "string") =>
          (f.trim, StringType: org.apache.spark.sql.types.DataType)
        case Array(f, "bigint") =>
          (f.trim, org.apache.spark.sql.types.LongType
            : org.apache.spark.sql.types.DataType)
        case _ => throw new IllegalArgumentException(
          s"PotV2Source shred: expected '[alias=]path:string|bigint', " +
            s"got '${p.trim}'")
      }
      val segs = path.split("\\.").toSeq.map(_.trim)
      require(segs.nonEmpty && segs.forall(_.nonEmpty),
        s"PotV2Source shred: empty path in '${p.trim}'")
      require(segs.length == 1 || alias0.isDefined,
        s"PotV2Source shred: nested path '$path' needs an alias " +
          "('alias=a.b:type') — dots in column names would fight SQL")
      (alias0.getOrElse(segs.head), segs, t)
    }).getOrElse(Nil)

  def schemaWith(
      shred: Seq[(String, Seq[String], org.apache.spark.sql.types.DataType)])
      : StructType =
    StructType(Schema.fields.toSeq ++
      shred.map { case (f, _, t) => StructField(f, t, nullable = true) })

  /** The `_pot_gen` metadata column (u32): see
    * [[PotV2Table.metadataColumns]]. Shared by the single-pot and
    * bucketed tables so the hidden-column surface is identical. */
  val PotGenCol = "_pot_gen"
  val MetadataCols: Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name(): String = PotGenCol
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.LongType
      override def isNullable: Boolean = true
      override def comment(): String =
        "generation whose committed artifact supplied the row (the " +
          "covering snapshot for folded rows; NULL for raw legacy objects)"
    })

  /** True when `path` contains glob metacharacters (names MANY pot
    * objects). Single-object-only surfaces (write, generation pin, SQL
    * DELETE) reject globs through this one definition. */
  def isGlob(path: String): Boolean = path.exists(c => "*?[{".contains(c))

  /** The Hadoop conf a pot scan or write resolves its FileSystems from:
    * the conf of the session planning the query (`spark.hadoop.*` and
    * session-set `fs.<scheme>.*` included, as for Spark's own file
    * sources). A table, scan or write takes it once, when first needed
    * (a copy costs ~0.3 ms), and resolves each FileSystem from that copy
    * through Hadoop's FileSystem cache. Tasks never build one: they read
    * the scan's or write's [[broadcastConf]]. */
  private[graft] def sessionConf(): Configuration =
    SparkSession.active.sessionState.newHadoopConf()

  /** `conf` shipped to tasks as Spark's `FileScan` ships it: ONE
    * broadcast per scan or write, kept in a `lazy val` of its owner
    * (Spark may ask a scan for its reader factory more than once per
    * query). A conf serialises to ~110 KB, so embedding it in a factory,
    * partition or writer would cost every task a deserialisation; the
    * broadcast is fetched once per executor. */
  private[graft] def broadcastConf(conf: Configuration)
      : Broadcast[SerializableConfiguration] =
    SparkSession.active.sparkContext
      .broadcast(new SerializableConfiguration(conf))

  /** Unsigned UTF-8 byte comparison — the ONE string order the engine
    * uses everywhere a pushdown must be semantically invisible (key
    * extremes u49, TopN u28, zone maps u57): Spark's StringType order. */
  private[sources] def utf8Cmp(x: String, y: String): Int =
    java.util.Arrays.compareUnsigned(
      x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      y.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Does the prefix interval [pfx, nextPrefix(pfx)) meet [mn, mx] in
    * unsigned UTF-8 byte order? nextPrefix = the prefix's bytes with the
    * last non-0xFF byte incremented (trailing 0xFFs dropped); an
    * all-0xFF prefix has no upper bound. Conservative by construction:
    * any key startsWith(pfx) lies inside the interval, so a pot whose
    * zone map misses it provably holds no match (u57 prefix pruning —
    * the reference's list-by-prefix takedown shape). */
  private[sources] def prefixMeetsRange(
      pfx: String, mn: String, mx: String): Boolean = {
    if (utf8Cmp(mx, pfx) < 0) return false // whole pot below the prefix
    val b = pfx.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = b.length - 1
    while (i >= 0 && b(i) == 0xff.toByte) i -= 1
    if (i < 0) return true // no upper bound: prefix is all 0xFF
    val up = java.util.Arrays.copyOf(b, i + 1)
    up(i) = (up(i) + 1).toByte
    // kmin must sit BELOW the prefix's upper bound or the pot is past it
    java.util.Arrays.compareUnsigned(
      mn.getBytes(java.nio.charset.StandardCharsets.UTF_8), up) < 0
  }

  /** Pushable aggregate kinds (u12 COUNT; u49 adds MIN/MAX over the key
    * column — metadata-speed like the count: keys are parsed anyway,
    * document bodies never stringify). Key extremes compare in UNSIGNED
    * UTF-8 BYTE order — Spark's StringType MIN/MAX is UTF8String binary
    * comparison, and a pushdown must be semantically invisible (the
    * same rule pushTopN learned in r15). */
  sealed trait PotAgg extends Serializable
  case object AggCount extends PotAgg
  case object AggMinKey extends PotAgg
  case object AggMaxKey extends PotAgg
  /** u56 (r18): COUNT/MIN/MAX over a SHREDDED doc field — evaluated on
    * the pre-stringify extracted value (u45's machinery), so an
    * analytics aggregate over a 10k-object store returns per-object
    * tuples without ever rendering a document body. COUNT(field) counts
    * non-null extractions (SQL semantics); MIN/MAX ignore nulls, string
    * fields compare in unsigned UTF-8 byte order (the key-extreme rule),
    * bigint fields numerically. `t` rides along so the scan schema and
    * the fold agree on the value type without re-resolving the shred
    * spec. */
  case class AggCountShred(field: String) extends PotAgg
  case class AggMinShred(field: String,
      t: org.apache.spark.sql.types.DataType) extends PotAgg
  case class AggMaxShred(field: String,
      t: org.apache.spark.sql.types.DataType) extends PotAgg

  /** TIMESTAMP AS OF (u46, r17): resolve a wall-clock instant to the
    * write chain's generation — the youngest committed generation whose
    * marker mtime is <= the instant (a timestamp BETWEEN two commits
    * reads the EARLIER one: that was the table's state at that moment —
    * Delta/Iceberg's rule, spec-pinned). Marker mtimes are the commit
    * clock: a marker is created exactly once by the winning CAS and
    * never rewritten (hard-link publish), so its mtime IS the commit
    * instant. Accepts epoch millis (all digits) or
    * `yyyy-MM-dd HH:mm:ss[.f]` via java.sql.Timestamp (session-local
    * wall clock, same as the FS mtimes it resolves against). An instant
    * predating the first commit fails NAMED at planning — never a
    * silent empty read.
    */
  /** Epoch millis (all digits) or `yyyy-MM-dd HH:mm:ss[.f]` — shared by
    * the single-pot (u46) and bucketed (u55) AS OF resolvers. */
  private[sources] def parseTsMillis(ts: String): Long =
    if (ts.nonEmpty && ts.forall(_.isDigit)) ts.toLong
    else java.sql.Timestamp.valueOf(ts).getTime

  def resolveTimestampAsOf(path: String, ts: String): Long = {
    require(!isGlob(path),
      s"PotV2Source: timestampAsOf reads need ONE pot object, not a glob: $path")
    val p = new Path(path)
    val fs = p.getFileSystem(sessionConf())
    val commits = new Path(p.getParent, ".commits")
    val millis = parseTsMillis(ts)
    val gens = graft.kv.CommitMarker.committedGenerations(fs, commits)
    require(gens.nonEmpty,
      s"PotV2Source: timestampAsOf over $path: no committed generations " +
        s"under $commits")
    val fits = gens.filter(g =>
      fs.getFileStatus(new Path(commits, g.toString))
        .getModificationTime <= millis)
    require(fits.nonEmpty,
      s"PotV2Source: timestampAsOf '$ts' predates the earliest commit of " +
        s"$path (first marker mtime ${fs.getFileStatus(new Path(commits,
          gens.min.toString)).getModificationTime}) — nothing existed yet")
    fits.max
  }

  /** Default ceiling on a single pot object's serialized size through the
    * WRITE path (1 GiB). The commit merges the whole object in driver
    * memory — correct parity with the reference's whole-object RMW, but
    * at engine scale a multi-GB pot would OOM the driver SILENTLY;
    * [[PotTooLarge]] makes it loud and names the migration path.
    * Override per write with `.option("maxObjectBytes", n)`. */
  val DefaultMaxObjectBytes: Long = 1L << 30

  /** Maintenance: delete the snapshot bodies of every CHAIN generation
    * below the head's COVERING snapshot (each snapshot commit leaves one
    * immutable full object; delta generations above the covering snapshot
    * are O(change-set) `.dgen-` files the head state folds from, so the
    * covering snapshot and everything above it must survive). Markers
    * stay: they are the generation counter and are a few bytes each.
    * Delta-generation bodies are never deleted — like the `.delta-`
    * sidecars they are change-set sized and double as the change feed's
    * replay record.
    *
    * SAFE WITH LIVE WRITERS (r13 — the r12 contract was a documented
    * no-live-writer precondition; this is the mechanism). Two pieces:
    *
    *   - deletion is CHAIN-REFERENCED only: the candidates are the BODIES
    *     of committed markers below the head, never a directory listing.
    *     A mid-commit writer's staged `.snap-*` is unreferenced until its
    *     marker CAS wins, so vacuum cannot see it — a published marker
    *     can therefore never point at a vacuumed body (no dangling
    *     marker, by construction rather than by contract);
    *   - a CAS FENCE epoch under `.vacuum/` (the CommitMarker primitive):
    *     each vacuum run must win the next epoch marker, so two
    *     concurrent vacuums serialize — the loser returns empty, cleanly
    *     (and the fence body records the head generation at vacuum time,
    *     the audit horizon for retention tooling).
    *
    * The one window left is a READER of a superseded head: a writer that
    * read head G as its merge base while a commit landed (head G+1) and a
    * vacuum then deleted G's body mid-load. `commitEntries` treats that
    * FileNotFound as a conflict-equivalent and retries against the new
    * head — a clean loss, never a lost update (KvSpec races all three
    * actors to pin it).
    *
    * RETENTION contract: head-only retention invalidates
    * generation-pinned reads (`.option("generation", n)`, u16/u17) —
    * vacuum no further than the oldest pinned generation a reader needs.
    * The change feed (st17) is NOT bound by that trade since r13: each
    * commit's `.delta-*.jsonl` sidecar is RETAINED by this vacuum (it is
    * O(change-set), the snapshots are the O(pot) cost), so a lagging
    * consumer replays vacuumed generations from sidecars alone; only
    * legacy pre-sidecar generations fall back to snapshots and fail
    * loudly when vacuumed, never silently skip. `.dgen-` artifacts below
    * the covering snapshot are retained DELIBERATELY for the same reason
    * (r16, stated): a dgen IS its generation's change record — deleting
    * it would punch a hole in the feed's history for exactly the
    * O(change-set) bytes the sidecar policy chose to keep. Only the
    * O(pot) snapshot bodies are reclaimed. Returns deleted paths.
    */
  /** `retainMs` (u58, r18 — WALL-CLOCK retention): with a positive
    * window, only bodies whose commit MARKER mtime (the u46 commit
    * clock) is older than `now - retainMs` are reclaimed — so VERSION
    * AS OF / TIMESTAMP AS OF reads inside the retention window keep
    * their chain artifacts, the Delta `VACUUM ... RETAIN` contract.
    * retainMs <= 0 keeps the original below-covering rule unchanged.
    * The covering snapshot and everything above it are structurally
    * retained either way, and the u42 clone-ownership guard applies
    * identically: borrowed (foreign-path) bodies are never the clone's
    * to retire, whatever their age. */
  def vacuumSnapshots(
      fs: org.apache.hadoop.fs.FileSystem, potPath: String,
      retainMs: Long = 0L): Seq[String] = {
    val dir = new Path(potPath).getParent
    val commits = new Path(dir, ".commits")
    if (!fs.exists(dir)) return Seq.empty
    val gens = graft.kv.CommitMarker.committedGenerations(fs, commits).sorted
    if (gens.size < 2) return Seq.empty
    // CAS fence: win the next vacuum epoch or lose cleanly to the vacuum
    // that holds it (two racing vacuums would double-delete harmlessly,
    // but the fence makes the serialization — and the audit horizon —
    // explicit, and is the hook concurrent maintenance tools key on)
    val fence = new Path(dir, ".vacuum")
    val epoch = graft.kv.CommitMarker.head(fs, fence) + 1
    try graft.kv.CommitMarker.publish(
      fs, new Path(fence, epoch.toString), s"fence@head=${gens.last}")
    catch {
      case _: graft.kv.PotTable.CommitConflict => return Seq.empty
      case _: graft.kv.PotTable.CommitIncomplete => return Seq.empty
    }
    // chain-referenced deletion: bodies of committed markers BELOW the
    // head's covering snapshot only — never a directory listing, so an
    // in-flight commit's staged (unreferenced) snapshot is structurally
    // out of reach, and the covering snapshot the head state folds from
    // is structurally retained
    val bodies = gens.map(g => g -> graft.kv.CommitMarker
      .read(fs, new Path(commits, g.toString)))
    val covering = bodies.filter(b => PotChain.isSnap(b._2))
      .map(_._1).foldLeft(0L)(math.max)
    bodies.flatMap { case (g, body) =>
      val p = new Path(body)
      // OWNERSHIP guard (u42): only bodies under this pot's own
      // directory are reclaimable — a SHALLOW CLONE's chain references
      // the source pot's artifacts by absolute path, and vacuuming the
      // clone must never delete history it merely borrows (the same
      // rule protects against a corrupted marker naming a foreign
      // path). Foreign bodies are skipped silently: they are the
      // SOURCE's to retire under its own retention.
      val owned = fs.makeQualified(p).toString
        .startsWith(fs.makeQualified(dir).toString + "/")
      // u58: inside the retention window = a reader may still pin it
      val aged = retainMs <= 0L ||
        fs.getFileStatus(new Path(commits, g.toString))
          .getModificationTime <= System.currentTimeMillis() - retainMs
      // r19 ADVICE: report reclaimed ONLY when the body delete actually
      // succeeded (the r18 vacuumLayouts rule, mirrored) — and retire the
      // paired zone-map sidecar only then, so a failed body delete never
      // strips its snapshot's statistics
      if (g < covering && owned && aged && PotChain.isSnap(body) &&
          fs.exists(p) && fs.delete(p, false)) {
        // the paired zone-map sidecar (u57) retires with its snapshot
        PotChain.zmapOf(body).foreach(z => fs.delete(z, false))
        Some(p.toString)
      } else None
    }
  }

  /** u70 (r19) — `ensure_stats`: ANALYZE TABLE for the pot format. A
    * pre-u57 store (or one whose sidecars were lost) has snapshot heads
    * with no zone-map sidecar, so every u57/u64/u65/u68 surface
    * silently degrades to open-everything. This verb backfills: for
    * each pot under the glob whose head is a snapshot missing its
    * `.zmap-`, read the head artifact once and write the sidecar
    * through the SAME builder the commit writer uses
    * ([[PotChain.zmapJson]] — backfilled stats are bit-identical to
    * commit-time stats by construction). Returns one `<pot>:<status>`
    * row per pot: `written` (backfilled), `present` (already had one),
    * `delta_head` (dgens have touched-range sidecars at commit only —
    * compact first), `legacy` (no commit chain to hang stats on),
    * `empty` (zero-entry head — the writer's own no-sidecar case). A
    * lost `create` race reads back as `present`. COUNT(*) stats-only
    * (u68) additionally needs the r16 name stamp, which is immutable —
    * backfill restores pruning and field stats, not row stamps; the
    * scaladoc states it so nobody expects otherwise.
    */
  def ensureStats(fs: org.apache.hadoop.fs.FileSystem, glob: String)
      : Seq[String] =
    Option(fs.globStatus(new Path(glob))).map(_.toSeq).getOrElse(Seq.empty)
      .filter(_.isFile).map(_.getPath).map { pot =>
        val commits = new Path(pot.getParent, ".commits")
        val head = graft.kv.CommitMarker.head(fs, commits)
        if (head == 0L) s"$pot:legacy"
        else {
          val body = PotChain.artifactOf(fs, commits, head)
          if (body == null) s"$pot:legacy"
          else if (PotChain.isDgen(body)) s"$pot:delta_head"
          else PotChain.zmapOf(body) match {
            case Some(zp) if fs.exists(zp) => s"$pot:present"
            case Some(zp) => PotChain.objectAt(fs, new Path(body)) match {
              case None => s"$pot:legacy"
              case Some(root) if root.isEmpty => s"$pot:empty"
              case Some(root) =>
                try {
                  PotChain.writeSidecar(fs, zp, PotChain.zmapJson(
                    root.properties().asScala.iterator.map(f =>
                      f.getKey -> Some(f.getValue))))
                  s"$pot:written"
                } catch {
                  // a concurrent backfill/commit won the create
                  case scala.util.control.NonFatal(_) => s"$pot:present"
                }
            }
            case None => s"$pot:legacy"
          }
        }
      }

  /** u73 (r19) — `check_pot`: fsck for the pot format. A store ages
    * through vacuums, clones, crashes, and foreign writers; before
    * trusting planning statistics or scheduling maintenance, an
    * operator wants one metadata-level pass that names what is wrong
    * where (DuckDB's PRAGMA integrity_check / Delta's FSCK role). Per
    * pot under the glob, walking MARKERS AND NAMES ONLY (no object is
    * ever opened — the CALL bound):
    *   - `legacy`: no commit chain (nothing to check against);
    *   - `bad_marker`: the head marker's body is unreadable/absent;
    *   - `no_covering_snapshot`: a delta-headed chain with no snapshot
    *     below it (the invalid shape readers refuse);
    *   - `missing_artifact`: a chain artifact the HEAD RUN needs
    *     (covering snapshot or a dgen above it) does not exist — the
    *     RetentionViolated shape, surfaced before a reader trips it;
    *   - `no_stats`: snapshot head lacks its zone-map sidecar (the
    *     ensure_stats work list);
    *   - `torn_stats`: a sidecar exists but does not parse (planning
    *     treats it as absent — pruning silently off);
    *   - `ok` otherwise.
    * One `<pot>:<status>` row per pot; the worst issue wins (order
    * above). This is the WORK-LIST producer the other verbs consume:
    * `no_stats` → ensure_stats, `missing_artifact` → restore/retention
    * review, `no_covering_snapshot` → compact_pot.
    */
  def checkPots(fs: org.apache.hadoop.fs.FileSystem, glob: String)
      : Seq[String] = {
    Option(fs.globStatus(new Path(glob))).map(_.toSeq).getOrElse(Seq.empty)
      .filter(_.isFile).map(_.getPath).map { pot =>
        val commits = new Path(pot.getParent, ".commits")
        val head = graft.kv.CommitMarker.head(fs, commits)
        val status: String =
          if (head == 0L) "legacy"
          else {
            val body =
              try PotChain.artifactOf(fs, commits, head)
              catch { case scala.util.control.NonFatal(_) => null }
            if (body == null) "bad_marker"
            else {
              val (snap, dgens) =
                if (PotChain.isSnap(body)) (Some(body), Seq.empty[String])
                else PotChain.chainRun(fs, commits, head)
              if (snap.isEmpty) "no_covering_snapshot"
              else {
                val needed = snap.toSeq ++ dgens
                val missing = needed.filterNot(b => fs.exists(new Path(b)))
                if (missing.nonEmpty) "missing_artifact"
                else if (PotChain.isDgen(body)) "ok" // delta head, complete
                // a zero-entry snapshot legitimately has no sidecar
                else if (PotChain.snapRows(body).contains(0L)) "ok"
                else PotChain.zmapOf(body) match {
                  case Some(zp) if !fs.exists(zp) => "no_stats"
                  case Some(_)
                      if PotChain.zmapStats(fs, body)
                        .range.isEmpty => "torn_stats"
                  case _ => "ok"
                }
              }
            }
          }
        s"$pot:$status"
      }
  }

  /** Manual COMPACTION (u50, r17 — the last API-only maintenance verb
    * behind CALL): fold a DELTA-HEADED chain (streaming epochs since
    * the last snapshot) into one full snapshot at head+1 through the
    * standard commitEntries flow with an EMPTY change set — the merge
    * base IS the folded chain state, so the commit is a pure
    * materialization: state identical, `_pot_gen` provenance collapses
    * to the fold generation (u32's documented OPTIMIZE semantics), and
    * subsequent reads stop paying the per-read chain fold. A
    * snapshot-headed pot is already compact: None, no empty commit
    * churned. Concurrency is the unchanged CAS discipline (a lost race
    * retries against the new head). Returns the fold generation.
    */
  def compactPot(fs: org.apache.hadoop.fs.FileSystem,
      pot: String): Option[Long] = {
    require(!isGlob(pot),
      s"compactPot: one pot object, not a glob: $pot")
    val dir = new Path(pot).getParent
    val commits = new Path(dir, ".commits")
    val head = graft.kv.CommitMarker.head(fs, commits)
    if (head == 0L) return None
    if (PotChain.isSnap(PotChain.artifactOf(fs, commits, head))) return None
    val qid = s"compact-${java.util.UUID.randomUUID()}"
    val w = new PotV2Write(pot, Schema, qid, truncateFirst = false,
      DefaultMaxObjectBytes, conf = fs.getConf)
    // report the generation the fold ACTUALLY published — a head re-read
    // here could name a concurrent writer's (possibly delta-headed)
    // generation as the compaction result (r18 ADVICE)
    Some(w.commitEntries(Array.empty, truncate = false, snapTag = None,
      retryOnConflict = true, staging = new Path(dir, s".staging-$qid")))
  }

  /** SHALLOW CLONE (u42 — Delta/Iceberg `CLONE` brought to the pot
    * store): re-publish the source's commit MARKERS at the target —
    * marker bodies keep their absolute source paths, so the entire
    * generation history (time travel, change-feed replay via the
    * snapshot-diff fallback) is SHARED with zero artifact copies — plus
    * ONE file copy of the head materialization (`data.json`, the
    * O(current-state) cost; the history chain, which dominates storage,
    * is never copied). Writes on the clone then diverge naturally: the
    * next commit stages a clone-local artifact at generation head+1
    * through the unchanged CAS flow, leaving the source untouched —
    * copy-on-write at generation granularity. Safety: the clone's
    * vacuum skips borrowed (foreign-path) bodies via the ownership
    * guard above, so clone retention can never delete source history;
    * the target must be empty OR a byte-identical marker PREFIX of the
    * source (r17, ADVICE: a mid-clone crash leaves exactly such a
    * prefix — markers publish in generation order, the head copy comes
    * last — so RE-RUNNING the clone resumes idempotently: matching
    * markers are adopted, missing ones published, the head re-copied;
    * a target marker that DIFFERS is real divergence and fails loudly,
    * never overwritten). RETENTION CONTRACT: the source's vacuum
    * retention must outlive every clone's pinned-read horizon — clones
    * reference source bodies the source's own retention can retire
    * (the clone-side RetentionViolated guard then names the gap).
    * Returns the cloned generation numbers.
    */
  def clonePot(fs: org.apache.hadoop.fs.FileSystem,
      srcPot: String, dstPot: String): Seq[Long] = {
    require(!isGlob(srcPot) && !isGlob(dstPot),
      s"clonePot: one source and one target pot, no globs: $srcPot -> $dstPot")
    val srcDir = new Path(srcPot).getParent
    val dstDir = new Path(dstPot).getParent
    val srcCommits = new Path(srcDir, ".commits")
    val dstCommits = new Path(dstDir, ".commits")
    val srcGens = graft.kv.CommitMarker
      .committedGenerations(fs, srcCommits).sorted
    val dstGens = graft.kv.CommitMarker
      .committedGenerations(fs, dstCommits).sorted
    // idempotent-resume admission: every existing target marker must
    // byte-match its source twin (a crashed clone's prefix); anything
    // else is live divergent state and must never be overwritten
    dstGens.foreach { g =>
      require(srcGens.contains(g) &&
        graft.kv.CommitMarker.read(fs, new Path(dstCommits, g.toString)) ==
          graft.kv.CommitMarker.read(fs, new Path(srcCommits, g.toString)),
        s"clonePot: target $dstPot has a marker at generation $g that is " +
          s"not a byte-identical copy of the source's — the target holds " +
          "live state, not a crashed clone; refusing to overwrite")
    }
    // a chainless target with a head object is a live RAW pot, not a
    // crashed clone (markers publish before the head copy) — refuse
    require(dstGens.nonEmpty || !fs.exists(new Path(dstPot)),
      s"clonePot: target $dstPot must be empty (cloning over live " +
        "state would orphan it)")
    fs.mkdirs(dstDir)
    val gens = srcGens
    var published = false
    gens.foreach { g =>
      if (!dstGens.contains(g)) {
        val body = graft.kv.CommitMarker.read(
          fs, new Path(srcCommits, g.toString))
        try {
          graft.kv.CommitMarker.publish(
            fs, new Path(dstCommits, g.toString), body)
          published = true
        } catch {
          // a concurrent resume of the SAME clone may win the CAS; its
          // marker must then be the byte-identical body — anything else
          // is divergence and re-raises
          case e: graft.kv.PotTable.CommitConflict =>
            if (graft.kv.CommitMarker.read(
                fs, new Path(dstCommits, g.toString)) != body) throw e
        }
      }
    }
    // head copy LAST; a resume refreshes it whenever markers were
    // topped up (a stale materialization must never survive a resume).
    // STAGE-THEN-RENAME (r18 ADVICE): the copy lands at a writer-unique
    // staging path and RENAMES into place, so a crash mid-copy can only
    // ever leave a staging husk — dstPot is either absent (resume
    // refreshes it) or a COMPLETE head; the old in-place raw copy could
    // leave a torn data.json beside a complete marker set that a resume
    // then adopted (refreshHead = published || !exists was false) and
    // snapshot-headed reads scanned as corrupt with no repair path.
    // Belt-and-braces: a target head whose LENGTH differs from the
    // source's is stale or torn (pre-fix husk, or markers re-published
    // elsewhere) — refresh it; within a clone the two heads are the same
    // materialization by construction, so equal-length is the invariant.
    val headTorn = fs.exists(new Path(dstPot)) && fs.exists(new Path(srcPot)) &&
      fs.getFileStatus(new Path(dstPot)).getLen !=
        fs.getFileStatus(new Path(srcPot)).getLen
    val refreshHead = published || headTorn || !fs.exists(new Path(dstPot))
    if (refreshHead && fs.exists(new Path(srcPot))) {
      val srcP = fs.makeQualified(new Path(srcPot))
      val dstP = fs.makeQualified(new Path(dstPot))
      val stageP = fs.makeQualified(new Path(dstDir,
        s".clone-stage-${java.util.UUID.randomUUID()}"))
      if (srcP.toUri.getScheme == "file") {
        // RAW nio copy on file: — the same layer the commit flow's
        // ATOMIC_MOVE materialization uses. A checksummed-FS copy
        // (FileUtil.copy) would plant a .crc sidecar the next commit's
        // raw move never refreshes → ChecksumException on read.
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(srcP.toUri),
          java.nio.file.Paths.get(stageP.toUri))
        java.nio.file.Files.move(
          java.nio.file.Paths.get(stageP.toUri),
          java.nio.file.Paths.get(dstP.toUri),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      } else {
        val in = fs.open(srcP)
        val out = fs.create(stageP, false)
        try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536)
        finally { in.close(); out.close() }
        if (fs.exists(dstP)) fs.delete(dstP, false)
        if (!fs.rename(stageP, dstP)) {
          fs.delete(stageP, false)
          throw new java.io.IOException(
            s"clonePot: failed to publish staged head $stageP -> $dstP")
        }
      }
    }
    gens
  }
}

/** Thrown when a pot-object write would exceed its size ceiling: one pot
  * is a DRIVER-MEMORY unit (the reference's whole-object RMW), so growth
  * past the ceiling means the data has outgrown the single-object model —
  * migrate to [[graft.kv.BucketedPotTable]] (hash-bucketed keys, per-bucket
  * commit protocol, distributed merge) or split across more pot objects. */
class PotTooLarge(message: String) extends RuntimeException(message)

private[sources] class PotV2Table(path: String,
    shred: Seq[(String, Seq[String], org.apache.spark.sql.types.DataType)] = Nil)
    extends Table with SupportsRead with SupportsWrite
    with SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {
  require(path != null && path.nonEmpty,
    "PotV2Source: .option(\"path\", <glob of data.json objects>) is required")
  private lazy val conf = PotV2Source.sessionConf()
  override def name(): String = s"pot-json:$path"
  override def schema(): StructType = PotV2Source.schemaWith(shred)

  /** u32 — generation provenance as a DSv2 METADATA COLUMN (Delta's
    * `_commit_version`, Iceberg's `_file` surface): `SELECT key,
    * _pot_gen FROM pot` resolves like a hidden column, never appears in
    * `SELECT *`, and costs nothing unprojected. Value = the generation
    * whose COMMITTED ARTIFACT supplied the surviving row: the dgen's
    * generation for rows a delta wrote above the covering snapshot
    * (exact writer provenance), the covering snapshot's generation for
    * rows it folded (compaction forgets the original writer — exactly
    * Delta's `_commit_version` after OPTIMIZE), NULL for a raw legacy
    * object with no commit chain (provenance honestly unknown, never a
    * fabricated 0). Reference: pot's objects carry no per-key version —
    * this is the chain's provenance surfaced where SQL can join on it.
    */
  override def metadataColumns(): Array[MetadataColumn] =
    PotV2Source.MetadataCols
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    (Option(options.get("changesFrom")).map(_.toLong),
      Option(options.get("changesFromVector"))) match {
      // batch CDC read with a PER-POT from-vector (u23): the glob/stream
      // symmetry closer — the same JSON shape st18 checkpoints
      // (PotMultiGenOffset) consumed as a TABLE. Each matched pot replays
      // (vector(pot), head]; pots absent from the vector replay their
      // full chain (the st18 new-pot rule); vector entries naming absent
      // pots are inert (the carried-coordinate rule).
      case (None, Some(vec)) =>
        require(options.get("generation") == null,
          "PotV2Source: changesFromVector and generation are mutually " +
            "exclusive — a changes read spans generations, a pin names one")
        require(shred.isEmpty,
          "PotV2Source: shred and changesFromVector are mutually " +
            "exclusive — change rows are pot_file/key/doc_json, never " +
            "shredded doc fields; drop one of the options")
        new PotChangesScanBuilder(path, 0L,
          Some(PotMultiGenOffset.fromJson(vec).gens))
      case (Some(_), Some(_)) =>
        throw new IllegalArgumentException(
          "PotV2Source: changesFrom and changesFromVector are mutually " +
            "exclusive — a scalar start names one pot's generation, the " +
            "vector names each pot's; pick the one matching the path shape")
      // batch CDC read: rows = the LWW deltas of every generation AFTER
      // `changesFrom` (tombstones included) — the change feed (st17)
      // consumed as a TABLE (Delta's table_changes shape); reuses the
      // feed's per-generation partitions + sidecar-first reader verbatim
      case (Some(from), None) =>
        require(options.get("generation") == null,
          "PotV2Source: changesFrom and generation are mutually " +
            "exclusive — a changes read spans generations, a pin names " +
            "one; combining them would silently ignore the pin")
        require(shred.isEmpty,
          "PotV2Source: shred and changesFrom are mutually exclusive — " +
            "change rows are pot_file/key/doc_json, never shredded doc " +
            "fields; drop one of the options")
        new PotChangesScanBuilder(path, from)
      case (None, None) =>
        val gen = Option(options.get("generation")).map(_.toLong)
        val asOf = Option(options.get("timestampAsOf"))
        require(gen.isEmpty || asOf.isEmpty,
          "PotV2Source: generation and timestampAsOf are mutually " +
            "exclusive — both pin a read; pick one addressing scheme")
        new PotV2ScanBuilder(path,
          asOf.map(PotV2Source.resolveTimestampAsOf(path, _)).orElse(gen),
          shred,
          Option(options.get("maxGenerationsPerTrigger")).map(_.toInt),
          Option(options.get("maxPotsPerTrigger")).map(_.toInt))
    }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new PotV2WriteBuilder(path, info)

  /** SQL MERGE/UPDATE/DELETE rewrite support (u19) — see
    * [[PotRowLevelOperation]]: delta-based, so the write receives only
    * changed rows and applies them as one LWW generation. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    new PotRowLevelOperationBuilder(path, info)

  /** SQL `DELETE FROM pot WHERE ...` (u18) — the reference's DELETE verb
    * (`server_routes.go` remove) as catalog DML, completing the SQL
    * surface: INSERT (u15) writes generations, DELETE removes keys. A
    * delete is one snapshot commit with no fragments: the commit drops
    * the keys the filters match from the head state it loaded and
    * publishes the rest as generation head+1 through the same
    * merge-snapshot-CAS core, so dropped keys become change-feed
    * TOMBSTONES via the delta sidecar (a mirror, st19, propagates them)
    * and vacuum/ceiling semantics are u14's verbatim. The pot is parsed
    * once, and the keys dropped are exactly those of the state the CAS
    * publishes over; a concurrent writer winning that generation makes
    * this a loud CommitConflict. Shapes that cannot be evaluated exactly
    * against (pot_file, key) decline (`canDeleteWhere` false); the
    * analyzer then falls back to the row-level SupportsDelta rewrite
    * ([[PotRowLevelOperation]]) which deletes by scanned content —
    * metadata delete stays the fast path for exact key shapes.
    */
  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    !PotV2Source.isGlob(path) && filters.forall(PotV2Filters.deletable)

  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val w = new PotV2Write(path, PotV2Source.Schema,
      java.util.UUID.randomUUID().toString, truncateFirst = false,
      conf = conf)
    w.commitEntries(Array.empty, truncate = false, snapTag = None,
      retryOnConflict = false, staging = new Path(w.stagingBase),
      drop = Some(k => PotV2Filters.accepts(filters, "key", k) &&
        PotV2Filters.accepts(filters, "pot_file", path)))
  }
}

private[graft] class PotV2ScanBuilder(
    path: String, generation: Option[Long] = None,
    shred: Seq[(String, Seq[String], org.apache.spark.sql.types.DataType)] = Nil,
    maxGensPerTrigger: Option[Int] = None,
    maxPotsPerTrigger: Option[Int] = None)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownAggregates
    with SupportsPushDownLimit with SupportsPushDownTopN
    with org.apache.spark.sql.connector.read.SupportsPushDownTableSample
    with org.apache.spark.sql.connector.read.SupportsPushDownOffset {
  import org.apache.spark.sql.sources._
  private val shredTypes: Map[String, org.apache.spark.sql.types.DataType] =
    shred.map(s => s._1 -> s._3).toMap
  private var required: StructType = PotV2Source.schemaWith(shred)
  private[sources] var pushed: Array[Filter] = Array.empty
  private var aggGroupedByFile: Option[Boolean] = None
  private var aggKinds: Seq[PotV2Source.PotAgg] = Seq(PotV2Source.AggCount)
  private var pushedLimit: Option[Int] = None
  private var pushedTopN: Option[(Boolean, Int)] = None
  private var pushedSample: Option[Long] = None
  private var pushedOffset: Option[Int] = None
  /** The planning session's conf, shared with the scan this builds. */
  protected lazy val conf: Configuration = PotV2Source.sessionConf()
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** TABLESAMPLE pushdown (u41): `TABLESAMPLE (p PERCENT)` reaches the
    * reader as a KEY-HASH admission test — a key survives when its
    * md5 fold mod 10000 is under p·100 — applied during the streaming
    * parse, so a 10% sample of a 100 MB object stringifies ~10% of the
    * document bodies (and the count-pushdown path counts without
    * stringifying any). Semantics are CONSISTENT (systematic) sampling:
    * the admitted key set is a pure function of the keys, independent
    * of Spark's seed — re-running, re-partitioning, or sampling two
    * replicas of the same pot selects the SAME keys (the property a
    * cross-store audit sample wants, and what makes the sample
    * oracle-replayable at all; stated in the scan description). Shapes
    * the hash test cannot express decline honestly: replacement
    * sampling and nonzero lower bounds fall back to Spark's post-scan
    * Sample operator.
    *
    * SEED DECISION (r17, pinned in PotJsonSpec): the pushdown
    * deliberately IGNORES the sample seed — `REPEATABLE(1)` and
    * `REPEATABLE(2)` admit the IDENTICAL key set. The connector cannot
    * distinguish an explicit REPEATABLE from the random seed Spark
    * invents for a bare TABLESAMPLE, so honoring seeds would make every
    * unseeded audit sample nondeterministic (and oracle-unreplayable);
    * consistency wins by default. Users who need Spark's seeded
    * contract set `spark.graft.sample.pushConsistent=false`, which
    * DECLINES the push entirely — the post-scan Sample then honors the
    * seed exactly (both behaviors spec-pinned).
    *
    * Quantization guard (r17): a fraction that rounds to 0/10000 of
    * the per-myriad fold — under 0.005% or above 99.995% — DECLINES
    * rather than silently returning zero (or every) row; Spark's own
    * Sample serves those tails at full fidelity.
    */
  override def pushTableSample(lowerBound: Double, upperBound: Double,
      withReplacement: Boolean, seed: Long): Boolean = {
    if (withReplacement || lowerBound != 0.0 ||
        upperBound <= 0.0 || upperBound >= 1.0) return false
    if (!org.apache.spark.sql.internal.SQLConf.get
        .getConfString("spark.graft.sample.pushConsistent", "true")
        .toBoolean) return false
    val threshold = math.round(upperBound * 10000)
    if (threshold <= 0L || threshold >= 10000L) return false
    pushedSample = Some(threshold)
    true
  }

  /** LIMIT pushdown (r15): `SELECT … LIMIT k` over a pot bucket stops the
    * reader after k surviving entries — and for a plain snapshot object
    * the reader switches to STREAMING Jackson parsing, so a LIMIT 10 over
    * a 100 MB object parses ~10 entries instead of building the whole
    * tree (the per-object analogue of "stop opening every object"; across
    * objects, Spark's incremental limit execution opens partitions as
    * needed). PARTIAL pushdown: each partition still emits up to k rows
    * and Spark's own Limit does the global cut.
    */
  override def pushLimit(limit: Int): Boolean = {
    pushedLimit = Some(limit)
    true
  }
  /** Partial across a GLOB (per-object k-bounded partials, Spark
    * merges); COMPLETE for one pot object (r17 — the scan plans exactly
    * one partition there, and the TopN selection emits in the requested
    * order, so Spark can drop its own sort/limit entirely; completeness
    * is also what lets Spark push the paired OFFSET, u53). */
  override def isPartiallyPushed(): Boolean = PotV2Source.isGlob(path)

  /** OFFSET pushdown (u53, r17) — the reference's LIST PAGINATION
    * (`server.go:437-463` pages its listings at the network boundary)
    * as a DSv2 surface: `ORDER BY key LIMIT k OFFSET j` over one pot
    * object serves page j/k from the reader — the k-bounded TopN
    * selection (Spark hands pushTopN limit = k + j) drops its first j
    * winners before stringifying ANYTHING beyond the page. Accepted
    * ONLY for a single pot object: the scan then plans exactly ONE
    * partition, making the per-partition drop globally exact — a glob
    * spans partitions where a per-partition offset is semantically
    * wrong, so it declines to Spark's post-scan Offset. Without an
    * ORDER BY the dropped prefix is the object's own entry order
    * (deterministic per object — same contract as the unordered
    * LIMIT).
    */
  override def pushOffset(offset: Int): Boolean = {
    if (PotV2Source.isGlob(path)) return false
    pushedOffset = Some(offset)
    true
  }

  /** ORDER BY … LIMIT k pushdown (r15; breadth + declination matrix r16):
    * each reader keeps a k-bounded selection by key and stringifies ONLY
    * the k winners' documents (the dominant per-entry cost) — a top-k
    * over a 10k-object bucket returns k rows per object for Spark's
    * final merge instead of every row. The pushdown is PARTIAL (Spark
    * re-sorts globally), so a per-partition selection is correct iff it
    * is a SUPERSET of the partition's true global-top-k contribution.
    * With one pot object per partition that gives the served matrix:
    *
    *   - `key [ASC|DESC] [, anything…]`: SERVED by key direction — keys
    *     are unique within one object, so any suffix term can never be
    *     consulted within a partition;
    *   - `pot_file [ASC|DESC], key [ASC|DESC] [, anything…]`: SERVED —
    *     pot_file is CONSTANT within a partition (the file-aligned
    *     partitioning makes the prefix free; its direction is
    *     irrelevant per-partition), so the partition's contribution is
    *     its k extreme keys;
    *   - `pot_file [ASC|DESC]` alone: SERVED as a plain LIMIT — every
    *     row in a partition ties, any k rows are valid winners;
    *   - anything else (leading doc_json, doc_json directly after the
    *     pot_file prefix, non-column expressions): DECLINED — Spark
    *     runs its own full TopN. PotJsonSpec pins both halves of the
    *     matrix so a future sort shape can't silently lose the push.
    */
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      limit: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection, SortOrder}
    def colOf(o: SortOrder): Option[String] = o.expression() match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        Some(r.fieldNames()(0))
      case _ => None
    }
    val cols = orders.toSeq.map(colOf)
    if (orders.isEmpty || cols.exists(_.isEmpty)) return false
    val names = cols.flatten
    val eff = if (names.headOption.contains("pot_file"))
      names.drop(1).zip(orders.toSeq.drop(1)) else names.zip(orders.toSeq)
    eff.headOption match {
      case Some(("key", o)) =>
        pushedTopN = Some((o.direction() == SortDirection.ASCENDING, limit))
        true
      case None => // pot_file alone: all rows tie per partition
        pushedLimit = Some(limit)
        true
      case _ => false
    }
  }

  /** Aggregate pushdown — the V2 surface that makes `COUNT(*)` over a pot
    * bucket a METADATA-SPEED query: the reader counts map entries without
    * ever stringifying a document body (the dominant per-entry cost).
    * Supported shapes, chosen by partition alignment:
    *   - `COUNT(*) GROUP BY pot_file` — COMPLETE pushdown: one partition
    *     per pot object means a group never spans partitions, so each
    *     reader emits its file's final (pot_file, count) row and Spark
    *     plans no aggregate at all;
    *   - global `COUNT(*)` — PARTIAL pushdown: each reader emits its own
    *     count and Spark's final aggregation merges (a group spanning all
    *     partitions can never be complete-pushed from a multi-file scan).
    * Anything else (other aggregates, other group keys) is declined and
    * computed by Spark over the normal row scan. Pushed key/pot_file
    * filters still apply UNDER the count — COUNT of a filtered read
    * counts surviving entries.
    */
  private def translateAgg(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(Boolean, Seq[PotV2Source.PotAgg])] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min}
    def keyRef(e: org.apache.spark.sql.connector.expressions.Expression)
        : Boolean = e match {
      case r: NamedReference => r.fieldNames.sameElements(Array("key"))
      case _ => false
    }
    // u56: a single-part reference naming a SHREDDED column — its
    // aggregate folds over the pre-stringify extracted value
    def shredRef(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case r: NamedReference if r.fieldNames.length == 1 &&
          shredTypes.contains(r.fieldNames()(0)) => Some(r.fieldNames()(0))
      case _ => None
    }
    val kinds = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(PotV2Source.AggCount)
      case m: Min if keyRef(m.column) => Some(PotV2Source.AggMinKey)
      case m: Max if keyRef(m.column) => Some(PotV2Source.AggMaxKey)
      case m: Min if shredRef(m.column).isDefined =>
        shredRef(m.column).map(f =>
          PotV2Source.AggMinShred(f, shredTypes(f)))
      case m: Max if shredRef(m.column).isDefined =>
        shredRef(m.column).map(f =>
          PotV2Source.AggMaxShred(f, shredTypes(f)))
      case c: Count if !c.isDistinct && shredRef(c.column).isDefined =>
        shredRef(c.column).map(PotV2Source.AggCountShred)
      case _ => None
    }
    if (kinds.isEmpty || kinds.exists(_.isEmpty)) None
    else agg.groupByExpressions() match {
      case Array() => Some((false, kinds.flatten))
      case Array(r: NamedReference)
          if r.fieldNames.sameElements(Array("pot_file")) =>
        Some((true, kinds.flatten))
      case _ => None
    }
  }
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = translateAgg(agg).exists(_._1)
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean =
    translateAgg(agg) match {
      case Some((g, kinds)) =>
        aggGroupedByFile = Some(g); aggKinds = kinds; true
      case None => false
    }

  /** Pushable = exact predicates on the two addressing columns. A pushed
    * `pot_file` predicate prunes WHOLE OBJECTS at planning (the pot
    * analogue of partition pruning — a takedown or single-pot read over a
    * 10k-object bucket opens the matching files only); a pushed `key`
    * predicate skips entries inside the reader BEFORE the document body
    * is stringified (the dominant per-entry cost). Both are exact, so no
    * residual re-evaluation is handed back to Spark.
    */
  /** Doc-field pushability (u45): exact shapes on SHREDDED columns —
    * equality/IN on both types, range comparisons on bigint fields,
    * IsNotNull (field present, non-null, right-typed). All evaluated
    * entry-by-entry during the parse BEFORE stringification; exact, so
    * no residual is handed back. */
  private def shredPushable(f: Filter): Boolean = f match {
    case EqualTo(a, v) => shredTypes.get(a).exists(PotV2Filters.litOk(_, v))
    case In(a, vs) => shredTypes.get(a)
      .exists(t => vs.nonEmpty && vs.forall(PotV2Filters.litOk(t, _)))
    case IsNotNull(a) => shredTypes.contains(a)
    case GreaterThan(a, v) => shredTypes.get(a)
      .contains(org.apache.spark.sql.types.LongType) &&
      PotV2Filters.longLit(v).isDefined
    case GreaterThanOrEqual(a, v) => shredTypes.get(a)
      .contains(org.apache.spark.sql.types.LongType) &&
      PotV2Filters.longLit(v).isDefined
    case LessThan(a, v) => shredTypes.get(a)
      .contains(org.apache.spark.sql.types.LongType) &&
      PotV2Filters.longLit(v).isDefined
    case LessThanOrEqual(a, v) => shredTypes.get(a)
      .contains(org.apache.spark.sql.types.LongType) &&
      PotV2Filters.longLit(v).isDefined
    case _ => false
  }

  private def pushable(f: Filter): Boolean = f match {
    case EqualTo(a, _: String) if a == "pot_file" || a == "key" => true
    case In(a, vs) if (a == "pot_file" || a == "key") &&
      vs.forall(_.isInstanceOf[String]) => true
    case StringStartsWith(a, _) if a == "pot_file" || a == "key" => true
    case IsNotNull(a) if a == "pot_file" || a == "key" => true
    case other => shredPushable(other)
  }
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ok, rest) = filters.partition(pushable)
    pushed = ok
    rest
  }
  override def pushedFilters(): Array[Filter] = pushed

  /** Bucketed-store hook (r15): per-pot-file read-generation CAPS,
    * resolved AT PLANNING — the statement-atomicity barrier. A file
    * capped below its head reads the capped generation's folded state; a
    * cap of 0 means the pot did not exist pre-statement and plans no
    * partition. None (the default) = no barrier, plain head reads.
    */
  protected def capResolver: Option[() => Map[String, Long]] = None

  /** u54: the bucketed builder sets Some(nBuckets) so the scan reports
    * key-grain `KeyGroupedPartitioning(bucket(n, key))`. */
  protected def keyBucketGrain: Option[Int] = None

  override def build(): Scan =
    new PotV2Scan(conf, path, required, pushed, aggGroupedByFile, generation,
      pushedLimit, pushedTopN, capResolver, pushedSample, shred, aggKinds,
      maxGensPerTrigger, pushedOffset, keyBucketGrain, maxPotsPerTrigger)
}

/** `docSkippedEntries` (u45): entries whose documents were dropped by a
  * pushed doc-field predicate BEFORE stringification — the proof the
  * filter ran inside the parse, not above the scan. Summed across tasks. */
private[sources] class DocSkippedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "docSkippedEntries"
  override def description(): String =
    "entries dropped by pushed doc-field predicates pre-stringify"
}

/** `statsOnlyAggObjects` (u68): aggregate partitions answered entirely
  * from the zone-map sidecar + the name-stamped row count — the object
  * was never opened. Summed across tasks. */
private[sources] class StatsOnlyAggMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "statsOnlyAggObjects"
  override def description(): String =
    "aggregate partitions answered from sidecar stats without opening"
}

private[graft] object PotV2Filters {
  import org.apache.spark.sql.sources._

  /** u41 sample fold: the first 12 md5 hex digits of the key as a long,
    * mod 10000 (p7's engine-portable fold — the oracle replays it with
    * DuckDB's md5, so a pushed sample stays hash-comparable).
    * private[graft] for the spec's expected-set replay. */
  private[graft] def sampleFold(key: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var acc = 0L
    var i = 0
    while (i < 6) { acc = (acc << 8) | (md(i) & 0xffL); i += 1 }
    acc % 10000
  }

  /** Literal admissibility for a shredded column of type `t` (u45):
    * Spark hands filter literals typed by the column, so a string field
    * compares against String and a bigint field against Int/Long. */
  def litOk(t: org.apache.spark.sql.types.DataType, v: Any): Boolean =
    t match {
      case org.apache.spark.sql.types.StringType => v.isInstanceOf[String]
      case org.apache.spark.sql.types.LongType => longLit(v).isDefined
      case _ => false
    }
  def longLit(v: Any): Option[Long] = v match {
    case l: Long => Some(l)
    case i: Int => Some(i.toLong)
    case s: Short => Some(s.toLong)
    case b: Byte => Some(b.toLong)
    case _ => None
  }

  /** Evaluate the pushed DOC-FIELD predicates (u45) against one entry's
    * extracted shred values (`get` returns String | java.lang.Long |
    * null). SQL three-valued logic collapsed at the scan: a NULL field
    * fails every comparison and IsNotNull — exactly what the post-scan
    * Filter would do, which is what makes the pushdown residual-free. */
  def docAccepts(filters: Array[Filter],
      shredCols: Set[String], get: String => Any): Boolean = {
    def lng(a: String): Option[Long] = get(a) match {
      case l: java.lang.Long => Some(l.longValue)
      case _ => None
    }
    filters.forall {
      case EqualTo(a, v) if shredCols(a) => (get(a), v) match {
        case (s: String, vs: String) => s == vs
        case (l: java.lang.Long, _) => longLit(v).contains(l.longValue)
        case _ => false
      }
      case In(a, vs) if shredCols(a) => get(a) match {
        case s: String => vs.exists(_ == s)
        case l: java.lang.Long =>
          vs.exists(longLit(_).contains(l.longValue))
        case _ => false
      }
      case IsNotNull(a) if shredCols(a) => get(a) != null
      case GreaterThan(a, v) if shredCols(a) =>
        lng(a).exists(x => longLit(v).exists(x > _))
      case GreaterThanOrEqual(a, v) if shredCols(a) =>
        lng(a).exists(x => longLit(v).exists(x >= _))
      case LessThan(a, v) if shredCols(a) =>
        lng(a).exists(x => longLit(v).exists(x < _))
      case LessThanOrEqual(a, v) if shredCols(a) =>
        lng(a).exists(x => longLit(v).exists(x <= _))
      case _ => true
    }
  }

  /** Extract one shredded field from a parsed document (u45; nested
    * paths r17): missing field, JSON null, a non-object mid-path, or a
    * type mismatch read as SQL NULL — never a coercion guess (a float
    * is NOT a bigint; an object is NOT a string). Returns String |
    * java.lang.Long | null. */
  def shredValue(node: com.fasterxml.jackson.databind.JsonNode,
      path: Seq[String], t: org.apache.spark.sql.types.DataType): Any = {
    var v: com.fasterxml.jackson.databind.JsonNode = node
    path.foreach { seg => if (v != null && v.isObject) v = v.get(seg)
      else v = null }
    if (v == null || v.isNull) null
    else t match {
      case org.apache.spark.sql.types.StringType =>
        if (v.isTextual) v.asText else null
      case org.apache.spark.sql.types.LongType =>
        if (v.isIntegralNumber && v.canConvertToLong)
          java.lang.Long.valueOf(v.asLong) else null
      case _ => null
    }
  }

  /** Evaluate the pushed predicates that address `column` against `value`
    * (filters on other columns pass). All pushable shapes are exact. */
  def accepts(filters: Array[Filter], column: String, value: String): Boolean =
    filters.forall {
      case EqualTo(a, v: String) if a == column => value == v
      case In(a, vs) if a == column => vs.exists(_ == value)
      case StringStartsWith(a, p) if a == column => value.startsWith(p)
      case IsNotNull(a) if a == column => true // columns are non-null
      case _ => true
    }

  /** A DELETE predicate is servable only if [[accepts]] evaluates it
    * EXACTLY: the supported shapes on the addressable columns (pot_file,
    * key). Anything else — doc_json predicates, OR trees, comparisons —
    * must make `canDeleteWhere` decline (accepts would pass them
    * vacuously, which for a delete means dropping rows it never
    * evaluated). */
  def deletable(f: Filter): Boolean = f match {
    case EqualTo(a, _: String) => a == "key" || a == "pot_file"
    case In(a, _) => a == "key" || a == "pot_file"
    case StringStartsWith(a, _) => a == "key" || a == "pot_file"
    case IsNotNull(a) => a == "key" || a == "pot_file"
    case _ => false
  }
}

/** A pot scan. FileSystems resolve from `conf`, the Hadoop conf of the
  * session that planned the query ([[PotV2Source.sessionConf]]); its
  * tasks read the same conf from one broadcast made in
  * [[createReaderFactory]]. */
private[graft] class PotV2Scan(
    conf: Configuration, path: String, required: StructType,
    pushed: Array[org.apache.spark.sql.sources.Filter],
    aggGroupedByFile: Option[Boolean] = None,
    generation: Option[Long] = None,
    pushedLimit: Option[Int] = None,
    pushedTopN: Option[(Boolean, Int)] = None,
    capResolver: Option[() => Map[String, Long]] = None,
    pushedSample: Option[Long] = None,
    shred: Seq[(String, Seq[String], org.apache.spark.sql.types.DataType)] = Nil,
    aggKinds: Seq[PotV2Source.PotAgg] = Seq(PotV2Source.AggCount),
    maxGensPerTrigger: Option[Int] = None,
    pushedOffset: Option[Int] = None,
    keyBucketGrain: Option[Int] = None,
    maxPotsPerTrigger: Option[Int] = None)
    extends Scan with Batch
    with SupportsRuntimeFiltering with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  /** u65: alias -> (paths, declared type) for the sidecar-stats pruning
    * of pushed shred predicates at planning. */
  private val shredMapForZmap
      : Map[String, (Seq[String], org.apache.spark.sql.types.DataType)] =
    shred.map(sp => sp._1 -> (sp._2, sp._3)).toMap

  /** u51: STORAGE-PARTITIONED JOIN surface — the scan reports
    * `KeyGroupedPartitioning(identity(pot_file))`: every partition is
    * exactly one pot object (or its chain fold), so its rows share ONE
    * pot_file value, carried as the partition key
    * ([[PotFilePartition.partitionKey]]). With
    * `spark.sql.sources.v2.bucketing.enabled`, a join keyed on
    * pot_file between two reads of the store (per-entry rows × pushed
    * per-file aggregates, the enrichment shape) plans with ZERO
    * exchange on either side — Iceberg's SPJ for the pot layout.
    * Reported only when pot_file survives projection and every planned
    * partition carries a key (the count-pushed no-file partition has
    * none); otherwise Unknown, exactly what Spark assumed before.
    *
    * u54 (r18): KEY-grain SPJ for the BUCKETED store — when the builder
    * set `keyBucketGrain = Some(n)`, every partition is one bucket whose
    * rows all hash to that bucket id, so the scan reports
    * `KeyGroupedPartitioning(bucket(n, key))` with the bucket id as each
    * partition's key ([[BucketKeyedPartition]]). The transform resolves
    * through the relation's FunctionCatalog
    * ([[GraftFunctionCatalog.BucketFn]] — catalog reads only; a
    * path-based read has no function catalog, Spark logs and falls back
    * to Unknown, never wrong results), so a `key`-equi-join between two
    * SAME-modulus stores read via `graft_fns.store.\`root\`` plans with
    * ZERO exchange on either side; different moduli are incompatible
    * transforms and shuffle as before. The two u51 traps carry over:
    * key-grain is reported only when no aggregate was pushed and `key`
    * survives projection.
    */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    val parts = planInputPartitions()
    if (parts.nonEmpty && parts.forall(_.isInstanceOf[BucketKeyedPartition]))
      new org.apache.spark.sql.connector.read.partitioning
        .KeyGroupedPartitioning(
          Array(org.apache.spark.sql.connector.expressions.Expressions
            .bucket(keyBucketGrain.get, "key")), parts.length)
    else if (parts.nonEmpty && parts.forall(
        _.isInstanceOf[org.apache.spark.sql.connector.read.HasPartitionKey])
        && readSchema().fieldNames.contains("pot_file"))
      new org.apache.spark.sql.connector.read.partitioning
        .KeyGroupedPartitioning(
          Array(org.apache.spark.sql.connector.expressions.Expressions
            .identity("pot_file")), parts.length)
    else new org.apache.spark.sql.connector.read.partitioning
      .UnknownPartitioning(parts.length)
  }

  /** The bucket-id wrap for u54: applied only when EVERY planned
    * partition names its bucket (the `_b=<i>` layout); a mixed or
    * unparseable layout stays unwrapped and key-grain is simply not
    * reported. Aggregate-pushed scans never wrap (u51's learned-live
    * trap: the rewritten output can't resolve the transform). */
  private def wrapKeyGrain(parts: Array[InputPartition]): Array[InputPartition] = {
    if (keyBucketGrain.isEmpty || aggGroupedByFile.isDefined ||
        parts.isEmpty || !required.fieldNames.contains("key")) return parts
    val ids: Array[Option[Int]] = parts.map {
      case PotFilePartition(f, _) => PotV2Scan.bucketIdOf(f)
      case PotStatePartition(_, _, pf) => PotV2Scan.bucketIdOf(pf)
      case _ => None
    }
    if (ids.exists(_.isEmpty)) parts
    else parts.lazyZip(ids).map { case (p, id) =>
      BucketKeyedPartition(p, id.get): InputPartition }.toArray
  }

  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new DocSkippedMetric, new StatsOnlyAggMetric)

  /** RUNTIME file pruning — the DSv2 dynamic-partition-pruning surface:
    * when a join's other side resolves at runtime to a set of pot_file
    * values (a broadcast dim of object paths), Spark hands the scan an
    * `In(pot_file, ...)` AFTER planning and partitions re-plan against
    * it — a 10k-object bucket joined to a 3-path dim opens 3 files, with
    * the pruning decided by DATA, not by a literal the user had to know.
    * Static pushdown (planning-time literals) and this runtime path share
    * [[PotV2Filters.accepts]], so semantics cannot diverge.
    */
  private var runtime: Array[org.apache.spark.sql.sources.Filter] =
    Array.empty
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // advertise each column ONLY when the pruned read schema still
    // carries it: Spark's runtime-pruning rules resolve these refs
    // against the scan OUTPUT, and an unprojected column is an
    // AnalysisException at planning (surfaced by r15's stats report
    // making pot dims broadcast candidates, which runs the DPP rule
    // over this scan). u72 (r19) adds KEY: a join whose other side
    // resolves to a small set of key values prunes OBJECTS through the
    // zone-map sidecars at runtime (exactKeys consumes pushed ++
    // runtime) — the point-lookup-join analogue of DPP. Pruning-only:
    // surviving objects' rows are filtered by the join itself, so a
    // sidecar-less pot admits and stays correct.
    Seq("pot_file", "key")
      .filter(readSchema().fieldNames.contains(_))
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
      .toArray
  override def filter(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    runtime = filters.filter {
      case org.apache.spark.sql.sources.In(a, _) =>
        a == "pot_file" || a == "key"
      case org.apache.spark.sql.sources.EqualTo(a, _) =>
        a == "pot_file" || a == "key"
      case _ => false
    }
    cachedParts = null // runtime pruning re-plans from the new filters
  }
  import org.apache.spark.sql.types.LongType

  private def aggFields: Seq[StructField] = aggKinds.map {
    case PotV2Source.AggCount =>
      StructField("count(*)", LongType, nullable = false)
    case PotV2Source.AggMinKey =>
      StructField("min(key)", StringType, nullable = true)
    case PotV2Source.AggMaxKey =>
      StructField("max(key)", StringType, nullable = true)
    case PotV2Source.AggCountShred(f) =>
      StructField(s"count($f)", LongType, nullable = false)
    case PotV2Source.AggMinShred(f, t) =>
      StructField(s"min($f)", t, nullable = true)
    case PotV2Source.AggMaxShred(f, t) =>
      StructField(s"max($f)", t, nullable = true)
  }
  override def readSchema(): StructType = aggGroupedByFile match {
    case Some(true) => StructType(
      StructField("pot_file", StringType, nullable = false) +: aggFields)
    case Some(false) => StructType(aggFields)
    case None => required
  }
  override def toBatch: Batch = this

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    // generation pinning is batch-only (VERSION AS OF has no meaning for
    // a feed whose offsets ARE generations): fail loudly, never silently
    // stream the full feed from 0 under an option the reader can't honor
    require(generation.isEmpty,
      "PotV2Source: option 'generation' is batch-only — a streaming read's " +
        "offsets are the generation chain itself; drop the option (or use " +
        "a batch read for a pinned snapshot)")
    // one pot = scalar generation offset; a glob = per-pot generation
    // VECTOR (st18) — each pot keeps its own chain, so the composite
    // offset is the only shape that can be exactly-once over many pots
    // admission control is per-chain: the multi-pot feed's parallel unit
    // is the pot (one delta partition per pot per batch already bounds
    // it); the rate option applies to the single-chain backlog replay
    require(maxGensPerTrigger.isEmpty ||
      !path.exists(c => "*?[{".contains(c)),
      "PotV2Source: maxGenerationsPerTrigger applies to a single pot's " +
        "chain — a glob feed is already bounded per pot per batch")
    // shred is batch-only: the micro-batch/change-feed readers emit
    // pot_file/key/doc_json rows, so an advertised shred column would die
    // at runtime with 'unknown column' — decline at planning with a name
    // instead (r18 ADVICE; the generation mutual-exclusion style above)
    require(shred.isEmpty,
      "PotV2Source: option 'shred' is batch-only — the streaming feed " +
        "emits change rows (pot_file/key/doc_json), not shredded doc " +
        "fields; drop the option and parse doc_json downstream (or use " +
        "a batch read for shredded columns)")
    // st28: the pot-grain rate knob belongs to the GLOB feed (a single
    // chain rates with maxGenerationsPerTrigger) — decline by name
    require(maxPotsPerTrigger.isEmpty ||
      path.exists(c => "*?[{".contains(c)),
      "PotV2Source: maxPotsPerTrigger applies to a GLOB feed (it bounds " +
        "how many pots advance per batch); rate a single pot's chain " +
        "with maxGenerationsPerTrigger")
    if (path.exists(c => "*?[{".contains(c)))
      new PotV2MultiPotStream(path, required, maxPotsPerTrigger, conf)
    else new PotV2MicroBatchStream(path, required, maxGensPerTrigger, conf)
  }

  /** Planning memo (r17): planInputPartitions is consulted several
    * times per query since the SPJ change (outputPartitioning, stats,
    * the exec itself), and each uncached call re-walks the glob and
    * every pot's marker dir — at 10k objects that is real planning
    * cost. One Scan instance = one query, so a cached snapshot is not
    * just cheaper but MORE correct (plan stability: stats, partitioning
    * and the exec all see the same chain heads). Runtime filtering
    * invalidates it — DPP re-plans from the delivered pot_file values.
    * Statement-barrier reads (capResolver set — the bucketed store) are
    * NEVER memoized: cap resolution is also where aged crashed
    * statements AUTO-RECOVER (r16), and the read that triggers the
    * roll-forward must re-plan to serve the recovered heads — a frozen
    * early snapshot would hand the exec the pre-recovery base caps
    * (caught by the r16 auto-recovery spec when the memo first landed). */
  @volatile private var cachedParts: Array[InputPartition] = _

  override def planInputPartitions(): Array[InputPartition] = {
    if (capResolver.isDefined) return wrapKeyGrain(planInputPartitionsUncached())
    val c = cachedParts
    if (c != null) return c
    val planned = wrapKeyGrain(planInputPartitionsUncached())
    cachedParts = planned
    planned
  }

  private def planInputPartitionsUncached(): Array[InputPartition] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    // TIME TRAVEL: `.option("generation", n)` pins the read to commit n of
    // the write chain (the connector's VERSION AS OF, pairing with kv7's
    // PotTable time travel) — the reader scans that generation's immutable
    // snapshot instead of the data.json head materialization. One pot
    // object only (a glob of pots has no shared generation counter), and
    // an uncommitted generation fails loudly rather than reading stale.
    generation.foreach { g =>
      require(!path.exists(c => "*?[{".contains(c)),
        s"PotV2Source: generation reads need ONE pot object, not a glob: $path")
      val commits = new Path(p.getParent, ".commits")
      val body = graft.kv.CommitMarker.bodyAt(fs, commits, g)
        .getOrElse(throw new IllegalArgumentException(
          "requirement failed: PotV2Source: generation " +
            s"$g is not committed under $commits"))
      // retention guard (the PotTable.getAt contract brought to the SQL
      // path): a pinned generation whose needed bodies were vacuumed
      // fails loudly and NAMED at planning — never a raw executor
      // FileNotFoundException out of a VERSION AS OF read. For a
      // snapshot pin that is the one body; for a delta-headed pin it is
      // the covering snapshot plus the dgen run above it (artifacts
      // BELOW the covering snapshot are legitimately vacuumable).
      val needed: Seq[String] =
        if (PotChain.isSnap(body)) Seq(body)
        else {
          val (snap, dgens) = PotChain.chainRun(fs, commits, g)
          snap.toSeq ++ dgens
        }
      val gone = needed.filterNot(b => fs.exists(new Path(b)))
      if (gone.nonEmpty)
        throw new graft.kv.PotTable.RetentionViolated(
          s"pot $path generation $g: ${gone.size} chain artifact(s) were " +
            s"vacuumed (first: ${gone.head}) — the retention window has " +
            "passed this generation; pin vacuum's retention above the " +
            "oldest generation readers still need")
      // a snapshot generation reads its immutable object directly; a
      // DELTA generation (streaming epoch) folds its chain executor-side
      return Array(
        if (PotChain.isSnap(body)) PotFilePartition(body, g)
        else PotStatePartition(p.getParent.toString, g, body))
    }
    val matched = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Seq.empty)
    // r15 statement barrier: the bucketed store's open-statement caps,
    // resolved once per planning. A capped pot reads its BASE generation
    // (pre-statement state) so a multi-bucket statement is never observed
    // prefix-applied; cap 0 = the pot did not exist pre-statement.
    val caps: Map[String, Long] = capResolver.map(_()).getOrElse(Map.empty)
    // u57: exact pushed/runtime key values are a ZONE-MAP pruning witness
    // (filters are ANDed, so any one exact shape's value set suffices: a
    // pot whose [kmin, kmax] excludes every value cannot serve a row)
    val exactKeys: Option[Seq[String]] =
      (pushed ++ runtime).collectFirst {
        case org.apache.spark.sql.sources.EqualTo("key", v: String) => Seq(v)
        case org.apache.spark.sql.sources.In("key", vs)
            if vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
          vs.toSeq.map(_.toString)
      }
    // r18: a pushed key PREFIX prunes too (the reference's list-by-prefix
    // shape, server.go:437-463): keys with prefix p live in
    // [p, nextPrefix(p)) in unsigned UTF-8 order, so a pot is admissible
    // iff that interval meets [kmin, kmax]
    val prefixKey: Option[String] =
      (pushed ++ runtime).collectFirst {
        case org.apache.spark.sql.sources.StringStartsWith("key", p) => p
      }
    // candidates carry their sidecar range + exact row count when known
    // (snapshot-headed head reads with an r16+ name stamp) — the u67
    // TopN skip's evidence; capped/delta/legacy partitions carry None
    val cands: Seq[(InputPartition, Option[(String, String)], Option[Long])] =
      matched.filter(_.isFile)
      .map(_.getPath.toString)
      .filter(PotV2Filters.accepts(pushed, "pot_file", _))
      .filter(PotV2Filters.accepts(runtime, "pot_file", _))
      .flatMap { f =>
        // data.json materializes SNAPSHOTS only: when the chain head is a
        // delta generation (streaming epochs since the last compaction),
        // the partition folds the chain instead of reading the lagging
        // materialization — still one task per pot. pot_file provenance
        // stays the data.json path either way.
        val dir = new Path(f).getParent
        val commits = new Path(dir, ".commits")
        val head = graft.kv.CommitMarker.head(fs, commits)
        val eff = caps.get(f).fold(head)(c => math.min(head, c))
        if (eff < head) {
          if (eff <= 0L) None
          else Some((PotStatePartition(dir.toString, eff, f): InputPartition,
            None, None))
        } else {
          val body = if (head > 0) PotChain.artifactOf(fs, commits, head)
            else null
          val headIsDelta = head > 0 && PotChain.isDgen(body)
          // u57 zone-map pruning: snapshot-headed pots whose sidecar
          // range excludes every exact pushed key (or the whole pushed
          // prefix interval) drop at PLANNING — the object is never
          // opened. Delta heads, legacy chains, and sidecar-less
          // commits keep their partition (no pruning, never wrong).
          // u65 (r19): pushed SHRED-field predicates prune the same way
          // against the sidecar's per-field typed min/max.
          val stats = if (headIsDelta || head == 0) PotChain.ZStats(None, None,
            fcap = true)
          else PotChain.zmapStats(fs, body)
          // u69 (r19): a DELTA-HEADED chain prunes on the union of its
          // covering snapshot's zone map and every dgen's touched range
          // — complete evidence only, shred predicates never prune here
          val admit = (if (headIsDelta)
            PotChain.deltaChainAdmits(fs, commits, head, exactKeys,
              prefixKey)
          else true) && (headIsDelta || head == 0 || {
            val keyOk = stats.range match {
              case Some((mn, mx)) =>
                exactKeys.forall(_.exists(k =>
                  PotV2Source.utf8Cmp(k, mn) >= 0 &&
                    PotV2Source.utf8Cmp(k, mx) <= 0)) &&
                prefixKey.forall(pfx =>
                  PotV2Source.prefixMeetsRange(pfx, mn, mx))
              case None => true
            }
            keyOk && (shredMapForZmap.isEmpty || pushed.forall(
              PotChain.shredFilterAdmits(_, shredMapForZmap, stats)))
          })
          if (!admit) None
          else if (headIsDelta)
            Some((PotStatePartition(dir.toString, head, f): InputPartition,
              None, None))
          else Some((PotFilePartition(f, if (head > 0) head else -1L)
            : InputPartition,
            stats.range,
            if (head > 0) PotChain.snapRows(body) else None))
        }
      }
    // u67 (r19): ORDER-AWARE OBJECT SKIP for a pushed TopN on key — an
    // object cannot contribute to the global top-k when OTHER objects
    // whose whole key range strictly precedes it already hold >= k rows
    // (ASC: their kmax < its kmin — every one of their rows orders ahead
    // of every row here; DESC mirrored). Evidence is sidecar range +
    // name-stamped exact row counts only; objects lacking either are
    // never skipped and never counted. Applied only when no pushed or
    // runtime predicate can drop rows (IsNotNull on the non-null
    // addressing columns is vacuous) and no sample is pushed — a
    // filtered TopN's preceding-row count would overcount.
    val topNSkippable = pushedTopN.isDefined && pushedSample.isEmpty &&
      (pushed ++ runtime).forall {
        case org.apache.spark.sql.sources.IsNotNull(a) =>
          a == "key" || a == "pot_file"
        case _ => false
      }
    val parts: Array[InputPartition] =
      (if (!topNSkippable) cands.map(_._1)
      else {
        val (asc, k) = pushedTopN.get
        val known = cands.zipWithIndex.collect {
          case (((_, Some((mn, mx)), Some(r))), i) => (i, mn, mx, r)
        }
        cands.zipWithIndex.flatMap {
          case ((part, Some((mn, mx)), _), i) =>
            val before = known.iterator.filter(_._1 != i).filter { o =>
              if (asc) PotV2Source.utf8Cmp(o._3, mn) < 0
              else PotV2Source.utf8Cmp(o._2, mx) > 0
            }.map(_._4).sum
            if (before >= k.toLong) None else Some(part)
          case ((part, _, _), _) => Some(part)
        }
      }).toArray
    // Partial GLOBAL count with every file pruned away: Spark's final
    // merge would sum zero partial rows and return NULL where a
    // non-pushed COUNT(*) returns 0 — plan one no-file partition that
    // emits the 0 partial instead. (Grouped counts correctly emit no
    // groups from an empty scan.)
    if (parts.isEmpty && aggGroupedByFile.contains(false))
      Array(PotNoFilePartition)
    else parts
  }

  private lazy val taskConf = PotV2Source.broadcastConf(conf)
  override def createReaderFactory(): PartitionReaderFactory =
    new PotV2ReaderFactory(taskConf,
      required.fieldNames, pushed, aggGroupedByFile,
      pushedLimit, pushedTopN, pushedSample, shred, aggKinds, pushedOffset)

  /** Statistics reporting (r15) — the missing piece for DATA-DRIVEN join
    * planning over pot relations: without it Spark assumes
    * `defaultSizeInBytes` (Long.MaxValue) for a V2 relation, so a small
    * pot dim joined to a parquet fact never auto-broadcasts and at scale
    * relies on AQE's post-shuffle rescue. `sizeInBytes` is EXACT FS
    * metadata over exactly the objects the (pushed-filter-pruned) scan
    * will open — a pruned point read reports bytes of its one object; a
    * delta-headed chain reports covering snapshot + dgen run (the bytes
    * the fold reads; data.json may lag). `numRows` (r16) reads the
    * per-commit row counts the writers stamp into artifact names
    * ([[PotChain.rowsAt]]) — exact for snapshot heads, an upper-leaning
    * estimate for delta heads, absent (honestly) for pre-r16 chains and
    * raw legacy objects; with it the V2 relation carries a rowCount into
    * the logical stats, the input CBO join reordering needs. A pushed
    * exact-key predicate caps the estimate at keys × files (a point read
    * must not report the whole pot's cardinality).
    */
  override def estimateStatistics(): Statistics = {
    import java.util.OptionalLong
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    def len(f: String): Long =
      try fs.getFileStatus(new Path(f)).getLen
      catch { case _: java.io.FileNotFoundException => 0L }
    def foldBytes(commits: Path, g: Long): Long = {
      val (snap, dgens) = PotChain.chainRun(fs, commits, g)
      (snap.toSeq ++ dgens).iterator.map(len).sum
    }
    var nFiles = 1L
    val (bytes, rows): (Option[Long], Option[Long]) =
      try generation match {
        case Some(g) =>
          val commits = new Path(p.getParent, ".commits")
          val body = PotChain.artifactOf(fs, commits, g)
          (Some(if (PotChain.isSnap(body)) len(body)
            else foldBytes(commits, g)),
            PotChain.rowsAt(fs, commits, g))
        case None =>
          val per = Option(fs.globStatus(p)).map(_.toSeq)
            .getOrElse(Seq.empty)
            .filter(_.isFile)
            .filter(st =>
              PotV2Filters.accepts(pushed, "pot_file", st.getPath.toString))
            .map { st =>
              val commits = new Path(st.getPath.getParent, ".commits")
              val head = graft.kv.CommitMarker.head(fs, commits)
              val b = if (head > 0 &&
                  PotChain.isDgen(PotChain.artifactOf(fs, commits, head)))
                foldBytes(commits, head)
              else st.getLen
              val r = if (head > 0) PotChain.rowsAt(fs, commits, head)
                else None // raw legacy object: count unknown without a read
              (b, r)
            }
          nFiles = per.length.toLong
          (Some(per.map(_._1).sum),
            if (per.nonEmpty && per.forall(_._2.isDefined))
              Some(per.flatMap(_._2).sum)
            else None)
      } catch {
        // stats must never fail planning — an unreadable chain reports
        // unknown and the read path raises its own loud error
        case scala.util.control.NonFatal(_) => (None, None)
      }
    // pushed exact-key shapes bound the emitted rows: at most one match
    // per key per opened object (keys are unique within a pot)
    val keyBound: Option[Long] = pushed.collectFirst {
      case org.apache.spark.sql.sources.EqualTo("key", _) => nFiles
      case org.apache.spark.sql.sources.In("key", vs) =>
        vs.length.toLong * nFiles
    }
    val boundedRows0 = (rows, keyBound) match {
      case (Some(r), Some(k)) => Some(math.min(r, k))
      case (r, _) => r
    }
    // a pushed sample admits ~threshold/10000 of the keys: scale the
    // estimate so the planner sees the sampled cardinality
    val boundedRows = pushedSample match {
      case Some(t) => boundedRows0.map(r => math.max(1L, r * t / 10000))
      case None => boundedRows0
    }
    new Statistics {
      override def sizeInBytes(): OptionalLong =
        bytes.fold(OptionalLong.empty())(OptionalLong.of)
      override def numRows(): OptionalLong =
        boundedRows.fold(OptionalLong.empty())(OptionalLong.of)
    }
  }

  override def description(): String = {
    val aggNames = aggKinds.map {
      case PotV2Source.AggCount => "count"
      case PotV2Source.AggMinKey => "min(key)"
      case PotV2Source.AggMaxKey => "max(key)"
      case PotV2Source.AggCountShred(f) => s"count($f)"
      case PotV2Source.AggMinShred(f, _) => s"min($f)"
      case PotV2Source.AggMaxShred(f, _) => s"max($f)"
    }.mkString(",")
    val aggDesc = aggGroupedByFile match {
      case Some(true)  => s", PushedAggregation: $aggNames group=[pot_file]"
      case Some(false) => s", PushedAggregation: $aggNames group=[]"
      case None => ""
    }
    val genDesc = generation.map(g => s", Generation: $g").getOrElse("")
    val limDesc = pushedTopN match {
      case Some((asc, k)) =>
        s", PushedTopN: key ${if (asc) "ASC" else "DESC"} limit $k"
      case None => pushedLimit.map(k => s", PushedLimit: $k").getOrElse("")
    }
    val sampleDesc = pushedSample
      .map(t => s", PushedSample: $t/10000 by key hash").getOrElse("")
    val offDesc = pushedOffset.map(o => s", PushedOffset: $o").getOrElse("")
    s"PotV2Scan ${pushed.mkString("PushedFilters: [", ", ", "]")}$aggDesc$genDesc$limDesc$sampleDesc$offDesc"
  }
}

/** One immutable object read whole: either a `.snap-` body or a data.json
  * materialization. `gen` is the snapshot generation that produced the
  * content (every row's `_pot_gen`); -1 = raw legacy object with no
  * chain (metadata column reads NULL). Carries its `pot_file` as the
  * DSv2 partition key (u51: storage-partitioned joins). */
private[sources] case class PotFilePartition(
    file: String, gen: Long = -1L) extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    InternalRow(UTF8String.fromString(file))
}

/** A pot whose chain head (or pinned generation) is a DELTA generation:
  * the reader folds the chain (covering snapshot + dgens) EXECUTOR-side
  * via [[PotChain.stateAt]] — one task per pot, the same parallelism as a
  * file partition, with data.json allowed to lag snapshot-only. `potFile`
  * is the provenance value emitted in the pot_file column. */
private[sources] case class PotStatePartition(
    dir: String, gen: Long, potFile: String) extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    InternalRow(UTF8String.fromString(potFile))
}

/** Planned only for a pushed partial GLOBAL count whose pot_file
  * predicate pruned every file: its reader emits the single 0 partial. */
private[sources] case object PotNoFilePartition extends InputPartition

private[sources] object PotV2Scan {
  private val BucketRe = "_b=([0-9]+)/data\\.json$".r
  /** Bucket id encoded in a bucketed-store pot path, if any. */
  def bucketIdOf(potFile: String): Option[Int] =
    BucketRe.findFirstMatchIn(potFile).map(_.group(1).toInt)
}

/** u54: a bucketed-store partition whose DSv2 partition key is its
  * BUCKET ID — the value of `bucket(n, key)` for every row it holds
  * (bucket id is a pure function of the key). Wraps the real file/state
  * partition; [[PotV2ReaderFactory]] unwraps before reading. */
private[sources] case class BucketKeyedPartition(
    inner: InputPartition, bucket: Int) extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = InternalRow(bucket)
}

/** One admitted entry, shred values extracted pre-stringify; `doc` is
  * null when the projection dropped doc_json (no body ever rendered). */
private[sources] final case class PotEntry(
    key: String, doc: String, gen: Long, sv: Array[Any])

private[sources] object PotV2ReaderFactory {
  val NoSvals: Array[Any] = Array.empty[Any]
}

private[sources] class PotV2ReaderFactory(
    conf: Broadcast[SerializableConfiguration],
    columns: Array[String],
    pushed: Array[org.apache.spark.sql.sources.Filter],
    aggGroupedByFile: Option[Boolean] = None,
    pushedLimit: Option[Int] = None,
    pushedTopN: Option[(Boolean, Int)] = None,
    pushedSample: Option[Long] = None,
    shred: Seq[(String, Seq[String], org.apache.spark.sql.types.DataType)] = Nil,
    aggKinds: Seq[PotV2Source.PotAgg] = Seq(PotV2Source.AggCount),
    pushedOffset: Option[Int] = None)
    extends PartitionReaderFactory {
  /** Pushed-filter + pushed-sample admission for one key (u41: the
    * sample is a per-myriad threshold on the md5 key fold — consistent
    * across runs, partitions, and replicas by construction). */
  private def keyKeep(key: String): Boolean =
    PotV2Filters.accepts(pushed, "key", key) &&
      pushedSample.forall(t => PotV2Filters.sampleFold(key) < t)

  // u45 doc-field pushdown: predicates over shredded columns, evaluated
  // against per-entry extracted values BEFORE any stringification
  private val shredCols: Set[String] = shred.map(_._1).toSet
  private val shredIdx: Map[String, Int] =
    shred.map(_._1).zipWithIndex.toMap
  private val docFilters = pushed.filter(_.references.exists(shredCols))
  private val needDoc = columns.contains("doc_json")
  private def svalsOf(node: com.fasterxml.jackson.databind.JsonNode)
      : Array[Any] =
    if (shred.isEmpty) PotV2ReaderFactory.NoSvals
    else shred.iterator.map { case (_, path, t) =>
      PotV2Filters.shredValue(node, path, t) }.toArray
  private def docKeep(sv: Array[Any]): Boolean =
    docFilters.isEmpty ||
      PotV2Filters.docAccepts(docFilters, shredCols, n => sv(shredIdx(n)))

  // u68: alias -> (paths, declared type) for sidecar-stats answering
  private val shredMapByAlias
      : Map[String, (Seq[String], org.apache.spark.sql.types.DataType)] =
    shred.map(sp => sp._1 -> (sp._2, sp._3)).toMap
  /** u68 gate: no pushed predicate (or sample) may drop rows inside the
    * object — IsNotNull on the never-null addressing columns is vacuous,
    * and pot_file-only predicates were fully resolved at planning (a
    * surviving partition satisfies them for every row). */
  private def statsOnlyEligible: Boolean =
    pushedSample.isEmpty && pushed.forall {
      case org.apache.spark.sql.sources.IsNotNull(a) =>
        a == "key" || a == "pot_file"
      case f => f.references.forall(_ == "pot_file")
    }

  override def createReader(partition0: InputPartition): PartitionReader[InternalRow] = {
    // u54: the bucket-id carrier is planning-surface only — read the real
    // file/state partition inside it
    val partition = partition0 match {
      case BucketKeyedPartition(inner, _) => inner
      case p => p
    }
    partition match {
      case PotNoFilePartition => return new PartitionReader[InternalRow] {
        // the zero-file GLOBAL partial: count 0, min/max NULL (exactly
        // the partial an empty relation contributes)
        private var emitted = false
        override def next(): Boolean =
          if (emitted) false else { emitted = true; true }
        override def get(): InternalRow = InternalRow.fromSeq(aggKinds.map {
          case PotV2Source.AggCount => 0L
          case _ => null
        })
        override def close(): Unit = ()
      }
      case _ => ()
    }
    val file = partition match {
      case PotFilePartition(f, _) => f
      case PotStatePartition(_, _, pf) => pf
      case other => throw new IllegalArgumentException(
        s"PotV2Source: unexpected partition $other")
    }
    // `_pot_gen` value for rows of a whole-object read: the snapshot
    // generation the partition carries (-1 = legacy, reads NULL). Fold
    // partitions get per-key provenance from stateAtWithGen instead.
    val fileGen = partition match {
      case PotFilePartition(_, g) => g
      case _ => -1L
    }
    // per-reader doc-skip count, surfaced as the docSkippedEntries task
    // metric (u45): entries dropped by pushed doc-field predicates before
    // their bodies were stringified
    var docSkipped = 0L
    // u68: 1 when this partition's pushed aggregate was answered from
    // sidecar stats + the name stamp without opening the object
    var statsOnlyObjects = 0L
    def taskMetrics()
        : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
      Array(new org.apache.spark.sql.connector.metric.CustomTaskMetric {
        override def name(): String = "docSkippedEntries"
        override def value(): Long = docSkipped
      }, new org.apache.spark.sql.connector.metric.CustomTaskMetric {
        override def name(): String = "statsOnlyAggObjects"
        override def value(): Long = statsOnlyObjects
      })
    // doc-field admission over a parsed node (u45): extract, evaluate,
    // count the kill — the node is dropped before any toString
    def nodeAdmit(node: com.fasterxml.jackson.databind.JsonNode)
        : Option[Array[Any]] = {
      val sv = svalsOf(node)
      if (docKeep(sv)) Some(sv) else { docSkipped += 1; None }
    }
    // the partition's whole object, parsed as one tree
    def readObject() = {
      val p = new Path(file)
      PotChain.readObject(p.getFileSystem(conf.value.value), p)
    }
    // state partitions fold their chain executor-side; key predicates
    // still prune the emitted entries (the fold itself is whole-state by
    // definition — that is what a delta-headed chain costs to resolve).
    // The fold materializes doc STRINGS, so doc-field predicates re-parse
    // per entry here — correct, and honest about what a delta-headed
    // chain costs; the snapshot paths below never pay it.
    def foldedEntries(sp: PotStatePartition): Iterator[PotEntry] = {
      val fs = new Path(sp.dir).getFileSystem(conf.value.value)
      val mapper = new ObjectMapper()
      PotChain.stateAtWithGen(fs, new Path(sp.dir, ".commits"), sp.gen)
        .entrySet().asScala.iterator
        .filter(e => keyKeep(e.getKey))
        .flatMap { e =>
          if (shred.isEmpty)
            Some(PotEntry(e.getKey, e.getValue._1, e.getValue._2,
              PotV2ReaderFactory.NoSvals))
          else nodeAdmit(mapper.readTree(e.getValue._1)).map(sv =>
            PotEntry(e.getKey, e.getValue._1, e.getValue._2, sv))
        }
    }
    aggGroupedByFile match {
      case Some(grouped) => return new PartitionReader[InternalRow] {
        // Aggregate path (u12 count; u49 MIN/MAX over key; u56 adds
        // COUNT/MIN/MAX over SHREDDED doc fields): parse the map, apply
        // pushed key + doc-field predicates, fold — key and string-field
        // extremes compare in UNSIGNED UTF-8 BYTE order (Spark's
        // StringType semantics; pushTopN's r15 comparator rule), bigint
        // fields numerically; shred values come from the pre-stringify
        // extraction (u45), so document bodies are NEVER stringified.
        // One output row per file. A GROUPED aggregate emits NO row when
        // the predicates (or an empty map) leave zero entries — a
        // (pot_file, 0) group here would be a phantom a non-pushed
        // aggregate never produces; the global partial keeps its row
        // (count 0, min/max NULL — the u49 empty discipline, which for
        // shred aggs also covers the all-null-field case per SQL).
        private var emitted = false
        // per-kind fold state, parallel to aggKinds (n doubles as the
        // grouped emit decision)
        private var n = 0L
        private var mnKey: String = null
        private var mxKey: String = null
        private val shredState = new Array[Any](aggKinds.length)
        private val shredCount = new Array[Long](aggKinds.length)
        private def less(a: Any, b: Any): Boolean = (a, b) match {
          case (x: String, y: String) => PotV2Source.utf8Cmp(x, y) < 0
          case (x: java.lang.Long, y: java.lang.Long) => x < y
          case _ => false
        }
        private def fold(key: String, sv: Array[Any]): Unit = {
          n += 1
          if (mnKey == null || PotV2Source.utf8Cmp(key, mnKey) < 0) mnKey = key
          if (mxKey == null || PotV2Source.utf8Cmp(key, mxKey) > 0) mxKey = key
          var i = 0
          while (i < aggKinds.length) {
            aggKinds(i) match {
              case PotV2Source.AggCountShred(f) =>
                if (sv(shredIdx(f)) != null) shredCount(i) += 1
              case PotV2Source.AggMinShred(f, _) =>
                val v = sv(shredIdx(f))
                if (v != null &&
                    (shredState(i) == null || less(v, shredState(i))))
                  shredState(i) = v
              case PotV2Source.AggMaxShred(f, _) =>
                val v = sv(shredIdx(f))
                if (v != null &&
                    (shredState(i) == null || less(shredState(i), v)))
                  shredState(i) = v
              case _ => ()
            }
            i += 1
          }
        }
        // u68: kind-parallel results answered from the zone-map sidecar
        // + the name-stamped row count — set iff the object was never
        // opened (null = the fold below ran instead)
        private var statsVals: Seq[Any] = null
        /** u68 STATS-ONLY attempt: for a snapshot-headed partition with
          * no row-dropping pushed predicate/sample, resolve the head
          * artifact (one marker read), take its `-r<N>` row stamp and
          * `.zmap` stats, and ask [[PotChain.statsAnswer]] for the whole
          * aggregation. Two metadata-sized reads replace the full object
          * parse; anything ambiguous falls back to open-and-fold
          * (never wrong). */
        private def tryStatsOnly(): Boolean = {
          if (fileGen <= 0L || !statsOnlyEligible) return false
          try {
            val p = new Path(file)
            val fs = p.getFileSystem(conf.value.value)
            val commits = new Path(p.getParent, ".commits")
            val body = PotChain.artifactOf(fs, commits, fileGen)
            if (body == null || PotChain.isDgen(body)) return false
            PotChain.snapRows(body) match {
              case Some(rows) =>
                PotChain.statsAnswer(aggKinds, rows,
                  PotChain.zmapStats(fs, body), shredMapByAlias) match {
                  case Some(vals) =>
                    statsVals = vals; n = rows; statsOnlyObjects = 1L; true
                  case None => false
                }
              case None => false
            }
          } catch { case scala.util.control.NonFatal(_) => false }
        }
        private lazy val folded: Unit = partition match {
          case sp: PotStatePartition =>
            foldedEntries(sp).foreach(e => fold(e.key, e.sv))
          case _ if tryStatsOnly() => ()
          case _ =>
            readObject().fields().asScala.foreach { e =>
              if (keyKeep(e.getKey)) {
                if (shred.isEmpty) fold(e.getKey, PotV2ReaderFactory.NoSvals)
                else nodeAdmit(e.getValue).foreach(sv => fold(e.getKey, sv))
              }
            }
        }
        private def out(v: Any): Any = v match {
          case s: String => UTF8String.fromString(s)
          case other => other
        }
        private def aggVals: Seq[Any] =
          if (statsVals != null) statsVals.map(out)
          else aggKinds.zipWithIndex.map {
          case (PotV2Source.AggCount, _) => n
          case (PotV2Source.AggMinKey, _) => out(mnKey)
          case (PotV2Source.AggMaxKey, _) => out(mxKey)
          case (PotV2Source.AggCountShred(_), i) => shredCount(i)
          case (PotV2Source.AggMinShred(_, _), i) => out(shredState(i))
          case (PotV2Source.AggMaxShred(_, _), i) => out(shredState(i))
        }
        override def next(): Boolean =
          if (emitted) false
          else { emitted = true; folded; !grouped || n > 0 }
        override def get(): InternalRow =
          if (grouped)
            InternalRow.fromSeq(UTF8String.fromString(file) +: aggVals)
          else InternalRow.fromSeq(aggVals)
        override def currentMetricsValues() = taskMetrics()
        override def close(): Unit = ()
      }
      case None => // fall through to the row reader below
    }
    new PartitionReader[InternalRow] {
      // the LIMIT/TopN path's open stream, if any — closed on early stop
      private var openStream: PotChain.ObjectStream = null
      private def streamed(): PotChain.ObjectStream = {
        val p = new Path(file)
        openStream = PotChain.streamObject(p.getFileSystem(conf.value.value), p)
        openStream
      }
      // admit a (key, node): key predicates, then doc-field predicates on
      // extracted shred values (u45) — the body stringifies ONLY for
      // survivors, and not at all when the projection dropped doc_json
      def admit(key: String,
          node: com.fasterxml.jackson.databind.JsonNode)
          : Option[PotEntry] =
        if (!keyKeep(key)) None
        else nodeAdmit(node).map(sv => PotEntry(key,
          if (needDoc) node.toString else null, fileGen, sv))
      private def sourceEntries(): Iterator[PotEntry] =
        partition match {
          case sp: PotStatePartition => foldedEntries(sp)
          case _ if pushedLimit.isDefined && pushedTopN.isEmpty =>
            // limit path: stream + early stop (the take() below closes
            // the parse after k survivors — O(k) parse, not O(object))
            streamed().flatMap(e => admit(e._1, e._2))
          case _ =>
            // key predicates filter BEFORE toString — a point read of one
            // key in a 100k-entry pot never stringifies the other bodies
            readObject().fields().asScala
              .flatMap(e => admit(e.getKey, e.getValue))
        }
      private val entries: Iterator[PotEntry] = pushedTopN match {
        case Some((asc, k)) =>
          // top-k by key, k-bounded selection: only winners stringify.
          // (The snapshot still parses fully — every key must be seen —
          // but Spark receives k rows per object, not the whole object.)
          // Keys compare in UNSIGNED UTF-8 BYTE order — Spark sorts
          // StringType by UTF8String binary comparison, and a pushdown
          // must be semantically invisible: java's Ordering.String
          // (UTF-16 code units) would rank supplementary characters
          // (surrogates 0xD800-0xDFFF) BELOW BMP chars >= U+E000 and a
          // partial top-k could evict a true global winner (ADVICE r15).
          val utf8: java.util.Comparator[String] = PotV2Source.utf8Cmp(_, _)
          val ord = if (asc) utf8 else utf8.reversed()
          val sel = new java.util.TreeMap[String, (String, Long, Array[Any])](ord)
          partition match {
            case sp: PotStatePartition =>
              foldedEntries(sp).foreach { e =>
                sel.put(e.key, (e.doc, e.gen, e.sv))
                if (sel.size > k) sel.pollLastEntry()
              }
            case _ =>
              streamed().filter(e => keyKeep(e._1))
                .foreach { case (key, node) =>
                  // admit before stringify (key selection AND doc-field
                  // predicates); evict the current worst
                  def winner(): Unit = nodeAdmit(node).foreach { sv =>
                    sel.put(key,
                      (if (needDoc) node.toString else null, fileGen, sv))
                  }
                  if (sel.size < k) winner()
                  else if (ord.compare(key, sel.lastKey()) < 0) {
                    val before = sel.size
                    winner()
                    if (sel.size > before) sel.pollLastEntry()
                  }
                }
          }
          sel.entrySet().asScala.iterator
            .map(e => PotEntry(e.getKey, e.getValue._1, e.getValue._2,
              e.getValue._3))
        case None =>
          pushedLimit.fold(sourceEntries())(k => sourceEntries().take(k))
      }
      // pushed OFFSET (u53): drop the page prefix AFTER selection — the
      // scan plans exactly one partition for a non-glob pot (the only
      // shape the builder accepts), so the per-reader drop is global.
      // Spark hands pushTopN/pushLimit limit = k + offset, so what
      // survives here is exactly the requested page.
      private val paged: Iterator[PotEntry] =
        pushedOffset.fold(entries)(o => entries.drop(o))
      private var row: InternalRow = _
      override def next(): Boolean = {
        if (!paged.hasNext) return false
        val e = paged.next()
        row = InternalRow.fromSeq(columns.toSeq.map {
          case "pot_file" => UTF8String.fromString(file)
          case "key"      => UTF8String.fromString(e.key)
          case "doc_json" => UTF8String.fromString(e.doc)
          // u32 metadata column: -1 = legacy object, provenance unknown
          case PotV2Source.PotGenCol => if (e.gen >= 0) e.gen else null
          case shredded if shredIdx.contains(shredded) =>
            e.sv(shredIdx(shredded)) match {
              case s: String => UTF8String.fromString(s)
              case other => other // java.lang.Long or null
            }
          case other => throw new IllegalArgumentException(
            s"PotV2Source: unknown column $other")
        })
        true
      }
      override def get(): InternalRow = row
      override def currentMetricsValues() = taskMetrics()
      override def close(): Unit = if (openStream != null) openStream.close()
    }
  }
}

// ======================= write path (BATCH_WRITE) ========================
//
// The POST half of the connector (reference server_routes.go:75-135): a
// pot object becomes an INSERT-able / OVERWRITE-able table. Protocol —
// the same stage-then-CAS discipline PotTable.upsert uses, adapted to the
// single-object data.json format:
//
//   - tasks stage their partition's entries as jsonl FRAGMENTS under a
//     query-unique staging dir (validated as JSON objects task-side, so a
//     malformed doc_json fails the task, never the committed object);
//   - the driver commit merges fragments IN PARTITION ORDER into the
//     previous committed SNAPSHOT (append mode = whole-doc LWW by key,
//     the reference's POST semantics; truncate mode starts empty), writes
//     the merged pot as a new immutable `.snap-<uuid>.json`, and
//     CAS-publishes it as the next generation marker under `.commits/` —
//     concurrent writers serialize on the marker: EXACTLY ONE wins a
//     generation, the loser's commit throws CommitConflict (client
//     retries, re-reading the winner's rows — the reference's
//     precondition-failed behavior);
//   - append merges against the marker CHAIN's latest snapshot, never the
//     mutable data.json — so a slow winner's pending refresh can never be
//     lost-updated by a faster successor;
//   - data.json is the published MATERIALIZATION readers glob: refreshed
//     from the latest committed snapshot by atomic move (java.nio
//     ATOMIC_MOVE on file:; object stores get it from single-PUT
//     atomicity), then re-checked — a winner superseded mid-refresh
//     re-copies the newer snapshot, so concurrent commits converge on the
//     chain head and a reader NEVER observes a torn object.
//
// A pot object is the reference's in-memory unit (server.go holds the
// whole map in RAM), so the driver-side merge is bounded by pot size by
// design — the corpus-scale path is many pot objects, written by many
// independent queries, exactly like the read side's one-partition-per-pot.

private[sources] class PotV2WriteBuilder(
    path: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  private var truncateFirst = false
  override def truncate(): WriteBuilder = { truncateFirst = true; this }
  override def build(): Write = {
    require(!path.exists(c => "*?[{".contains(c)),
      s"PotV2Source write: path must name ONE pot object, not a glob: $path")
    val ceiling = Option(info.options.get("maxObjectBytes")).map(_.toLong)
      .getOrElse(PotV2Source.DefaultMaxObjectBytes)
    // compactEvery: every Nth streaming APPEND epoch commits a full
    // snapshot instead of a delta generation (amortized O(pot/N) per
    // epoch); batch writes always snapshot
    val compactEvery = Option(info.options.get("compactEvery"))
      .map(_.toInt).getOrElse(8)
    require(compactEvery >= 2,
      s"PotV2Source: compactEvery must be >= 2, got $compactEvery")
    // compactBytesFactor (r15): ALSO snapshot when the dgen run's bytes
    // exceed factor x covering-snapshot bytes — the LSM-style size
    // trigger that bounds read-fold cost under SKEWED epoch sizes (a few
    // fat epochs can outweigh the count threshold). <= 0 disables.
    val compactBytesFactor = Option(info.options.get("compactBytesFactor"))
      .map(_.toDouble).getOrElse(4.0)
    new PotV2Write(path, info.schema(), info.queryId(), truncateFirst,
      ceiling, compactEvery, compactBytesFactor)
  }
}

private[graft] case class PotFragmentMessage(
    partitionId: Int, fragment: String) extends WriterCommitMessage

/** A write to one pot object. The driver-side commit resolves its
  * FileSystems from `conf` (by default the conf of the session running
  * the write, [[PotV2Source.sessionConf]]); the write's tasks read the
  * same conf from the one broadcast its `writerFactory` carries. */
private[graft] class PotV2Write(
    path: String, schema: StructType, queryId: String,
    private[graft] val truncateFirst: Boolean,
    maxObjectBytes: Long = PotV2Source.DefaultMaxObjectBytes,
    private[graft] val compactEvery: Int = 8,
    private[graft] val compactBytesFactor: Double = 4.0,
    private[graft] val conf: Configuration = PotV2Source.sessionConf())
    extends Write with BatchWrite {
  import java.nio.charset.StandardCharsets.UTF_8

  private[graft] val keyIdx = schema.fieldNames.indexOf("key")
  private[graft] val docIdx = schema.fieldNames.indexOf("doc_json")
  require(keyIdx >= 0 && docIdx >= 0 &&
    schema.fields(keyIdx).dataType == StringType &&
    schema.fields(docIdx).dataType == StringType,
    s"PotV2Source write needs string columns key + doc_json, got $schema")
  require(schema.fieldNames.forall(
    Set("pot_file", "key", "doc_json").contains),
    // pot_file is read-side provenance: accepted (the round-trip keeps the
    // table schema) but the TARGET path determines it, so values pass through
    s"PotV2Source write: unknown column(s) in ${schema.fieldNames.mkString(",")}")

  private def stagingDir = new Path(new Path(path).getParent, s".staging-$queryId")

  override def toBatch: BatchWrite = this

  override def toStreaming
      : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
    new PotV2StreamingWrite(this)

  override def createBatchWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : DataWriterFactory = writerFactory

  /** The fragment writer of this write's batch and streaming tasks. */
  private[graft] lazy val writerFactory = new PotFragmentWriterFactory(
    PotV2Source.broadcastConf(conf), stagingBase, nBuckets = 1,
    keyIdx, docIdx)

  private[graft] def qid8: String =
    queryId.replace("-", "").take(8)

  /** Committed marker bodies are IMMUTABLE once published, so the
    * tag-adoption scan caches them: each epoch reads only the markers
    * that appeared since the last scan (amortized O(new generations)
    * per epoch instead of O(chain) — a long-running stream's per-epoch
    * overhead stays flat as its own chain grows). Keyed per Write
    * instance; a fresh writer (restart) rebuilds the cache on first use.
    */
  private val markerBodyCache =
    scala.collection.mutable.Map.empty[Long, String]

  /** Generation whose committed artifact name carries tag `t` — the
    * replayed-epoch adoption lookup, and (r18 ADVICE) what lets a CALL
    * report the generation its OWN fold published instead of re-reading
    * a head a concurrent writer may have moved. */
  private[graft] def genOfTag(
      fs: org.apache.hadoop.fs.FileSystem, commits: Path,
      t: String): Option[Long] = {
    graft.kv.CommitMarker.committedGenerations(fs, commits).foreach { g =>
      if (!markerBodyCache.contains(g))
        markerBodyCache(g) =
          new Path(graft.kv.CommitMarker.read(fs, new Path(commits, g.toString)))
            .getName
    }
    markerBodyCache.collectFirst { case (g, name) if name.contains(s"-$t-") => g }
  }

  private[graft] def committedTagExists(
      fs: org.apache.hadoop.fs.FileSystem, commits: Path,
      t: String): Boolean = genOfTag(fs, commits, t).isDefined

  private[graft] def stagingBase: String =
    new Path(new Path(path).getParent, s".staging-$queryId").toString

  private[graft] def epochStagingDir(epochId: Long): Path =
    new Path(s"$stagingBase-e$epochId")

  /** One merge-and-CAS attempt cycle, shared by the batch and streaming
    * commit paths: load the head state, fold this commit's fragments
    * onto it ([[PotChain.foldChanges]]), write the merged snapshot with
    * its `.delta-` and `.zmap-` sidecars, and CAS it as generation
    * head+1. The artifacts' formats are [[PotChain]]'s.
    *
    * `snapTag`, when given, makes the commit IDEMPOTENT per tag (the
    * AnnIndex.append discipline): the tag is embedded in the snapshot
    * FILE NAME — marker bodies stay bare paths every reader parses — and
    * a chain snapshot already carrying the tag short-circuits the commit
    * (a checkpoint-replayed streaming epoch adopts its committed
    * generation instead of double-applying).
    *
    * `retryOnConflict = false` (batch): a lost CAS propagates as a clean
    * CommitConflict — the DataFrameWriter caller retries with fresh
    * intent. `true` (streaming): the loop re-reads the head, RE-MERGES
    * the same fragments against it and re-CASes at the new head+1 —
    * lost-update-free because the merge base is re-read every attempt,
    * and an epoch must not fail the whole stream just because an
    * external writer took a generation.
    *
    * `expectedHeadGen` pins the head a caller's intent was computed
    * against (a row-level op's scan): a head that moved is a conflict,
    * never stale intent applied over a concurrent writer's generation.
    * `drop` removes the keys it accepts from the merge base (SQL DELETE):
    * the keys dropped are those of the head this attempt loaded.
    *
    * Returns the GENERATION this commit actually published (or, for a
    * replayed tagged epoch, the generation it adopted) — threaded out so
    * CALL verbs report their own fold's generation, never a head re-read
    * that a concurrent writer may have advanced past it (r18 ADVICE). */
  private[graft] def commitEntries(
      messages: Array[WriterCommitMessage], truncate: Boolean,
      snapTag: Option[String], retryOnConflict: Boolean,
      staging: Path, expectedHeadGen: Option[Long] = None,
      drop: Option[String => Boolean] = None): Long = {
    val target = new Path(path)
    val fs = target.getFileSystem(conf)
    val dir = target.getParent
    val commits = new Path(dir, ".commits")

    def attempt(): Option[Long] = {
      // replayed epoch: adopt the generation the earlier run committed
      snapTag.foreach { t =>
        val g = genOfTag(fs, commits, t)
        if (g.isDefined) return g
      }
      val (head, state) = loadHead()
      // the change-feed BASE is the head state; a first commit adopting a
      // pre-connector data.json diffs against EMPTY (the feed's
      // snapshot(0)), so every adopted key is an upsert. Truncate merges
      // from empty but still diffs against the head, so dropped keys
      // become tombstones.
      val prev =
        if (head.isDefined) state else new java.util.LinkedHashMap[String, String]()
      val entries = new java.util.LinkedHashMap[String, String]()
      if (!truncate) entries.putAll(state)
      // a DELETE's survivors keep the order SQL DELETE has always written
      // them in: a scala mutable.HashMap's, not the pot's layout order
      drop.foreach { d =>
        val kept = entries.asScala.filterNot { case (k, _) => d(k) }
        entries.clear()
        kept.foreach { case (k, v) => entries.put(k, v) }
      }
      PotChain.foldChanges(fs, messages)(entries.remove(_), entries.put(_, _))
      // and the MERGED size (base + this write's fragments) before the
      // snapshot hits disk — the ceiling is on the object, not the base
      val mergedBytes = entries.entrySet().asScala.iterator
        .map(e => e.getKey.length.toLong + e.getValue.length + 6L).sum
      if (mergedBytes > maxObjectBytes)
        throw new PotTooLarge(
          s"pot object $path: merged object would be ~$mergedBytes bytes, " +
            s"over the $maxObjectBytes ceiling — a pot is a driver-memory " +
            "unit; migrate to graft.kv.BucketedPotTable or split across " +
            "more pot objects")
      // the snapshot, then its sidecars: the `.delta-` change record the
      // feed prefers over an O(pot) snapshot diff, and the `.zmap-` zone
      // map planning prunes whole objects by (u57/u65). Written before
      // the CAS and deleted on a lost race, so each is exactly as atomic
      // as the commit it describes; an absent or torn zone map means no
      // pruning, never wrong results. Empty commits write no zone map.
      val snap = PotChain.newSnap(dir, snapTag, entries.size)
      val delta = PotChain.deltaOf(snap.toString).get
      val zmap = PotChain.zmapOf(snap.toString).get
      PotChain.writeObject(fs, snap, entries)
      PotChain.writeChanges(fs, delta, PotChain.diff(prev, entries))
      if (!entries.isEmpty)
        PotChain.writeSidecar(fs, zmap, PotChain.zmapJson(entries))
      def dropStaged(): Unit = Seq(snap, delta, zmap).foreach(fs.delete(_, false))
      val gen = head.map(_._1).getOrElse(0L) + 1
      try {
        graft.kv.CommitMarker.publish(
          fs, new Path(commits, gen.toString), snap.toString)
        Some(gen)
      } catch {
        case e: graft.kv.PotTable.CommitConflict =>
          dropStaged()
          if (retryOnConflict) None else throw e
        case e: Throwable => dropStaged(); throw e
      }
    }

    /** The chain head and its state (with no chain: the legacy data.json
      * a non-truncating commit adopts), read ONCE per attempt: it pins both
      * the merge base and the target generation (head+1), so a commit
      * landing in between makes our publish a CommitConflict, never a
      * silent lost update. A delta head folds its chain (covering
      * snapshot + dgens), so a snapshot commit above a streaming epoch
      * run COMPACTS the chain. The size ceiling is checked on the
      * covering snapshot BEFORE the driver materializes it (the dgens
      * above it are change-set sized), so a pot that has outgrown driver
      * memory fails loudly with the migration path instead of OOMing.
      *
      * A body that vanishes mid-load (the head was superseded and
      * vacuumed, see vacuumSnapshots) retries against the new head; after
      * [[PotV2Write.HeadLoads]] loads the commit is a CommitConflict. */
    @annotation.tailrec
    def loadHead(loads: Int = 1)
        : (Option[(Long, String)], java.util.LinkedHashMap[String, String]) = {
      val head = PotV2Write.latestSnapshot(fs, commits)
      expectedHeadGen.foreach { e =>
        if (head.map(_._1).getOrElse(0L) != e)
          throw new graft.kv.PotTable.CommitConflict(
            s"pot object $path: head moved to generation " +
              s"${head.map(_._1).getOrElse(0L)} while a rewrite computed " +
              s"against generation $e was in flight — re-run the statement")
      }
      val state = try Some(head.fold(
        if (!truncate && fs.exists(target)) PotChain.readState(fs, target)
        else new java.util.LinkedHashMap[String, String]()) { case (g, body) =>
        val snap = if (PotChain.isSnap(body)) Some(body)
          else PotChain.chainRun(fs, commits, g)._1
        snap.foreach { s =>
          val len = fs.getFileStatus(new Path(s)).getLen
          if (len > maxObjectBytes)
            throw new PotTooLarge(
              s"pot object $path: merge base is $len bytes, over the " +
                s"$maxObjectBytes ceiling — a pot is a driver-memory unit; " +
                "migrate to graft.kv.BucketedPotTable (hash-bucketed keys, " +
                "distributed merge) or split across more pot objects " +
                "(raise with .option(\"maxObjectBytes\", n) only if the " +
                "driver really has the headroom)")
        }
        if (PotChain.isSnap(body)) PotChain.readState(fs, new Path(body))
        else PotChain.stateAt(fs, commits, g)
      }) catch {
        case e: java.io.FileNotFoundException if loads >= PotV2Write.HeadLoads =>
          throw new graft.kv.PotTable.CommitConflict(
            s"pot object $path: the head's artifacts kept vanishing " +
              s"mid-read ($loads loads; concurrent commits + vacuum, or a " +
              s"chain missing an artifact: ${e.getMessage}) — re-run the " +
              "statement")
        case _: java.io.FileNotFoundException => None
      }
      state match {
        case Some(st) => (head, st)
        case None => loadHead(loads + 1)
      }
    }

    var committed: Option[Long] = None
    while ({ committed = attempt(); committed.isEmpty }) {}
    PotV2Write.refreshMaterialization(fs, dir, target, commits)
    fs.delete(staging, true)
    committed.get
  }

  /** O(change-set) streaming-epoch commit: fold this epoch's fragments
    * into ONE `.dgen-` delta file and CAS it as the next generation —
    * no head-snapshot load, no full-object write, no pot-size ceiling.
    * The driver's work is bounded by the EPOCH, not the pot, so a
    * high-rate stream into a large pot commits at change-set cost.
    *
    * Routing (the chain stays snapshot-based where a snapshot is the
    * honest cost):
    *   - FIRST commit of a pot (no chain): snapshot path — it adopts any
    *     legacy data.json and gives the fold its base;
    *   - every `compactEvery`-th epoch, OR when the dgen run's bytes
    *     reach `compactBytesFactor` x the covering snapshot's (r15 size
    *     trigger — epoch-skew-proof): snapshot path (COMPACTION) — the
    *     fold is amortized O(pot/compactEvery) per epoch and bounded at
    *     (1 + factor) x snapshot bytes, data.json re-materializes, and
    *     the PotTooLarge ceiling applies exactly there (true snapshot
    *     materialization), never to the delta epochs between;
    *   - otherwise: delta generation.
    *
    * Exactly-once: the epoch tag rides in the dgen/snapshot file name, so
    * a checkpoint-replayed epoch ADOPTS its committed generation
    * whichever path it originally took. Lost CAS races re-read the head
    * and re-CAS (nothing to re-merge — the delta is head-independent).
    */
  private[graft] def commitDeltaEpoch(
      messages: Array[WriterCommitMessage], snapTag: String,
      staging: Path): Unit = {
    val target = new Path(path)
    val fs = target.getFileSystem(conf)
    val dir = target.getParent
    val commits = new Path(dir, ".commits")

    def tagCommitted(t: String): Boolean =
      committedTagExists(fs, commits, t)

    def artifactLen(body: String): Long =
      try fs.getFileStatus(new Path(body)).getLen
      catch { case _: java.io.FileNotFoundException => 0L }

    // the head's unbroken dgen run (artifact bodies, newest first)
    def dgenRun(gens: Seq[Long]): Seq[String] =
      gens.sorted.reverse.iterator
        .map(g => PotChain.artifactOf(fs, commits, g))
        .takeWhile(PotChain.isDgen).toSeq

    // r15 SIZE trigger: compact when the dgen run's cumulative bytes
    // exceed compactBytesFactor x the covering snapshot's bytes — the
    // count threshold alone lets a few FAT epochs (reshard waves, bulk
    // backfills) pile read-fold cost the count never sees; the bytes
    // ratio bounds fold cost at (1 + factor) x snapshot regardless of
    // epoch skew, the LSM compaction discipline.
    def sizeTriggered(gens: Seq[Long], run: Seq[String]): Boolean =
      compactBytesFactor > 0 && run.nonEmpty && {
        gens.sorted.reverse.drop(run.size).headOption.exists { coveringGen =>
          val snapBytes =
            artifactLen(PotChain.artifactOf(fs, commits, coveringGen))
          run.iterator.map(artifactLen).sum >=
            math.max(1L, (compactBytesFactor * snapBytes).toLong)
        }
      }

    def attempt(): Boolean = {
      if (tagCommitted(snapTag)) return true // replayed epoch: adopt
      val gens = graft.kv.CommitMarker.committedGenerations(fs, commits)
      val run = dgenRun(gens)
      // no chain yet, or the delta run reached the compaction threshold
      // (count OR cumulative bytes): this epoch is a SNAPSHOT commit
      // (base / compaction) — the one place the whole-object fold and
      // its ceiling legitimately run
      if (gens.isEmpty || run.size >= compactEvery - 1 ||
          sizeTriggered(gens, run)) {
        commitEntries(messages, truncate = false, snapTag = Some(snapTag),
          retryOnConflict = true, staging = staging)
        return true
      }
      // delta epoch: the fragments' tombstones-first fold, kept as
      // change lines (tombstones included), then one CAS'd `.dgen-` with
      // its touched-key range `.dzmap-` (u69: upserts AND tombstones both
      // count, so the planning-time chain-union prune, deltaChainAdmits,
      // stays conservative). Both are written before the CAS: a committed
      // generation has its sidecar or readers see absence = no pruning.
      val folded = new java.util.LinkedHashMap[String, String]()
      PotChain.foldChanges(fs, messages)(folded.put(_, null), folded.put(_, _))
      val nDels = folded.values().asScala.count(_ == null)
      val dgen = PotChain.newDgen(dir, snapTag, folded.size - nDels, nDels)
      val dzmap = PotChain.dzmapOf(dgen.toString).get
      PotChain.writeChanges(fs, dgen,
        folded.entrySet().asScala.iterator.map(e => (e.getKey, e.getValue)))
      if (!folded.isEmpty) {
        val range = new PotChain.KeyRange
        folded.keySet().asScala.foreach(range.see)
        PotChain.writeSidecar(fs, dzmap, PotChain.rangeJson(range))
      }
      def dropStaged(): Unit = Seq(dgen, dzmap).foreach(fs.delete(_, false))
      val gen = gens.foldLeft(0L)(math.max) + 1
      try {
        graft.kv.CommitMarker.publish(
          fs, new Path(commits, gen.toString), dgen.toString)
        true
      } catch {
        case _: graft.kv.PotTable.CommitConflict =>
          dropStaged(); false // re-read head, re-CAS
        case e: Throwable =>
          dropStaged(); throw e
      }
    }
    while (!attempt()) {}
    // NO data.json refresh: that is the snapshot paths' job — readers
    // resolve a delta-headed chain by folding (PotStatePartition)
    fs.delete(staging, true)
  }

  /** One streaming epoch tagged `tag`. truncateFirst
    * (outputMode("complete") / an explicit truncate) REPLACES the pot
    * each epoch through the snapshot path, whose retry loop merges from
    * empty every attempt: a complete epoch IS the whole object, so a
    * snapshot is its honest cost. APPEND epochs take the O(change-set)
    * delta path. */
  private[graft] def commitEpoch(messages: Array[WriterCommitMessage],
      tag: String, staging: Path): Unit =
    if (truncateFirst)
      commitEntries(messages, truncate = true, snapTag = Some(tag),
        retryOnConflict = true, staging = staging)
    else commitDeltaEpoch(messages, tag, staging)

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    commitEntries(PotV2Write.fragments(messages), truncateFirst,
      snapTag = None, retryOnConflict = false, staging = stagingDir)

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    stagingDir.getFileSystem(conf).delete(stagingDir, true)
}

/** Streaming half of the connector: `writeStream.format(PotV2Source)` —
  * each micro-batch epoch commits as one chain generation through the
  * same merge-snapshot-CAS core, with (stable query id, epoch id)
  * embedded in the snapshot name so a checkpoint-replayed epoch ADOPTS
  * its committed generation (exactly-once per epoch, st14's AnnIndex
  * discipline at the connector level) while two INDEPENDENT streaming
  * queries writing the same pot can never adopt each other's epochs.
  * Epochs of one query serialize; conflicts with external writers
  * re-merge and retry rather than failing the stream.
  */
private[graft] class PotV2StreamingWrite(write: PotV2Write)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  // Scoped by the STABLE streaming query id (LogicalWriteInfo.queryId is
  // the checkpoint-persisted id, identical across restarts — verified
  // empirically: two runs on one checkpoint see the same queryId under
  // different runIds), so the tag is BOTH restart-replay idempotent and
  // collision-free when two independent queries write the same pot.
  private def tag(epochId: Long): String = s"q${write.qid8}e$epochId"

  override def createStreamingWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : StreamingDataWriterFactory =
    // the factory holds no reference to the (non-serializable) Write:
    // capturing it here would fail task serialization
    write.writerFactory

  override def commit(
      epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    write.commitEpoch(PotV2Write.fragments(messages), tag(epochId),
      write.epochStagingDir(epochId))

  override def abort(
      epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val staging = write.epochStagingDir(epochId)
    staging.getFileSystem(write.conf).delete(staging, true)
  }
}

private[graft] object PotV2Write {
  /** Head loads a commit attempt makes before a body that keeps
    * vanishing (vacuumed under a moving head, or missing from the chain)
    * ends it as a CommitConflict. */
  val HeadLoads = 5

  /** Commit (key, doc | null) pairs to `pot` as one streaming epoch
    * tagged `tag` ([[PotV2Write.commitDeltaEpoch]]): the pairs stage as
    * one fragment under the write's staging dir. */
  def commitChanges(pot: String, tag: String,
      changes: Seq[(String, String)]): Unit = {
    val w = new PotV2Write(pot, PotV2Source.Schema, tag, truncateFirst = false)
    val staging = new Path(w.stagingBase)
    val fs = staging.getFileSystem(w.conf)
    fs.mkdirs(staging)
    val frag = new Path(staging, "f.jsonl")
    PotChain.writeChanges(fs, frag, changes.iterator)
    w.commitDeltaEpoch(Array(PotFragmentMessage(0, frag.toString)), tag,
      staging)
  }

  /** The tasks' [[PotFragmentWriterFactory]] messages as one pot's
    * fragments: a plain pot is the one-bucket store, all in bucket 0. */
  def fragments(messages: Array[WriterCommitMessage])
      : Array[WriterCommitMessage] =
    BucketFragmentsMessage.perBucket(messages).getOrElse(0, Nil)
      .toArray[WriterCommitMessage]

  /** Latest committed (gen, snapshot path) from the marker chain. */
  def latestSnapshot(
      fs: org.apache.hadoop.fs.FileSystem,
      commits: Path): Option[(Long, String)] = {
    val g = graft.kv.CommitMarker.head(fs, commits)
    if (g == 0L) None
    else Some((g, graft.kv.CommitMarker.read(fs, new Path(commits, g.toString))))
  }

  /** Latest committed generation whose artifact is a FULL snapshot (the
    * materialization source — delta generations above it are resolved by
    * the scan-side fold, never copied into data.json). */
  def latestFullSnapshot(
      fs: org.apache.hadoop.fs.FileSystem,
      commits: Path): Option[(Long, String)] = {
    val gens = graft.kv.CommitMarker.committedGenerations(fs, commits)
      .sorted.reverse
    gens.iterator
      .map(g => g -> graft.kv.CommitMarker.read(fs, new Path(commits, g.toString)))
      .find(a => PotChain.isSnap(a._2))
  }

  /** Copy the latest SNAPSHOT generation over data.json atomically,
    * re-checking afterwards: a winner superseded mid-copy re-copies the
    * newer snapshot, so concurrent refreshes converge and readers never
    * see a torn (or regressed-forever) object. Bounded retries — each NEW
    * snapshot commit also refreshes, so transient raciness self-heals on
    * the next write. Delta generations above the copied snapshot are the
    * scan fold's job (data.json materializes snapshots only).
    */
  def refreshMaterialization(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: Path, target: Path, commits: Path): Unit = {
    var lastCopied = -1L
    var attempts = 0
    var head = latestFullSnapshot(fs, commits)
    while (attempts < 5 && head.exists(_._1 != lastCopied)) {
      attempts += 1
      val (gen, snap) = head.get
      val tmp = new Path(dir, s".publish-${java.util.UUID.randomUUID()}.json")
      val copied =
        try {
          org.apache.hadoop.fs.FileUtil.copy(
            fs, new Path(snap), fs, tmp, false, fs.getConf)
          true
        } catch {
          case _: java.io.FileNotFoundException =>
            // the head we pinned was superseded AND vacuumed mid-copy
            // (vacuum only deletes below-head bodies, so a newer head
            // exists) — drop the partial tmp and retry at the new head
            fs.delete(tmp, false)
            false
        }
      if (copied) {
        if ("file".equalsIgnoreCase(fs.getUri.getScheme)) {
          java.nio.file.Files.move(
            java.nio.file.Paths.get(fs.makeQualified(tmp).toUri.getPath),
            java.nio.file.Paths.get(fs.makeQualified(target).toUri.getPath),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        } else {
          // object stores replace data.json with one atomic PUT in their
          // own connector; generic-FS fallback is delete+rename (brief
          // absence window, never torn content)
          fs.delete(target, false)
          fs.rename(tmp, target)
        }
        lastCopied = gen
      }
      head = latestFullSnapshot(fs, commits)
    }
  }
}

/** The ONE task-side fragment writer: plain and bucketed pots, batch
  * INSERT/overwrite, streaming epochs and row-level MERGE/UPDATE/DELETE
  * all stage through it, and the driver commits what it names.
  *
  *   - Fragments hold [[PotChain]] change lines, one per staged row;
  *     `doc_json` must parse to a JSON object (anything else fails the
  *     task, naming the key).
  *   - Tombstones: a row-level delete stages one; an UPDATE that
  *     reassigns `key` (`SET key = ...`) moves the document, so it also
  *     stages a tombstone for the old key. The commits apply every
  *     tombstone before any upsert ([[PotChain.foldChanges]]).
  *   - One create per fragment, at task commit: a fragment exists iff its
  *     task committed, and the driver merges only the fragments the
  *     commit messages name, so task retries and speculation never
  *     double-apply.
  *   - Routing: a row goes to the fragment of bucket
  *     `graft.kv.BucketMeta.bucketOf(key, nBuckets)`; a plain pot is the
  *     one-bucket case (`nBuckets = 1`). Commits take
  *     [[BucketFragmentsMessage]]s, which
  *     `BucketFragmentsMessage.perBucket` regroups per bucket.
  *
  * Batch writers stage under `stagingDir`, streaming epoch `e` under
  * `stagingDir-e<e>`. `idKeyIdx` is the key's index in the row-id schema
  * of a row-level operation (-1: an insert-only write). Fragments are
  * written through the write's broadcast session conf.
  */
private[graft] class PotFragmentWriterFactory(
    conf: Broadcast[SerializableConfiguration], stagingDir: String,
    nBuckets: Int, keyIdx: Int, docIdx: Int, idKeyIdx: Int = -1)
    extends DeltaWriterFactory
    with org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DeltaWriter[InternalRow] = writer(stagingDir, partitionId, taskId)

  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : DataWriter[InternalRow] =
    writer(s"$stagingDir-e$epochId", partitionId, taskId)

  private def writer(dir: String, partitionId: Int, taskId: Long)
      : DeltaWriter[InternalRow] =
    new DeltaWriter[InternalRow] {
      private val mapper = new ObjectMapper()
      private val bufs = scala.collection.mutable.SortedMap
        .empty[Int, StringBuilder]
      private def stage(key: String, line: String): Unit =
        bufs.getOrElseUpdate(graft.kv.BucketMeta.bucketOf(key, nBuckets),
          new StringBuilder).append(line).append('\n')
      private def tombstone(key: String): Unit =
        stage(key, PotChain.changeLine(key, null))
      override def insert(row: InternalRow): Unit = {
        val key = row.getUTF8String(keyIdx).toString
        val doc = row.getUTF8String(docIdx).toString
        val node = mapper.readTree(doc)
        require(node != null && node.isObject,
          s"doc_json for key '$key' must be a JSON object: $doc")
        stage(key, PotChain.changeLine(key, node.toString))
      }
      override def update(
          meta: InternalRow, id: InternalRow, row: InternalRow): Unit = {
        val oldKey = id.getUTF8String(idKeyIdx).toString
        if (oldKey != row.getUTF8String(keyIdx).toString) tombstone(oldKey)
        insert(row)
      }
      override def delete(meta: InternalRow, id: InternalRow): Unit =
        tombstone(id.getUTF8String(idKeyIdx).toString)
      override def commit(): WriterCommitMessage = {
        val fs = new Path(dir).getFileSystem(conf.value.value)
        BucketFragmentsMessage(partitionId, bufs.toSeq.map { case (b, buf) =>
          val frag =
            new Path(dir, f"part-b$b%04d-$partitionId%05d-$taskId.jsonl")
          val out = fs.create(frag, false)
          try out.write(buf.toString
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          finally out.close()
          b -> frag.toString
        })
      }
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}

/** Batch CDC scan (u20): `.option("changesFrom", g)` — or the
  * `graft_pot_changes('<path>', g)` TVF — reads the change feed as a
  * TABLE: one [[PotDeltaPartition]] per committed generation in
  * (g, head], rows are that generation's LWW upsert delta + delete
  * tombstones with `pot_file` carrying `@<gen>` provenance — bit-identical
  * rows to what the streaming source (st17) would deliver over the same
  * range, because it IS the same reader. Validation is the generation-pin
  * discipline: g must be 0..head (an out-of-range start fails loudly,
  * never an empty stale answer); one pot object only (a glob has no
  * shared generation counter — the multi-pot feed, st18, is the glob
  * surface). Column pruning composes (the delta reader takes the pruned
  * field list).
  */
private[graft] class PotChangesScanBuilder(
    path: String, from: Long,
    vector: Option[Map[String, Long]] = None)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  // a GLOB changes read with a SCALAR start is the full-history BUCKET
  // AUDIT only: every pot's whole chain, one partition per
  // (pot, generation). A nonzero scalar start has no meaning across pots
  // with independent generation counters — incremental multi-pot
  // consumption takes the per-pot VECTOR (`changesFromVector`, the same
  // JSON st18's stream checkpoints) or the stream itself.
  require(vector.isDefined || !PotV2Source.isGlob(path) || from == 0,
    s"PotV2Source changesFrom: a glob supports only changesFrom=0 (the " +
      s"full-history audit) — pots have independent generation " +
      s"counters; incremental multi-pot consumption is changesFromVector " +
      s"(the per-pot generation map) or the streaming source: $path")
  private var required: StructType = PotV2Source.Schema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan =
    new PotChangesScan(path, from, required, vector)
}

private[graft] class PotChangesScan(
    path: String, from: Long, required: StructType,
    vector: Option[Map[String, Long]] = None)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"PotChangesScan(path=$path, changesFrom=" +
      vector.map(v => v.toSeq.sorted.toString).getOrElse(from.toString) + ")"
  private lazy val conf = PotV2Source.sessionConf()
  private lazy val taskConf = PotV2Source.broadcastConf(conf)
  override def planInputPartitions(): Array[InputPartition] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    def headOf(pot: Path): Long =
      graft.kv.CommitMarker.head(fs, new Path(pot.getParent, ".commits"))
    vector match {
      case Some(vec) =>
        // per-pot from-vector: qualified keys (matching globStatus and
        // the stream's checkpointed offsets); pots absent from the
        // vector start at 0 (st18's new-pot rule), vector entries for
        // absent pots are inert. Out-of-range entries fail loudly —
        // the generation-pin discipline per pot.
        val qvec = vec.map { case (k, v) =>
          fs.makeQualified(new Path(k)).toString -> v }
        val pots =
          if (PotV2Source.isGlob(path))
            Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Seq.empty)
              .filter(_.isFile).map(_.getPath).sortBy(_.toString)
          else Seq(fs.makeQualified(p))
        pots.flatMap { pot =>
          val head = headOf(pot)
          val sg = qvec.getOrElse(pot.toString, 0L)
          require(sg >= 0 && sg <= head,
            s"PotV2Source changesFromVector: start $sg out of range for " +
              s"$pot (committed head $head) — never a stale/empty fallback")
          ((sg + 1) to head)
            .map(g => PotDeltaPartition(pot.getParent.toString, g)
              : InputPartition)
        }.toArray
      case None if PotV2Source.isGlob(path) =>
        val pots = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Seq.empty)
          .filter(_.isFile).map(_.getPath).sortBy(_.toString)
        pots.flatMap { pot =>
          (1L to headOf(pot))
            .map(g => PotDeltaPartition(pot.getParent.toString, g)
              : InputPartition)
        }.toArray
      case None =>
        val head = headOf(p)
        require(from >= 0 && from <= head,
          s"PotV2Source changesFrom=$from out of range: committed head is " +
            s"$head for $path — never a stale/empty fallback")
        ((from + 1) to head)
          .map(g => PotDeltaPartition(p.getParent.toString, g): InputPartition)
          .toArray
    }
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new PotV2DeltaReaderFactory(taskConf, required.fieldNames)
}

// ============ row-level operations (MERGE / UPDATE / DELETE) ============
//
// SQL `MERGE INTO` / `UPDATE` / non-metadata `DELETE` via the DELTA-based
// row-level operation API (`SupportsDelta`): the analyzer rewrites the
// statement into a WriteDelta whose incoming rows are ONLY the changed
// rows, each tagged insert/update/delete — the O(change-set) shape the
// pot's LWW merge core applies natively. Inserts/updates stage as upsert
// fragment lines, deletes as null-doc tombstone lines; `commitEntries`
// folds both onto the chain head in ONE CAS'd generation, so a MERGE's
// whole effect is atomic, its dropped keys surface in the change feed,
// and conflict/vacuum/ceiling semantics are u14's verbatim. rowId = key:
// the pot's primary key IS the row identity (the reference's key-address
// model), which also makes Spark plan the merge join ON the key — the
// one join every MERGE against a KV store wants. The group-based
// copy-on-write alternative would rewrite whole pots per statement;
// delta is the pot-native choice (and why metadata DELETE, u18, remains
// the fast path for exact key predicates while predicates the connector
// cannot evaluate — doc_json shapes — now run HERE instead of failing).

private[graft] class PotRowLevelOperationBuilder(
    path: String,
    info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
    extends org.apache.spark.sql.connector.write.RowLevelOperationBuilder {
  override def build(): org.apache.spark.sql.connector.write.RowLevelOperation =
    new PotRowLevelOperation(path, info.command())
}

private[graft] class PotRowLevelOperation(
    path: String,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command)
    extends org.apache.spark.sql.connector.write.SupportsDelta {
  import org.apache.spark.sql.connector.write._
  // The statement's delta is computed against the state its SCAN read, so
  // the commit pins the generation observed when the operation is built
  // (<= scan time): a concurrent writer landing in between makes the
  // commit a loud CommitConflict, never a delta applied over state it
  // never saw (the u18 rewrite's discipline; a too-early capture can only
  // produce a FALSE conflict, which retries — never a lost update).
  private val conf = PotV2Source.sessionConf()
  private val observedHeadGen: Long = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    PotV2Write.latestSnapshot(fs, new Path(p.getParent, ".commits"))
      .map(_._1).getOrElse(0L)
  }
  override def command(): RowLevelOperation.Command = cmd
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    // the scan is PINNED to the captured generation, not the data.json
    // materialization: data.json lags the chain between a concurrent
    // writer's marker CAS and refreshMaterialization, so an unpinned scan
    // could read generation G-1 content while expectedHeadGen=G still
    // matches at commit — a delta applied over state the statement never
    // saw. Pinning makes scan content and the CAS check the SAME
    // generation (gen 0 = no chain yet: data.json IS the only state).
    new PotV2ScanBuilder(path,
      if (observedHeadGen > 0) Some(observedHeadGen) else None)
  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite =
        new PotV2DeltaWrite(path, info, observedHeadGen, conf)
    }
  override def rowId()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("key"))
}

private[graft] class PotV2DeltaWrite(
    path: String,
    info: org.apache.spark.sql.connector.write.LogicalWriteInfo,
    observedHeadGen: Long, conf: Configuration = PotV2Source.sessionConf())
    extends org.apache.spark.sql.connector.write.DeltaWrite
    with org.apache.spark.sql.connector.write.DeltaBatchWrite {
  require(!PotV2Source.isGlob(path),
    s"PotV2Source MERGE/UPDATE/DELETE: path must name ONE pot object, " +
      s"not a glob: $path")
  // the inner Write supplies the commit core (staging dir, merge, CAS,
  // sidecar); truncate=false — a delta is an append-merge by definition.
  // maxObjectBytes resolves from the write options exactly like the batch
  // path (PotV2WriteBuilder.build) — MERGE/UPDATE/DELETE can raise or
  // tighten the PotTooLarge ceiling the same way INSERT can
  private val inner = new PotV2Write(
    path, PotV2Source.Schema, info.queryId(), truncateFirst = false,
    Option(info.options.get("maxObjectBytes")).map(_.toLong)
      .getOrElse(PotV2Source.DefaultMaxObjectBytes), conf = conf)
  // a pure DELETE rewrite carries an EMPTY row schema (only rowIds
  // flow); key/doc indices are then never consulted
  private val rowKeyIdx = info.schema().fieldNames.indexOf("key")
  private val rowDocIdx = info.schema().fieldNames.indexOf("doc_json")
  require(info.schema().isEmpty || (rowKeyIdx >= 0 && rowDocIdx >= 0),
    s"delta write needs key + doc_json in the row schema, got ${info.schema()}")
  private val idKeyIdx = info.rowIdSchema()
    .map[Int](s => s.fieldNames.indexOf("key")).orElse(-1)
  require(idKeyIdx >= 0,
    s"delta write needs key in the rowId schema, got ${info.rowIdSchema()}")

  override def toBatch
      : org.apache.spark.sql.connector.write.DeltaBatchWrite = this

  override def createBatchWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriterFactory =
    new PotFragmentWriterFactory(PotV2Source.broadcastConf(conf),
      inner.stagingBase, nBuckets = 1, rowKeyIdx, rowDocIdx, idKeyIdx)

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    inner.commitEntries(PotV2Write.fragments(messages), truncate = false,
      snapTag = None, retryOnConflict = false,
      staging = new Path(inner.stagingBase),
      expectedHeadGen = Some(observedHeadGen))

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val staging = new Path(inner.stagingBase)
    staging.getFileSystem(conf).delete(staging, true)
  }
}

// ================== streaming read (MICRO_BATCH_READ) ===================
//
// The pot as a CHANGE FEED: offsets are write-chain generation numbers,
// each micro-batch covers the generations committed since the last
// offset, and a generation's batch rows are its LWW UPSERT DELTA versus
// the previous generation — keys added or whose doc changed (a key-value
// store's change feed carries upserts; keys deleted by a truncate-mode
// rewrite simply stop appearing, the LWW analogue of kv7's diff rules).
// Offsets come from CommitMarker state alone, so batch boundaries are a
// pure function of the chain — deterministic however the reader's
// trigger schedule interleaves with writers. Each generation's diff is a
// single-partition task bounded by pot size (the pot is the reference's
// in-memory unit); the corpus-scale path is many pots = many sources.

private[graft] case class PotGenOffset(gen: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json: String = gen.toString
}

/** Composite offset for a MULTI-POT feed (st18): the per-pot generation
  * vector over a glob. Serialized as a JSON object with SORTED keys so
  * the checkpoint representation is deterministic regardless of glob
  * resolution order. */
private[graft] case class PotMultiGenOffset(gens: Map[String, Long])
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json: String = {
    val m = new ObjectMapper()
    val node = m.createObjectNode()
    gens.toSeq.sortBy(_._1).foreach { case (k, v) => node.put(k, v) }
    m.writeValueAsString(node)
  }
}

private[graft] object PotMultiGenOffset {
  def fromJson(s: String): PotMultiGenOffset = {
    val root = new ObjectMapper().readTree(s)
    require(root != null && root.isObject,
      s"multi-pot offset must be a JSON object: $s")
    PotMultiGenOffset(root.fields().asScala
      .map(e => e.getKey -> e.getValue.asLong()).toMap)
  }
}

private[graft] case class PotDeltaPartition(
    dir: String, gen: Long) extends InputPartition

/** u51/st27 admission control: `.option("maxGenerationsPerTrigger", n)`
  * bounds each micro-batch to n generations of backlog —
  * `SupportsAdmissionControl`, the DSv2 rate-limiting surface (Kafka's
  * maxOffsetsPerTrigger for the chain). WHY: offsets are a pure
  * function of the chain, so a reader starting against a 10k-generation
  * backlog would otherwise replay it as ONE micro-batch — one giant
  * task set, one checkpoint commit, the OOM/straggler shape every
  * backfill hits. With the limit, the backlog drains in bounded,
  * checkpointable steps and the emitted ROWS are identical (each
  * generation's delta is planned whole — a generation never splits, so
  * batch boundaries stay deterministic; spec pins rows == unlimited
  * run, batches == ceil(backlog/n)). */
private[graft] class PotV2MicroBatchStream(
    path: String, required: StructType,
    maxGensPerTrigger: Option[Int] = None,
    conf: Configuration = PotV2Source.sessionConf())
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  private def fs = new Path(path).getFileSystem(conf)
  private lazy val taskConf = PotV2Source.broadcastConf(conf)
  private def commits = new Path(new Path(path).getParent, ".commits")

  private def head: Long = graft.kv.CommitMarker.head(fs, commits)

  override def initialOffset(): Offset = PotGenOffset(0L)
  override def latestOffset(): Offset = PotGenOffset(head)
  override def getDefaultReadLimit: ReadLimit =
    maxGensPerTrigger.map(n => ReadLimit.maxRows(n.toLong))
      .getOrElse(ReadLimit.allAvailable())
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s0 = start.asInstanceOf[PotGenOffset].gen
    limit match {
      case r: org.apache.spark.sql.connector.read.streaming.ReadMaxRows =>
        PotGenOffset(math.min(head, s0 + r.maxRows()))
      case _ => PotGenOffset(head)
    }
  }
  override def reportLatestOffset(): Offset = PotGenOffset(head)
  override def deserializeOffset(json: String): Offset =
    PotGenOffset(json.trim.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(
      start: Offset, end: Offset): Array[InputPartition] = {
    val s0 = start.asInstanceOf[PotGenOffset].gen
    val e0 = end.asInstanceOf[PotGenOffset].gen
    val dir = new Path(path).getParent.toString
    ((s0 + 1) to e0).map(g => PotDeltaPartition(dir, g): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PotV2DeltaReaderFactory(taskConf, required.fieldNames)
}

/** Multi-pot change feed (st18): one streaming source over a GLOB of pot
  * objects. Each pot keeps its own generation counter, so the stream
  * offset is the per-pot generation VECTOR ([[PotMultiGenOffset]]) and a
  * micro-batch plans one [[PotDeltaPartition]] per (pot, new generation)
  * — the batch side's one-partition-per-pot discipline carried to the
  * feed, so a 1000-pot bucket drains 1000-wide. Pots appearing under the
  * glob mid-stream enter the vector at 0 and replay their full chain
  * (sidecar-first, like any generation); pots REMOVED from the glob
  * simply stop contributing (their stale vector entry is inert). Rows
  * carry provenance in `pot_file` (`<dir>/data.json@<gen>`), so a
  * consumer can fan the merged feed back out per pot.
  */
private[graft] class PotV2MultiPotStream(
    glob: String, required: StructType,
    maxPotsPerTrigger: Option[Int] = None,
    conf: Configuration = PotV2Source.sessionConf())
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  /** st28 (r18): admission control at the POT grain — the file source's
    * maxFilesPerTrigger for the bucket feed: each micro-batch advances at
    * most N pots (sorted path order, deterministic), each drained to its
    * head (a pot's backlog stays one batch — the per-pot rate knob is
    * st27's maxGenerationsPerTrigger on its own chain). A 10k-pot bucket
    * coming off a long stop otherwise replays EVERY pot's backlog as one
    * batch — one giant task set and checkpoint commit; with the limit the
    * restart drains in bounded, checkpointable steps and the emitted
    * rows are identical (pot boundaries never split). Non-advancing pots
    * keep their carried coordinates, so exactly-once is untouched.
    */
  override def getDefaultReadLimit: ReadLimit =
    maxPotsPerTrigger.map(n => ReadLimit.maxFiles(n))
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val full = latestOffset().asInstanceOf[PotMultiGenOffset].gens
    limit match {
      case f: org.apache.spark.sql.connector.read.streaming.ReadMaxFiles =>
        val s0 = start.asInstanceOf[PotMultiGenOffset].gens
        val advance = full.toSeq.sortBy(_._1)
          .filter { case (p, h) => h > s0.getOrElse(p, 0L) }
          .take(f.maxFiles()).map(_._1).toSet
        PotMultiGenOffset(full.map { case (p, h) =>
          p -> (if (advance(p)) h else math.min(h, s0.getOrElse(p, 0L)))
        })
      case _ => PotMultiGenOffset(full)
    }
  }

  override def reportLatestOffset(): Offset = latestOffset()

  private def fs = new Path(glob).getFileSystem(conf)
  private lazy val taskConf = PotV2Source.broadcastConf(conf)

  private def pots(): Seq[Path] =
    Option(fs.globStatus(new Path(glob))).map(_.toSeq).getOrElse(Seq.empty)
      .filter(_.isFile).map(_.getPath)

  // Last-known generation vector, carried FORWARD monotonically: a pot
  // transiently absent from globStatus (the non-file-scheme materialize
  // delete+rename window) must keep its committed coordinate — rebuilding
  // the vector from the glob alone would drop its entry, and on
  // reappearance getOrElse(pot, 0L) would replay its full chain
  // (duplicate rows). Seeded from every offset the engine hands us
  // (checkpoint restore via deserializeOffset, batch bounds via
  // planInputPartitions), so the guarantee survives restarts.
  @volatile private var lastKnown: Map[String, Long] = Map.empty
  private def remember(gens: Map[String, Long]): Map[String, Long] = {
    val merged = (lastKnown.keySet ++ gens.keySet).iterator.map { p =>
      p -> math.max(lastKnown.getOrElse(p, 0L), gens.getOrElse(p, 0L))
    }.toMap
    lastKnown = merged
    merged
  }

  override def initialOffset(): Offset = PotMultiGenOffset(Map.empty)
  override def latestOffset(): Offset = {
    val observed = pots().map { p =>
      val commits = new Path(p.getParent, ".commits")
      p.toString -> graft.kv.CommitMarker.head(fs, commits)
    }.toMap
    // Chain-regression guard: the monotone-chain assumption this vector
    // rests on is ASSERTED here, not assumed. A pot that is PRESENT in the
    // glob with a committed head BELOW its carried coordinate was deleted
    // and recreated from scratch (a live chain only grows; markers at/below
    // the head are never removed by vacuum) — silently pinning it at the
    // old coordinate would swallow the new chain's rows forever. Transient
    // ABSENCE (the materialize delete+rename window) is still fine: absent
    // pots aren't in `observed`, so they keep their coordinate inertly.
    observed.foreach { case (pot, head) =>
      val carried = lastKnown.getOrElse(pot, 0L)
      if (head < carried) throw new IllegalStateException(
        s"pot change feed $glob: pot $pot committed head $head regressed " +
          s"below the stream's carried offset $carried — the pot was " +
          "deleted and recreated. Restart the stream with a fresh " +
          "checkpoint (or a new glob) to replay the new chain; silently " +
          "pinning it would drop every row of the recreated pot.")
    }
    PotMultiGenOffset(remember(observed))
  }
  override def deserializeOffset(json: String): Offset = {
    val o = PotMultiGenOffset.fromJson(json)
    remember(o.gens)
    o
  }
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(
      start: Offset, end: Offset): Array[InputPartition] = {
    val s0 = start.asInstanceOf[PotMultiGenOffset].gens
    remember(s0)
    val e0 = end.asInstanceOf[PotMultiGenOffset].gens
    e0.toSeq.sortBy(_._1).flatMap { case (pot, eg) =>
      val sg = s0.getOrElse(pot, 0L)
      ((sg + 1) to eg).map(g =>
        PotDeltaPartition(new Path(pot).getParent.toString, g): InputPartition)
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PotV2DeltaReaderFactory(taskConf, required.fieldNames)
}

private[graft] class PotV2DeltaReaderFactory(
    conf: Broadcast[SerializableConfiguration], columns: Array[String])
    extends PartitionReaderFactory {
  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[PotDeltaPartition]
    new PartitionReader[InternalRow] {
      // (key, doc | null): one generation's change lines, in the feed's
      // contractual order
      private val entries: Iterator[(String, String)] = {
        val fs = new Path(p.dir).getFileSystem(conf.value.value)
        val commits = new Path(p.dir, ".commits")
        val body = PotChain.artifactOf(fs, commits, p.gen)
        // a DELTA generation (streaming epoch) IS its own change record;
        // a snapshot's `.delta-` sidecar (same stem, same lifecycle) holds
        // its change lines at O(change-set) cost. A legacy chain without
        // sidecars (or a sidecar lost to manual cleanup) falls back to
        // diffing the snapshot against the previous generation's state
        // through the same PotChain.diff the sidecar writer runs.
        if (PotChain.isDgen(body)) PotChain.readChanges(fs, new Path(body)).iterator
        else PotChain.deltaOf(body).filter(fs.exists) match {
          case Some(d) => PotChain.readChanges(fs, d).iterator
          case None => PotChain.diff(
            if (p.gen < 2) new java.util.LinkedHashMap[String, String]()
            else PotChain.stateAt(fs, commits, p.gen - 1),
            PotChain.readState(fs, new Path(body)))
        }
      }
      private val file = s"${p.dir}/data.json@${p.gen}"
      private var row: InternalRow = _
      override def next(): Boolean = {
        if (!entries.hasNext) return false
        val (k, doc) = entries.next()
        row = InternalRow.fromSeq(columns.toSeq.map {
          case "pot_file" => UTF8String.fromString(file)
          case "key"      => UTF8String.fromString(k)
          // a tombstone reads as doc_json 'null' — the Kafka-style
          // null-body convention (valid JSON, never a valid pot document)
          case "doc_json" => UTF8String.fromString(if (doc == null) "null" else doc)
          case other => throw new IllegalArgumentException(
            s"PotV2Source stream: unknown column $other")
        })
        true
      }
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }
}
