package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.{JsonParser, JsonToken}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.connector.write.WriterCommitMessage

/** The pot chain's on-disk formats: the ONE place that names, reads and
  * writes a pot's files. Everything else goes through these functions.
  *
  * A pot lives in one directory:
  *   - `data.json`, the POT OBJECT: one JSON map `{"<key>": {<doc>}, ...}`
  *     (the reference's format, server.go:212-214). With a chain it is
  *     the materialization readers glob, a copy of the latest snapshot;
  *     without one it is a legacy object the first commit adopts;
  *   - `.commits/<g>`: commit markers ([[graft.kv.CommitMarker]]), each
  *     naming the artifact generation `g` committed;
  *   - `.snap-<stem>.json`, a SNAPSHOT: the whole pot object, written as
  *     `{<key>:<doc>,...}` with no whitespace, keys in merge order, keys
  *     Jackson-quoted and docs Jackson-rendered ([[writeObject]]);
  *   - `.dgen-<stem>.jsonl`, a DELTA GENERATION: one streaming epoch's
  *     folded change set as change lines ([[writeChanges]]);
  *   - `.delta-<stem>.jsonl`, a snapshot's CHANGE-FEED sidecar: its change
  *     lines against the previous head state ([[diff]]);
  *   - `.zmap-<stem>.json`, a snapshot's ZONE MAP: the key range plus
  *     per-field stats ([[zmapJson]]), absent for an empty snapshot;
  *   - `.dzmap-<stem>.json`, a dgen's TOUCHED-KEY RANGE `{"kmin","kmax"}`
  *     over its upserts and tombstones, absent for an empty dgen.
  *
  * A CHANGE LINE is `{"k":<key>,"d":<doc|null>}` plus `\n`: `d` is the
  * Jackson rendering of the document, `null` a tombstone. Write tasks
  * stage their fragments in the same lines ([[PotFragmentWriterFactory]]).
  *
  * STEMS carry the commit's row counts (r16), so planning statistics
  * read names, not data: a snapshot's is `[<tag>-]<uuid>-r<entries>`, a
  * dgen's `<tag>-<uuid>-u<upserts>d<tombstones>`. A body and its sidecars
  * share the stem, so each sidecar's name derives from its body's.
  *
  * CHAIN RESOLUTION: state at generation g = the nearest snapshot at or
  * below g folded with the dgens above it, LWW per key: the LSM
  * discipline that makes a streaming epoch O(change-set) while batch
  * commits stay full snapshots. Chains always START with a snapshot (the
  * first epoch of a pot goes through the snapshot path, adopting any
  * legacy data.json), so the fold always has a base.
  */
private[graft] object PotChain {
  private val Mapper = new ObjectMapper()

  /** An artifact kind: a name prefix and suffix around a stem. */
  private final case class Kind(pfx: String, sfx: String) {
    def at(dir: Path, stem: String): Path = new Path(dir, pfx + stem + sfx)
    def stemOf(body: String): Option[String] = {
      val name = new Path(body).getName
      if (name.startsWith(pfx) && name.endsWith(sfx))
        Some(name.stripPrefix(pfx).stripSuffix(sfx))
      else None
    }
  }
  private val Snap = Kind(".snap-", ".json")
  private val Dgen = Kind(".dgen-", ".jsonl")
  private val Delta = Kind(".delta-", ".jsonl")
  private val Zmap = Kind(".zmap-", ".json")
  private val Dzmap = Kind(".dzmap-", ".json")

  def isSnap(body: String): Boolean =
    new Path(body).getName.startsWith(Snap.pfx)
  def isDgen(body: String): Boolean =
    new Path(body).getName.startsWith(Dgen.pfx)

  /** A new snapshot's path in `dir`, its entry count stamped in the stem. */
  def newSnap(dir: Path, tag: Option[String], entries: Int): Path =
    Snap.at(dir, s"${tag.fold("")(_ + "-")}${java.util.UUID.randomUUID()}" +
      s"-r$entries")

  /** A new dgen's path in `dir`, its line counts stamped in the stem. */
  def newDgen(dir: Path, tag: String, upserts: Int, tombstones: Int): Path =
    Dgen.at(dir, s"$tag-${java.util.UUID.randomUUID()}" +
      s"-u${upserts}d$tombstones")

  // Stamps are decided before the CAS, so a count is atomic with its
  // commit; legacy artifacts report none.
  private val SnapRowsRe = "-r([0-9]+)\\.json$".r
  private val DgenCountsRe = "-u([0-9]+)d([0-9]+)\\.jsonl$".r

  /** Exact entry count a `.snap-` artifact carries in its name. */
  def snapRows(body: String): Option[Long] =
    SnapRowsRe.findFirstMatchIn(new Path(body).getName)
      .map(_.group(1).toLong)

  /** (upsert lines, tombstone lines) a `.dgen-` artifact carries. */
  def dgenCounts(body: String): Option[(Long, Long)] =
    DgenCountsRe.findFirstMatchIn(new Path(body).getName)
      .map(m => (m.group(1).toLong, m.group(2).toLong))

  private def sidecar(body: String, of: Kind, side: Kind): Option[Path] =
    of.stemOf(body).map(side.at(new Path(body).getParent, _))

  /** A snapshot's change-feed sidecar; None for any other artifact. */
  def deltaOf(body: String): Option[Path] = sidecar(body, Snap, Delta)

  /** u57: a snapshot's zone-map sidecar — present for every r18+
    * non-empty snapshot commit; None for legacy/delta artifacts. */
  def zmapOf(body: String): Option[Path] = sidecar(body, Snap, Zmap)

  /** u69 (r19): a dgen's TOUCHED-KEY range sidecar — deliberately a
    * different artifact family from the snapshot's `.zmap-` (u57): a dgen
    * records the range of keys the epoch TOUCHED (upserts and tombstones
    * both), not the state's zone map, so the u61 inventory and every
    * snapshot-stats consumer stay snapshot-only by construction. */
  def dzmapOf(body: String): Option[Path] = sidecar(body, Dgen, Dzmap)

  // ------------------------- pot objects -------------------------

  /** A pot object's top-level map, or None when the object is not one. */
  def objectAt(fs: FileSystem, p: Path): Option[ObjectNode] = {
    val in = fs.open(p)
    val root = try Mapper.readTree(in) finally in.close()
    root match {
      case o: ObjectNode => Some(o)
      case _ => None
    }
  }

  /** [[objectAt]] for a reader that needs the map: fails naming `p`. */
  def readObject(fs: FileSystem, p: Path): ObjectNode = {
    val o = objectAt(fs, p)
    require(o.isDefined, s"pot object $p: top level must be a JSON map")
    o.get
  }

  /** A pot object's entries, key -> rendered doc, in file order. */
  def readState(fs: FileSystem, p: Path)
      : java.util.LinkedHashMap[String, String] = {
    val state = new java.util.LinkedHashMap[String, String]()
    readObject(fs, p).fields().asScala.foreach(e =>
      state.put(e.getKey, e.getValue.toString))
    state
  }

  /** A pot object's entries parsed one at a time (r15, the LIMIT/TopN
    * read path): a pushed LIMIT stops PARSING after its k survivors
    * instead of building the whole tree. Close to stop early. */
  final class ObjectStream(parser: JsonParser, p: Path)
      extends Iterator[(String, JsonNode)] with java.io.Closeable {
    require(parser.nextToken() == JsonToken.START_OBJECT,
      s"pot object $p: top level must be a JSON map")
    private var nextKey: String = null
    private var done = false
    private def advance(): Unit =
      while (nextKey == null && !done) {
        val t = parser.nextToken()
        if (t == null || t == JsonToken.END_OBJECT) { done = true; close() }
        else nextKey = parser.currentName()
      }
    override def hasNext: Boolean = { advance(); nextKey != null }
    override def next(): (String, JsonNode) = {
      advance()
      val k = nextKey
      nextKey = null
      parser.nextToken() // position on the value
      k -> Mapper.readTree[JsonNode](parser)
    }
    override def close(): Unit = if (!parser.isClosed) parser.close()
  }

  def streamObject(fs: FileSystem, p: Path): ObjectStream = {
    val parser = Mapper.getFactory.createParser(fs.open(p): java.io.InputStream)
    try new ObjectStream(parser, p)
    catch { case e: Throwable => parser.close(); throw e }
  }

  /** Write `entries` (key -> rendered doc) as one pot object. */
  def writeObject(fs: FileSystem, p: Path,
      entries: java.util.Map[String, String]): Unit = {
    val out = fs.create(p, false)
    try {
      out.write('{')
      var first = true
      entries.entrySet().asScala.foreach { e =>
        if (!first) out.write(',')
        first = false
        out.write(Mapper.writeValueAsString(e.getKey).getBytes(UTF_8))
        out.write(':')
        out.write(e.getValue.getBytes(UTF_8))
      }
      out.write('}')
    } finally out.close()
  }

  // ------------------------- change lines -------------------------

  /** One change line without its `\n`; a null `doc` is a tombstone. */
  def changeLine(key: String, doc: String): String =
    s"""{"k":${Mapper.writeValueAsString(key)},"d":${
      if (doc == null) "null" else doc}}"""

  /** Write (key, doc | null) pairs as change lines. */
  def writeChanges(fs: FileSystem, p: Path,
      changes: Iterator[(String, String)]): Unit = {
    val out = new java.io.BufferedWriter(
      new java.io.OutputStreamWriter(fs.create(p, false), UTF_8))
    try changes.foreach { case (k, d) =>
      out.write(changeLine(k, d)); out.write('\n')
    } finally out.close()
  }

  /** A change-line file as (key, doc | null) pairs, docs re-rendered. */
  def readChanges(fs: FileSystem, p: Path): Vector[(String, String)] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).map { line =>
        val n = Mapper.readTree(line)
        val d = n.get("d")
        (n.get("k").asText(), if (d == null || d.isNull) null else d.toString)
      }.toVector
    finally in.close()
  }

  /** Fold a commit's fragments in partition order: ALL tombstones apply
    * before ANY upsert. Under MERGE semantics the only key touched by
    * both a tombstone and an upsert in one statement is a rename
    * target/source, and removals-first resolves every such collision
    * (key swaps included) independent of partition interleaving.
    * Upserts keep their partition-then-line order: the kv1 LWW contract.
    */
  def foldChanges(fs: FileSystem, messages: Array[WriterCommitMessage])(
      tombstone: String => Unit, upsert: (String, String) => Unit): Unit = {
    val upserts = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    messages.collect { case m: PotFragmentMessage => m }
      .sortBy(_.partitionId).foreach { m =>
        readChanges(fs, new Path(m.fragment)).foreach { case (k, d) =>
          if (d == null) tombstone(k) else upserts += ((k, d))
        }
      }
    upserts.foreach { case (k, d) => upsert(k, d) }
  }

  /** The change lines taking state `prev` to `cur`: upserts (keys new or
    * whose doc changed) in `cur`'s order, then tombstones for the keys
    * `cur` dropped, in `prev`'s order. A snapshot commit writes them as
    * its `.delta-` sidecar; the change feed diffs a sidecar-less
    * snapshot against its predecessor the same way, so both give the
    * same rows. */
  def diff(prev: java.util.Map[String, String],
      cur: java.util.Map[String, String]): Iterator[(String, String)] =
    cur.entrySet().asScala.iterator
      .filter(e => prev.get(e.getKey) != e.getValue)
      .map(e => (e.getKey, e.getValue)) ++
      prev.keySet().asScala.iterator.filterNot(cur.containsKey)
        .map(k => (k, null: String))

  // ------------------------- key ranges -------------------------

  /** Running key extremes in unsigned UTF-8 byte order (the engine's one
    * string order, [[PotV2Source.utf8Cmp]]). */
  final class KeyRange {
    var min: String = null
    var max: String = null
    def see(k: String): Unit = {
      if (min == null || PotV2Source.utf8Cmp(k, min) < 0) min = k
      if (max == null || PotV2Source.utf8Cmp(k, max) > 0) max = k
    }
  }

  /** `{"kmin":…,"kmax":…}`: a dzmap, and the head of every zone map. */
  def rangeJson(r: KeyRange): ObjectNode = {
    val o = Mapper.createObjectNode()
    o.put("kmin", r.min); o.put("kmax", r.max)
    o
  }

  private def rangeOf(n: JsonNode): Option[(String, String)] =
    for {
      mn <- Option(n.get("kmin")).filter(_.isTextual).map(_.asText)
      mx <- Option(n.get("kmax")).filter(_.isTextual).map(_.asText)
    } yield (mn, mx)

  /** A sidecar's JSON, if it exists; a tear throws (callers read it as
    * absent). */
  private def readSidecar(fs: FileSystem, p: Option[Path]): Option[JsonNode] =
    p.filter(fs.exists).map { z =>
      val in = fs.open(z)
      try Mapper.readTree(in) finally in.close()
    }

  /** Create a sidecar (never overwrites: a lost create race throws). */
  def writeSidecar(fs: FileSystem, p: Path, json: ObjectNode): Unit = {
    val out = fs.create(p, false)
    try out.write(Mapper.writeValueAsString(json).getBytes(UTF_8))
    finally out.close()
  }

  // ------------------------- zone maps -------------------------

  /** The (kmin, kmax) a snapshot's zone map declares, if one exists and
    * parses — any absence or tear reads None (no pruning, never wrong). */
  def zmapRange(fs: FileSystem, body: String): Option[(String, String)] =
    zmapStats(fs, body).range

  /** The (kmin, kmax) touched range a dgen's sidecar declares; absence
    * or tear reads None (no pruning, never wrong). */
  def dzmapRange(fs: FileSystem, body: String): Option[(String, String)] =
    try readSidecar(fs, dzmapOf(body)).flatMap(rangeOf)
    catch { case scala.util.control.NonFatal(_) => None }

  /** Build the zone-map sidecar JSON (u57 key range + u65/u68 field
    * stats) from an entry stream — ONE implementation shared by the
    * commit writer and the u70 `ensure_stats` backfill so the two can
    * never diverge. `None` for a doc = unparseable: the key still
    * counts toward the range, field stats go partial (`fcap`).
    */
  private[sources] def zmapJson(entries: Iterator[(String, Option[JsonNode])])
      : ObjectNode = {
    val range = new KeyRange
    val fstats = new java.util.LinkedHashMap[String, ZFieldAcc]()
    var fcap = false
    def see(path: String, v: JsonNode): Unit = {
      if (v.isNull) return
      var acc = fstats.get(path)
      if (acc == null) {
        if (fstats.size >= ZmapMaxFields) { fcap = true; return }
        acc = new ZFieldAcc(); fstats.put(path, acc)
      }
      acc.see(v)
    }
    entries.foreach { case (k, docOpt) =>
      range.see(k)
      docOpt match {
        case Some(doc) if doc != null && doc.isObject =>
          doc.properties().asScala.foreach { f =>
            see(f.getKey, f.getValue)
            if (f.getValue.isObject)
              f.getValue.properties().asScala.foreach(g =>
                see(f.getKey + "." + g.getKey, g.getValue))
          }
        case Some(_) => () // non-object doc: no typed fields, stats stay
        case None => fcap = true // unparseable: stats partial
      }
    }
    val zo = rangeJson(range)
    zo.put("fcap", fcap)
    val fo = zo.putObject("fields")
    fstats.asScala.foreach { case (p, acc) =>
      val n = fo.putObject(p)
      n.put("t", acc.tag.toString)
      n.put("n", acc.n)
      acc.tag match {
        case 'i' => n.put("lmin", acc.lmin); n.put("lmax", acc.lmax)
        case 's' => n.put("smin", acc.smin); n.put("smax", acc.smax)
        case _ => ()
      }
    }
    zo
  }

  /** [[zmapJson]] of a state's rendered docs (the snapshot commit's). */
  private[sources] def zmapJson(state: java.util.Map[String, String])
      : ObjectNode =
    zmapJson(state.entrySet().asScala.iterator.map { e =>
      e.getKey -> (try Some(Mapper.readTree(e.getValue)) catch {
        case scala.util.control.NonFatal(_) => None
      })
    })

  /** u69 (r19) — CHAIN-UNION zone-map pruning for DELTA-HEADED pots: a
    * key can exist in the folded chain state only if SOME generation in
    * the head run touched it (the covering snapshot holds it, or a dgen
    * upserted it; tombstones only shrink state — counting them is
    * conservative). So when a pushed exact/IN/prefix key predicate
    * misses the UNION of the covering snapshot's zone map and every
    * dgen's touched range, the whole chain drops at planning and the
    * per-read fold never runs. Evidence must be COMPLETE: a chain with
    * no covering snapshot, or any generation lacking a parseable
    * sidecar, admits (no pruning, never wrong). Cost: O(head run)
    * marker+sidecar reads, paid only when a prunable predicate is
    * pushed — the same order the fold itself would pay.
    */
  def deltaChainAdmits(fs: FileSystem, commits: Path,
      head: Long, exactKeys: Option[Seq[String]],
      prefixKey: Option[String]): Boolean = {
    if (exactKeys.isEmpty && prefixKey.isEmpty) return true
    val (snap, dgens) = chainRun(fs, commits, head)
    if (snap.isEmpty) return true
    val snapRange = zmapRange(fs, snap.get)
    if (snapRange.isEmpty) return true
    val dgenRanges = dgens.map(dzmapRange(fs, _))
    if (dgenRanges.exists(_.isEmpty)) return true
    val ranges = snapRange.toSeq ++ dgenRanges.flatten
    def keyIn(k: String): Boolean = ranges.exists { case (mn, mx) =>
      PotV2Source.utf8Cmp(k, mn) >= 0 && PotV2Source.utf8Cmp(k, mx) <= 0
    }
    exactKeys.forall(_.exists(keyIn)) &&
      prefixKey.forall(pfx => ranges.exists { case (mn, mx) =>
        PotV2Source.prefixMeetsRange(pfx, mn, mx)
      })
  }

  /** u65: cap on recorded field paths per sidecar — past it `fcap` marks
    * the stats partial and absence-of-path stops pruning. */
  val ZmapMaxFields = 32

  /** u65 write-side accumulator for one field path: integral-only values
    * type 'i' (long min/max), textual-only 's' (string min/max in the
    * engine's unsigned UTF-8 order), anything else or mixed 'x' —
    * present but untyped, which the reader NEVER prunes on. */
  private[sources] final class ZFieldAcc {
    var tag: Char = 0
    var n: Long = 0L
    var lmin: Long = Long.MaxValue
    var lmax: Long = Long.MinValue
    var smin: String = null
    var smax: String = null
    def see(v: JsonNode): Unit = {
      n += 1 // non-null sightings; == typed-extraction count iff tag pure
      val t =
        if (v.isIntegralNumber && v.canConvertToLong) 'i'
        else if (v.isTextual) 's'
        else 'x'
      if (tag == 0) tag = t else if (tag != t) tag = 'x'
      if (tag == 'x') { smin = null; smax = null; return }
      if (t == 'i') {
        lmin = math.min(lmin, v.asLong); lmax = math.max(lmax, v.asLong)
      } else {
        val s = v.asText
        if (smin == null || PotV2Source.utf8Cmp(s, smin) < 0) smin = s
        if (smax == null || PotV2Source.utf8Cmp(s, smax) > 0) smax = s
      }
    }
  }

  /** One field path's persisted statistics. `n` = non-null sightings
    * (-1 when the sidecar predates the u68 count), exact per-type only
    * when `tag` is pure. */
  private[sources] case class ZField(tag: Char,
      lmin: Long, lmax: Long, smin: String, smax: String, n: Long)

  /** Everything a snapshot's zone-map sidecar declares: the key range
    * (u57) and the per-field stats (u65). `fields = None` = a pre-r19 or
    * absent/torn sidecar — field pruning fully disabled; `fcap` = stats
    * partial, so absence-of-path admits. */
  private[sources] case class ZStats(range: Option[(String, String)],
      fields: Option[Map[String, ZField]], fcap: Boolean)

  def zmapStats(fs: FileSystem, body: String): ZStats =
    try readSidecar(fs, zmapOf(body)).map { n =>
      val range = rangeOf(n)
      val fields = Option(n.get("fields")).filter(_.isObject).map { fo =>
        fo.properties().asScala.map { e =>
          val f = e.getValue
          val tag = Option(f.get("t")).map(_.asText).filter(_.length == 1)
            .map(_.charAt(0)).getOrElse('x')
          e.getKey -> ZField(tag,
            Option(f.get("lmin")).map(_.asLong).getOrElse(Long.MaxValue),
            Option(f.get("lmax")).map(_.asLong).getOrElse(Long.MinValue),
            Option(f.get("smin")).map(_.asText).orNull,
            Option(f.get("smax")).map(_.asText).orNull,
            Option(f.get("n")).map(_.asLong).getOrElse(-1L))
        }.toMap
      }
      // a sidecar with no fields node is pre-r19: treat as capped (no
      // absence-based pruning); fcap missing beside fields = conservative
      ZStats(range, fields,
        Option(n.get("fcap")).forall(_.asBoolean(true)))
    }.getOrElse(ZStats(None, None, fcap = true))
    catch {
      case scala.util.control.NonFatal(_) => ZStats(None, None, fcap = true)
    }

  /** u65 planning-time admit: can this snapshot possibly satisfy pushed
    * filter `f` on a shredded column? `shredMap` = alias -> (paths,
    * declared type). Conservative in every ambiguous direction: no
    * stats / depth > 2 / mixed-typed path / capped-absence => admit.
    * The sharp edges, each exact by the [[PotV2Source.shredValue]]
    * extraction contract (String only from textual, Long only from
    * integral, null otherwise):
    *   - path recorded with the MATCHING type: range/equality compare
    *     against min/max;
    *   - path recorded with a PURE OTHER type: every extraction is null
    *     — nothing matches equality/range/IsNotNull;
    *   - path ABSENT and stats not capped: the field never carried a
    *     typed scalar anywhere in the object — same conclusion.
    */
  private[sources] def shredFilterAdmits(
      f: org.apache.spark.sql.sources.Filter,
      shredMap: Map[String, (Seq[String], org.apache.spark.sql.types.DataType)],
      stats: ZStats): Boolean = {
    import org.apache.spark.sql.sources._
    val fieldsOpt = stats.fields
    if (fieldsOpt.isEmpty) return true
    val fields = fieldsOpt.get
    def lookup(alias: String)
        : Option[(Option[ZField], org.apache.spark.sql.types.DataType)] =
      shredMap.get(alias).flatMap { case (paths, t) =>
        if (paths.length > 2) None // stats cover depth <= 2 only
        else Some((fields.get(paths.mkString(".")), t))
      }
    def tagOf(t: org.apache.spark.sql.types.DataType): Char = t match {
      case org.apache.spark.sql.types.LongType => 'i'
      case org.apache.spark.sql.types.StringType => 's'
      case _ => 'x'
    }
    // could any row's extraction be NON-NULL at all?
    def anyTyped(zf: Option[ZField], t: Char): Boolean = zf match {
      case None => stats.fcap // absent + complete stats = never non-null
      case Some(z) => z.tag == 'x' || z.tag == t
    }
    def longRangeMeets(zf: Option[ZField], lo: Long, hi: Long): Boolean =
      zf match {
        case Some(z) if z.tag == 'i' => z.lmin <= hi && lo <= z.lmax
        case other => anyTyped(other, 'i')
      }
    def strInRange(zf: Option[ZField], v: String): Boolean = zf match {
      case Some(z) if z.tag == 's' && z.smin != null && z.smax != null =>
        PotV2Source.utf8Cmp(v, z.smin) >= 0 &&
          PotV2Source.utf8Cmp(v, z.smax) <= 0
      case other => anyTyped(other, 's')
    }
    def longLit(v: Any): Option[Long] = PotV2Filters.longLit(v)
    f match {
      case EqualTo(a, v) => lookup(a) match {
        case Some((zf, t)) => tagOf(t) match {
          case 'i' => longLit(v) match {
            case Some(l) => longRangeMeets(zf, l, l)
            case None => true
          }
          case 's' => v match {
            case sv: String => strInRange(zf, sv)
            case _ => true
          }
          case _ => true
        }
        case None => true
      }
      case In(a, vs) => lookup(a) match {
        case Some((zf, t)) => tagOf(t) match {
          case 'i' =>
            val ls = vs.toSeq.flatMap(longLit)
            ls.length != vs.length || ls.exists(l => longRangeMeets(zf, l, l))
          case 's' =>
            val ss = vs.toSeq.collect { case s: String => s }
            ss.length != vs.length || ss.exists(strInRange(zf, _))
          case _ => true
        }
        case None => true
      }
      case IsNotNull(a) => lookup(a) match {
        case Some((zf, t)) if tagOf(t) != 'x' => anyTyped(zf, tagOf(t))
        case _ => true
      }
      case GreaterThan(a, v) => lookup(a) match {
        case Some((zf, t)) if tagOf(t) == 'i' => longLit(v) match {
          case Some(l) if l < Long.MaxValue =>
            longRangeMeets(zf, l + 1, Long.MaxValue)
          case Some(_) => false // x > Long.MaxValue matches nothing
          case None => true
        }
        case _ => true
      }
      case GreaterThanOrEqual(a, v) => lookup(a) match {
        case Some((zf, t)) if tagOf(t) == 'i' => longLit(v) match {
          case Some(l) => longRangeMeets(zf, l, Long.MaxValue)
          case None => true
        }
        case _ => true
      }
      case LessThan(a, v) => lookup(a) match {
        case Some((zf, t)) if tagOf(t) == 'i' => longLit(v) match {
          case Some(l) if l > Long.MinValue =>
            longRangeMeets(zf, Long.MinValue, l - 1)
          case Some(_) => false
          case None => true
        }
        case _ => true
      }
      case LessThanOrEqual(a, v) => lookup(a) match {
        case Some((zf, t)) if tagOf(t) == 'i' => longLit(v) match {
          case Some(l) => longRangeMeets(zf, Long.MinValue, l)
          case None => true
        }
        case _ => true
      }
      case _ => true
    }
  }

  /** u68 (r19) — STATS-ONLY AGGREGATE: can the sidecar stats plus the
    * name-stamped exact row count answer a pushed aggregation outright,
    * so the reader never opens the object? Returns the kind-parallel
    * fold results (raw values: Long counts, String/Long extremes, null
    * where SQL says null) when EVERY kind is answerable EXACTLY; None
    * means open-and-fold. Exactness per kind, each by the write-side
    * contract (sidecar written from the same entries map the fold would
    * walk, key extremes in unsigned UTF-8 order, field stats typed by
    * the [[PotV2Source.shredValue]] classification):
    *   - COUNT(*) = the `-r<N>` name stamp;
    *   - MIN/MAX(key) = the sidecar kmin/kmax;
    *   - COUNT(field) = the field's `n` iff its tag is PURE and matches
    *     the declared type (every sighting was a typed extraction);
    *     a pure-OTHER-typed or provably-absent field counts 0;
    *   - MIN/MAX(field) = the typed extremes under the same purity rule;
    *     pure-other/absent = null (no non-null extraction exists).
    * Anything ambiguous — mixed 'x' tag, capped stats with the path
    * absent, pre-u68 sidecar without `n`, malformed extremes — returns
    * None and the object is opened (never wrong, exactly the u65
    * conservatism). Callers gate on row-dropping predicates themselves.
    */
  private[sources] def statsAnswer(
      kinds: Seq[PotV2Source.PotAgg],
      rows: Long,
      stats: ZStats,
      shredMap: Map[String, (Seq[String], org.apache.spark.sql.types.DataType)])
      : Option[Seq[Any]] = {
    import org.apache.spark.sql.types.{LongType, StringType}
    if (rows == 0L) return Some(kinds.map {
      case PotV2Source.AggCount => 0L
      case PotV2Source.AggCountShred(_) => 0L
      case _ => null
    })
    def tagOf(t: org.apache.spark.sql.types.DataType): Char = t match {
      case LongType => 'i'
      case StringType => 's'
      case _ => 'x'
    }
    // Some(Some(z)) = recorded pure-and-matching (extremes sane);
    // Some(None) = provably never a non-null typed extraction;
    // None = unanswerable
    def field(alias: String): Option[Option[ZField]] =
      shredMap.get(alias).flatMap { case (paths, t) =>
        if (paths.length > 2 || tagOf(t) == 'x') None
        else stats.fields.flatMap { fm =>
          fm.get(paths.mkString(".")) match {
            case Some(z) if z.tag == tagOf(t) =>
              val sane =
                if (z.tag == 'i') z.lmin <= z.lmax
                else z.smin != null && z.smax != null
              if (sane) Some(Some(z)) else None
            case Some(z) if z.tag != 'x' => Some(None) // pure other type
            case Some(_) => None                       // mixed: open
            case None => if (stats.fcap) None else Some(None)
          }
        }
      }
    val vals: Seq[Option[Any]] = kinds.map {
      case PotV2Source.AggCount => Some(rows)
      case PotV2Source.AggMinKey => stats.range.map(_._1)
      case PotV2Source.AggMaxKey => stats.range.map(_._2)
      case PotV2Source.AggCountShred(f) => field(f).flatMap {
        case Some(z) => if (z.n >= 0L) Some(z.n) else None // pre-u68: open
        case None => Some(0L)
      }
      case PotV2Source.AggMinShred(f, _) => field(f).map {
        case Some(z) =>
          if (z.tag == 'i') (z.lmin: java.lang.Long) else z.smin
        case None => null
      }
      case PotV2Source.AggMaxShred(f, _) => field(f).map {
        case Some(z) =>
          if (z.tag == 'i') (z.lmax: java.lang.Long) else z.smax
        case None => null
      }
    }
    if (vals.exists(_.isEmpty)) None else Some(vals.map(_.get))
  }

  /** BACKWARD chain walk to the covering snapshot (r16): the
    * (snapshot body, dgen bodies above it oldest-first) pair every
    * fold/stats consumer needs, at O(dgen run) marker reads instead of
    * O(chain) — at 100 TB a long-lived pot's chain has thousands of
    * generations but its head run is bounded by the compaction
    * threshold, and planning-time stats must not read every marker
    * ever committed. A chain headed by dgens with NO covering snapshot
    * returns (None, run) — callers treat it as the legacy/invalid shape
    * they already handle.
    */
  def chainRun(fs: FileSystem, commits: Path,
      g: Long): (Option[String], Seq[String]) = {
    val (snap, dgens) = chainRunG(fs, commits, g)
    (snap.map(_._1), dgens.map(_._1))
  }

  /** [[chainRun]] pairing each body with the GENERATION whose marker
    * named it — the markers are read during the walk anyway, so
    * provenance consumers ([[stateAtWithGen]], the `_pot_gen` metadata
    * column) get generation numbers at zero extra marker reads.
    */
  def chainRunG(fs: FileSystem, commits: Path,
      g: Long): (Option[(String, Long)], Seq[(String, Long)]) = {
    val gens = graft.kv.CommitMarker.committedGenerations(fs, commits)
      .filter(_ <= g).sorted.reverse
    val dgens = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    gens.foreach { gen =>
      val body = artifactOf(fs, commits, gen)
      if (isSnap(body)) return (Some((body, gen)), dgens.reverse.toSeq)
      require(isDgen(body),
        s"pot chain: generation artifact above the covering snapshot " +
          s"must be a delta: $body")
      dgens += ((body, gen))
    }
    (None, dgens.reverse.toSeq)
  }

  /** Row-count ESTIMATE of the state at generation g, from artifact
    * names only: the covering snapshot's exact count folded with each
    * dgen's `+upserts −tombstones`. Exact for snapshot heads; an
    * UPPER-leaning estimate for delta heads (a dgen upsert of an
    * existing key does not grow the state, a tombstone of an absent key
    * does not shrink it) — the right bias for a planner statistic. None
    * when any needed artifact predates the r16 stamp. O(dgen run)
    * marker reads via [[chainRun]].
    */
  def rowsAt(fs: FileSystem, commits: Path,
      g: Long): Option[Long] = {
    val (snap, dgens) = chainRun(fs, commits, g)
    snap.flatMap(snapRows).flatMap { base =>
      dgens.foldLeft(Option(base)) { (acc, b) =>
        acc.flatMap(r => dgenCounts(b).map { case (u, d) =>
          math.max(0L, r + u - d)
        })
      }
    }
  }

  /** The artifact body of one committed generation. */
  def artifactOf(fs: FileSystem, commits: Path,
      g: Long): String =
    graft.kv.CommitMarker.read(fs, new Path(commits, g.toString))

  /** Fold the chain into the full key→doc state at generation g.
    * Cost: one snapshot load + the delta generations above it. Throws
    * FileNotFoundException if a needed body was vacuumed mid-read
    * (callers treat it as conflict-equivalent and retry, or fail loudly
    * for pinned reads — the retention contract).
    */
  def stateAt(fs: FileSystem, commits: Path, g: Long)
      : java.util.LinkedHashMap[String, String] = {
    val withGen = stateAtWithGen(fs, commits, g)
    val state = new java.util.LinkedHashMap[String, String]()
    withGen.entrySet().asScala.foreach(e =>
      state.put(e.getKey, e.getValue._1))
    state
  }

  /** [[stateAt]] carrying per-key GENERATION PROVENANCE: the generation
    * whose committed artifact SUPPLIED the surviving row — the covering
    * snapshot's generation for rows it folded (compaction forgets the
    * original writer, exactly like Delta's `_commit_version` after
    * OPTIMIZE), the dgen's generation for rows a delta wrote above it.
    * Feeds the `_pot_gen` metadata column (u32); the generation number
    * of each chainRun body is recovered from its commit marker position
    * (markers are read anyway — zero extra IO).
    */
  def stateAtWithGen(fs: FileSystem, commits: Path,
      g: Long): java.util.LinkedHashMap[String, (String, Long)] = {
    // backward walk (r16): the fold reads the covering snapshot + the
    // dgen run above it — O(run) marker reads, never O(chain); the
    // generation of each body rides along from the walk's own marker
    // reads (chainRunG), NOT a second full-chain marker scan
    val (snap, dgens) = chainRunG(fs, commits, g)
    val state = new java.util.LinkedHashMap[String, (String, Long)]()
    snap.foreach { case (body, bodyGen) =>
      readObject(fs, new Path(body)).fields().asScala.foreach(e =>
        state.put(e.getKey, (e.getValue.toString, bodyGen)))
    }
    dgens.foreach { case (body, bodyGen) =>
      readChanges(fs, new Path(body)).foreach { case (k, d) =>
        if (d == null) state.remove(k) else state.put(k, (d, bodyGen))
      }
    }
    state
  }
}
