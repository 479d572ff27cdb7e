package graft.kv

import java.io.{FileNotFoundException, IOException}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}

/** Commit-marker protocol shared by [[PotTable]] and [[BucketedPotTable]].
  *
  * The reference's GCS writer commits existence AND content atomically at
  * Close under a DoesNotExist precondition (reference server.go:670-689).
  * A plain `FileSystem.create(marker, overwrite=false)` re-expression keeps
  * the atomic create but NOT the atomic content: a writer that dies between
  * create and close leaves a zero-length marker that would wedge the table
  * forever (every later writer sees the generation taken, no reader can
  * resolve it). This object closes that gap:
  *
  *   - a marker is a COMMIT only when non-empty; zero-length markers are
  *     crash husks, invisible to [[committedGenerations]] and readers;
  *   - a writer that finds a husk at its target generation reclaims it:
  *     exactly one contender wins a second exclusive create of
  *     `<gen>.reclaim` (at most one reclaim per generation, ever), re-checks
  *     the husk is still empty, deletes it, and retries its own create;
  *   - success is reported ONLY after a read-back confirms the durable
  *     marker holds this writer's body (bodies embed a writer-unique staged
  *     path, so they never collide — except tombstone markers, where two
  *     removes of the same keys from the same base write the same body and
  *     the same state, so either read-back is a true success). Any
  *     interleaving that loses our
  *     content — including the microsecond husk-vs-live-writer window where
  *     a reclaimer deletes a marker whose creator is between create and
  *     close — surfaces as [[PotTable.CommitConflict]], never as a false
  *     success.
  */
private[graft] object CommitMarker {
  import PotTable.CommitConflict

  /** Generations with a durable commit under `commits`: numeric marker
    * names only (reclaim files excluded), zero-length husks excluded.
    */
  def committedGenerations(fs: FileSystem, commits: Path): Seq[Long] =
    if (!fs.exists(commits)) Seq.empty
    else fs.listStatus(commits).toSeq
      .filter(st => st.getPath.getName.nonEmpty &&
        st.getPath.getName.forall(_.isDigit) && st.getLen > 0)
      .map(_.getPath.getName.toLong)

  /** The chain head: the highest committed generation under `commits`,
    * 0 when there is none (every chain numbers its first commit 1). The
    * one place readers and writers ask "which generation is current".
    */
  def head(fs: FileSystem, commits: Path): Long =
    committedGenerations(fs, commits).foldLeft(0L)(math.max)

  /** Body of generation `gen`'s marker; None if absent or a husk. */
  def bodyAt(fs: FileSystem, commits: Path, gen: Long): Option[String] = {
    val marker = new Path(commits, gen.toString)
    try {
      if (fs.getFileStatus(marker).getLen > 0) Some(read(fs, marker))
      else None // zero-length husk: a crashed publisher, not a commit
    } catch { case _: FileNotFoundException => None }
  }

  def read(fs: FileSystem, marker: Path): String = {
    val in = fs.open(marker)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  private def markerLen(fs: FileSystem, marker: Path): Long =
    try fs.getFileStatus(marker).getLen
    catch { case _: FileNotFoundException => -1L }

  /** CAS-create `marker` with `body`. Returns false iff the CREATE itself
    * failed (the generation is foreign-owned or husked — arbitration
    * territory). A failure AFTER our create succeeded is a different
    * animal: the marker file is OURS, nobody else committed it, and
    * leaving it partially written would read as a foreign commit (or, if
    * zero-length, trigger a pointless reclaim) — so delete our own husk
    * best-effort and throw the retryable [[PotTable.CommitIncomplete]]
    * instead of misreporting foreign ownership.
    *
    * On a `file:` FileSystem the create is atomic in existence AND content:
    * the body is written to a hidden writer-unique tmp and hard-linked into
    * the marker name (link(2) fails EEXIST if the generation is taken). A
    * live local writer therefore NEVER exposes a zero-length marker — which
    * closes the lost-update race found in round 11: under the old
    * create-then-write path, a reclaimer could observe the creator's
    * in-flight husk, win the reclaim file, pass its emptiness re-check, and
    * then delete the marker AFTER the creator's close+read-back had already
    * reported success — both writers report success, one commit silently gone
    * (the BucketedPotSpec "racing writers" flake). With link-publish the
    * husk window does not exist locally; the reclaim path remains for
    * genuinely dead husks (crashed non-local writers, forged test husks).
    * Non-local FileSystems keep the create-then-write path (HDFS create is
    * equally exclusive; object stores would use a precondition PUT).
    */
  private def isLocalFs(fs: FileSystem): Boolean =
    "file".equalsIgnoreCase(fs.getUri.getScheme)

  private def tryCreate(fs: FileSystem, marker: Path, body: Array[Byte]): Boolean = {
    if (isLocalFs(fs)) {
      val dir = java.nio.file.Paths.get(
        fs.makeQualified(marker).toUri.getPath).getParent
      java.nio.file.Files.createDirectories(dir)
      val tmp = dir.resolve(
        s".${marker.getName}.${java.util.UUID.randomUUID()}.tmp")
      try {
        java.nio.file.Files.write(tmp, body)
        try {
          java.nio.file.Files.createLink(dir.resolve(marker.getName), tmp)
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      } catch {
        case e: IOException => throw new PotTable.CommitIncomplete(
          s"marker $marker: atomic link-publish failed before any marker " +
            "became visible — retry the commit", e)
      } finally {
        try java.nio.file.Files.deleteIfExists(tmp)
        catch { case _: IOException => () }
      }
    } else {
      val out =
        try fs.create(marker, false) // atomic create-new == CAS
        catch { case _: IOException => return false }
      try { out.write(body); out.close(); true }
      catch {
        case e: IOException =>
          try out.close() catch { case _: IOException => () }
          try fs.delete(marker, false) catch { case _: IOException => () }
          throw new PotTable.CommitIncomplete(
            s"marker $marker: create succeeded but body write/close failed; " +
              "own husk removed — retry the commit", e)
      }
    }
  }

  /** CAS-publish `body` as `marker`; throws [[PotTable.CommitConflict]] if
    * another writer owns the generation, or the retryable
    * [[PotTable.CommitIncomplete]] if OUR create won the CAS but the body
    * write/close failed (own husk, cleaned up — not foreign ownership).
    * See the protocol note above.
    *
    * Failure-mode trade, made deliberately: the reclaim file is
    * one-per-generation FOREVER, so a reclaimer that itself crashes between
    * winning the reclaim and re-creating the marker leaves the generation
    * un-commitable ("wedged"). The alternative — letting later writers
    * re-arbitrate by deleting stale reclaim files or husks — reintroduces a
    * check-then-delete race in which a committed marker can be deleted
    * after its writer reported success (a lost update). We choose the
    * availability loss over the safety loss: the wedge needs TWO
    * independent crashes in microsecond windows, is loudly diagnosable
    * (every commit throws the reclaim-in-progress conflict below), and is
    * recoverable by [[repair]] once no writer is live — the lease-recovery
    * pattern, admin-invoked.
    */
  def publish(fs: FileSystem, marker: Path, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    require(bytes.nonEmpty, "empty marker bodies are reserved for crash husks")
    var created = tryCreate(fs, marker, bytes)
    var reclaimWedge = false
    if (!created && markerLen(fs, marker) == 0L) {
      // crash husk: arbitrate via one exclusive reclaim file per generation
      val reclaim = new Path(marker.getParent, marker.getName + ".reclaim")
      val wonReclaim =
        try { fs.create(reclaim, false).close(); true }
        catch { case _: IOException => false }
      if (wonReclaim) {
        if (markerLen(fs, marker) == 0L) fs.delete(marker, false)
        created = tryCreate(fs, marker, bytes)
      } else {
        // reclaim already taken: either that reclaimer is about to commit
        // (normal conflict) or it crashed too (wedge — repair() territory)
        reclaimWedge = markerLen(fs, marker) == 0L
      }
    }
    val durable = try read(fs, marker) catch { case _: IOException => "" }
    if (!created || durable != body)
      throw new CommitConflict(
        if (reclaimWedge)
          s"marker $marker: crashed writer's husk has a crashed reclaimer; " +
            "run repair() once no writer is live"
        else s"marker $marker already committed by another writer")
  }

  /** [[publish]] `body` as `marker`, its parent dir made first: the one
    * CAS every kv table commits through. On a lost race the writer deletes
    * `ownStaging` (its own staged data, never published data) and the
    * [[PotTable.CommitConflict]] rethrows. With `lockTimer`, the CAS's wall
    * time is recorded as lock-hold time, conflict or not (A12: the publish
    * CAS is the write-side mutual exclusion, the analogue of the
    * reference's localLock hold, server.go:616-626).
    */
  def publishOwn(fs: FileSystem, marker: Path, body: String,
      ownStaging: Option[Path], lockTimer: Option[graft.Metrics] = None): Unit = {
    fs.mkdirs(marker.getParent)
    val t0 = System.nanoTime()
    try publish(fs, marker, body)
    catch {
      case e: CommitConflict =>
        ownStaging.foreach(fs.delete(_, true))
        throw e
    } finally lockTimer.foreach(_.recordLockMs((System.nanoTime() - t0) / 1000000L))
  }

  private val StagedGen = "^g(\\d+)_.*".r

  /** Delete every dir under `dataRoot` whose name `keep` lacks, and return
    * the paths whose delete succeeded. Staged names encode their TARGET
    * generation (`g<N>_<uuid>`): a dir with N above `head` belongs to a
    * concurrent writer that staged but has not yet won the CAS, so it is
    * always kept — deleting it would let that writer publish pointers to
    * missing files.
    */
  def sweepStaged(fs: FileSystem, dataRoot: Path, head: Long,
      keep: Set[String]): Seq[Path] =
    fs.listStatus(dataRoot).toSeq.map(_.getPath).filter { p =>
      val inFlight = p.getName match {
        case StagedGen(g) => g.toLong > head
        case _            => false
      }
      !inFlight && !keep.contains(p.getName) && fs.delete(p, true)
    }

  /** Admin recovery for the double-crash wedge (see [[publish]]): delete
    * every zero-length marker husk and its reclaim file under `commits`.
    * PRECONDITION (caller-enforced, like any fsck): no writer is live —
    * deleting a husk whose creator is still between create and close would
    * resurrect the arbitration race repair exists to clean up after.
    * Returns the generations repaired.
    */
  def repair(fs: FileSystem, commits: Path): Seq[Long] = {
    if (!fs.exists(commits)) return Seq.empty
    val husks = fs.listStatus(commits).toSeq
      .filter(st => st.getPath.getName.forall(_.isDigit) && st.getLen == 0L)
    husks.map { st =>
      fs.delete(st.getPath, false)
      fs.delete(new Path(commits, st.getPath.getName + ".reclaim"), false)
      st.getPath.getName.toLong
    }.sorted
  }
}
