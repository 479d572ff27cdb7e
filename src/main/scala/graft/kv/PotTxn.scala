package graft.kv

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Cross-pot ATOMIC batch commit — the multi-table transaction the
  * reference cannot express (each pot path commits independently,
  * server.go:272-423; a partial multi-path ingest is visible forever).
  * The shape is a write-ahead intent log (transactional outbox) built
  * from the SAME CommitMarker CAS primitive as single-pot commits:
  *
  *   1. STAGE every pot's delta batch under a txn-unique path
  *      `_txns/stage/<id>/<pot>/` (no marker — invisible, crash = garbage);
  *   2. COMMIT POINT: CAS one marker `_txns/_commits/<n>` whose body
  *      names the txn id + participant pots. Before this marker exists
  *      nothing is visible anywhere; after it exists the transaction is
  *      durable and WILL complete (roll-forward only — there is no abort
  *      after the commit point, so no tombstone/undo protocol is needed);
  *   3. APPLY each staged batch through the pot's normal `upsert` CAS,
  *      retrying on [[PotTable.CommitConflict]] (each retry re-reads the
  *      pot head and re-merges — a lost race against a concurrent
  *      single-pot writer REBASES the delta instead of clobbering, which
  *      is well-defined because stage holds the DELTA, not a merged
  *      snapshot); then CAS a per-pot applied marker
  *      `_txns/applied/<n>/<pot>` so recovery can tell done from pending.
  *
  * Crash matrix: before 2 => nothing visible, staging garbage (vacuumed);
  * between 2 and 3 (any prefix of pots applied) => [[recover]] replays the
  * remaining pots — apply is at-least-once and LWW-idempotent (re-upsert
  * of the same delta rewrites `_modified` but no user-visible values).
  * Two recoverers racing is safe: both may upsert (idempotent), the
  * applied marker CAS arbitrates who records completion.
  *
  * Consistency contract (stated, not oversold): atomic DURABILITY with
  * roll-forward — not snapshot isolation. A reader scanning pots between
  * steps 2 and 3 can observe the txn partially applied; what can never
  * happen is a committed txn half-lost or an uncommitted txn half-seen
  * after recovery. That is the Iceberg/Hive multi-table reality absent a
  * shared catalog log, and exactly what a 100 TB multi-table ingest needs
  * from its coordinator.
  */
final class PotTxn(spark: SparkSession, root: String) {

  /** The session's Hadoop conf, taken once per instance; each `fs` call
    * resolves through Hadoop's FileSystem cache. */
  private lazy val conf = spark.sessionState.newHadoopConf()
  private def fs: FileSystem =
    new Path(root).getFileSystem(conf)
  private def commitsDir = new Path(s"$root/_txns/_commits")
  private def stageDir(id: String) = s"$root/_txns/stage/$id"
  private def appliedMarker(n: Long, pot: String) =
    new Path(s"$root/_txns/applied/$n/$pot")

  /** Stage + commit-point only (no apply) — the crash-window half used by
    * the recovery tests; production callers use [[commitAll]]. Returns
    * the txn number.
    */
  def prepare(batches: Seq[(String, DataFrame)]): Long = {
    require(batches.map(_._1).distinct.size == batches.size,
      "one batch per pot")
    val id = java.util.UUID.randomUUID().toString
    batches.foreach { case (pot, df) =>
      df.write.mode("errorifexists").parquet(s"${stageDir(id)}/$pot")
    }
    fs.mkdirs(commitsDir)
    val pots = batches.map(_._1)
    val body = (id +: pots).mkString("\n")
    var n = CommitMarker.head(fs, commitsDir) + 1
    var committed = false
    while (!committed) {
      try { CommitMarker.publish(fs, new Path(commitsDir, n.toString), body)
            committed = true }
      catch { case _: PotTable.CommitConflict => n += 1 }
    }
    n
  }

  /** Atomic cross-pot commit: stage, commit-point, apply-all. */
  def commitAll(batches: Seq[(String, DataFrame)]): Long = {
    val n = prepare(batches)
    applyTxn(n)
    n
  }

  /** Roll forward one committed txn: apply every pot batch that has no
    * applied marker yet. At-least-once; safe under racing recoverers.
    */
  private[graft] def applyTxn(n: Long): Unit = {
    val body = CommitMarker.read(fs, new Path(commitsDir, n.toString))
      .trim.split("\n").toSeq
    val (id, pots) = (body.head, body.tail)
    pots.foreach { pot =>
      val done = appliedMarker(n, pot)
      if (!fs.exists(done)) {
        val batch = spark.read.parquet(s"${stageDir(id)}/$pot")
        // the applied marker records the GENERATION the upsert produced —
        // the per-pot coordinate [[frontier]] composes into cross-pot
        // consistent reads (pre-r12 markers said "done"; frontier skips
        // non-numeric bodies)
        var applied = -1L
        while (applied < 0) {
          try applied = PotTable(spark, root, pot).upsert(batch)
          catch { case _: PotTable.CommitConflict => /* rebase: retry re-reads head */ }
        }
        fs.mkdirs(done.getParent)
        try CommitMarker.publish(fs, done, applied.toString)
        catch { case _: PotTable.CommitConflict => /* another recoverer recorded it */ }
      }
    }
  }

  /** Pot → generation frontier as of committed txn `n`: for each
    * participant pot, the generation recorded by its LAST applied txn
    * <= n. Composed with [[PotTable.getAt]] this gives CROSS-POT
    * CONSISTENT READS at a txn boundary — the read-side complement to
    * the roll-forward durability contract: a reader pinned to
    * frontier(n) never observes txn n+1 (or any later independent
    * single-pot write) partially applied, closing the documented
    * "reader between commit point and apply" caveat for readers that
    * opt in. The frontier is "state as the txn's apply left it": an
    * independent write that landed BEFORE that apply is visible, one
    * that landed after is not — exactly a snapshot at the apply point.
    */
  def frontier(n: Long): Map[String, Long] = {
    val w = gcWatermark
    if (n < w)
      throw new PotTable.RetentionViolated(
        s"frontier($n) is below the txn GC watermark $w: gcBelow($w) " +
          "dropped the per-txn frontier coordinates of older " +
          "transactions; pinned reads must stay at or above the " +
          "watermark (the checkpointed frontier there is still exact)")
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    // seed with the watermark's CHECKPOINTED frontier (gcBelow records
    // frontier(w) in the watermark marker before dropping the per-txn
    // markers, so pots whose last applied txn predates the watermark
    // keep their coordinate)
    if (w > 0L)
      CommitMarker.read(fs, new Path(gcDir, w.toString)).trim
        .split("\n").iterator.filter(_.contains("="))
        .foreach { line =>
          val i = line.lastIndexOf('=')
          line.drop(i + 1).toLongOption.foreach(g => m(line.take(i)) = g)
        }
    val ns = CommitMarker.committedGenerations(fs, commitsDir)
      .filter(t => t > w && t <= n).sorted
    ns.foreach { t =>
      val pots = CommitMarker.read(fs, new Path(commitsDir, t.toString))
        .trim.split("\n").toSeq.tail
      pots.foreach { pot =>
        val mk = appliedMarker(t, pot)
        if (fs.exists(mk))
          CommitMarker.read(fs, mk).trim.toLongOption
            .foreach(g => m(pot) = g)
      }
    }
    m.toMap
  }

  private def gcDir = new Path(s"$root/_txns/_gc")

  /** Highest committed GC watermark (0 = never GC'd). */
  def gcWatermark: Long = CommitMarker.head(fs, gcDir)

  /** Frontier GC — the retention half of the txn log (kv18's frontier
    * reads would otherwise pin every applied marker and stage dir
    * forever). Checkpoints `frontier(w)` INTO the watermark marker (one
    * CommitMarker CAS — concurrent GCs serialize, the loser adopts), then
    * drops the per-txn applied markers and staged batches of every txn
    * <= `w`. After it: `frontier(n)`/`snapshotAt(n)` for n >= w stay
    * EXACT (checkpoint seed + later markers); for n < w they fail with
    * [[PotTable.RetentionViolated]] — the same loud contract
    * [[PotTable.getAt]] applies when a staged generation is vacuumed.
    * Refuses to run past an unapplied txn (recovery still needs its
    * stage): run [[recover]] first. Commit markers themselves stay — they
    * are the txn counter, a few bytes each.
    */
  def gcBelow(w: Long): Unit = {
    // the watermark can never run AHEAD of the txn counter: new txns are
    // numbered max-committed+1, so a premature w > head would let later
    // committed txns land at t <= w — frontier()'s `t > w` filter would
    // then silently exclude their applied coordinates from every future
    // frontier/snapshotAt (committed effects invisible to pinned reads)
    val head = CommitMarker.head(fs, commitsDir)
    require(w <= head,
      s"gcBelow($w): watermark cannot pass the committed txn head $head — " +
        "a future txn would be numbered at or below the watermark and " +
        "its frontier coordinates silently dropped")
    val cur = gcWatermark
    require(w >= cur,
      s"gcBelow($w): watermark is already at $cur — it only moves forward")
    // only txns in (cur, w] are candidates: txns at or below the CURRENT
    // watermark were already GC'd (their applied markers are gone by
    // design — re-checking them would refuse every second GC)
    val ns = CommitMarker.committedGenerations(fs, commitsDir)
      .filter(t => t > cur && t <= w).sorted
    val unapplied = ns.filterNot { t =>
      CommitMarker.read(fs, new Path(commitsDir, t.toString))
        .trim.split("\n").toSeq.tail
        .forall(pot => fs.exists(appliedMarker(t, pot)))
    }
    require(unapplied.isEmpty,
      s"gcBelow($w): txns ${unapplied.mkString(",")} are not fully " +
        "applied — run recover() first (their staged batches are still " +
        "the roll-forward source)")
    val f = frontier(w)
    val body = f.toSeq.sortBy(_._1)
      .map { case (p, g) => s"$p=$g" }.mkString("\n") match {
        case "" => "-" // CommitMarker bodies must be non-empty
        case b  => b
      }
    fs.mkdirs(gcDir)
    try CommitMarker.publish(fs, new Path(gcDir, w.toString), body)
    catch {
      case _: PotTable.CommitConflict => () // concurrent GC won this w
    }
    ns.foreach { t =>
      val id = CommitMarker.read(fs, new Path(commitsDir, t.toString))
        .trim.split("\n").head
      fs.delete(new Path(stageDir(id)), true)
      fs.delete(new Path(s"$root/_txns/applied/$t"), true)
    }
  }

  /** Consistent snapshot of every txn-participant pot at frontier `n`. */
  def snapshotAt(n: Long): Map[String, DataFrame] =
    frontier(n).map { case (pot, g) =>
      pot -> PotTable(spark, root, pot).getAt(g)
    }

  /** Replay every committed txn that is missing applied markers (crash
    * recovery / startup hook). Returns the txn numbers rolled forward.
    */
  def recover(): Seq[Long] = {
    val ns = CommitMarker.committedGenerations(fs, commitsDir).sorted
    val pending = ns.filterNot { n =>
      val body = CommitMarker.read(fs, new Path(commitsDir, n.toString))
        .trim.split("\n").toSeq
      body.tail.forall(pot => fs.exists(appliedMarker(n, pot)))
    }
    pending.foreach(applyTxn)
    pending
  }
}
