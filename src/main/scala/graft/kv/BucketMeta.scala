package graft.kv

import org.apache.hadoop.fs.{FileSystem, Path}

/** Persisted routing modulus for the bucketed stores (r15).
  *
  * The r14 verdict's one integrity finding: both bucketed stores took
  * `nBuckets` as a caller-supplied value and never persisted it, so a
  * caller opening a store with the wrong count would silently lose point
  * reads (the pruned scan opens the wrong `_b=i` object — zero rows for a
  * live key) and mis-route writes (the same key duplicated across buckets
  * with no LWW resolution between them). The modulus is part of the
  * store's IDENTITY, not a per-open knob — so it is stamped once at store
  * creation in a `_meta/buckets` CommitMarker (same CAS + atomic-publish
  * mechanics as every other marker in the engine) and validated on every
  * open:
  *
  *   - stored + supplied, equal   -> fine (idempotent re-open)
  *   - stored + supplied, differ  -> loud [[BucketCountMismatch]], never a
  *                                   mis-routed read or write
  *   - stored + none supplied     -> the stored modulus (self-describing
  *                                   open — callers drop the count once
  *                                   the store exists)
  *   - absent + supplied          -> the supplied count; write paths stamp
  *                                   it (CAS: racing creators with
  *                                   different counts -> exactly one wins,
  *                                   the loser fails loudly)
  *   - absent + none, store EMPTY -> the default (fresh store)
  *   - absent + none, store LIVE  -> loud failure: a pre-meta store needs
  *                                   its count passed ONCE to stamp it —
  *                                   guessing would recreate the hazard
  *
  * Reference analogue: none — the reference stores one object per path
  * (server.go:468-491) and has no routing to describe.
  */
object BucketMeta {
  final class BucketCountMismatch(msg: String)
      extends IllegalStateException(msg)

  val DefaultBuckets = 16

  /** The bucket of `key` under modulus `n`, evaluated driver- or
    * task-side without a job: xxhash64 (seed 42, Spark's default) pmod n
    * on the UTF-8 key bytes — the `pmod(xxhash64(key), n)` column every
    * bucketed writer routes rows by. 0 without hashing for the one-bucket
    * plain pot.
    */
  def bucketOf(key: String, n: Int): Int =
    if (n == 1) 0
    else bucketOf(org.apache.spark.unsafe.types.UTF8String.fromString(key), n)

  /** [[bucketOf]] on the key's UTF-8 bytes as Spark holds them: the SQL
    * `bucket(n, key)` function calls this per row without a copy. */
  def bucketOf(key: org.apache.spark.unsafe.types.UTF8String, n: Int): Int =
    if (n == 1) 0 else {
      val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function
        .hash(key, org.apache.spark.sql.types.StringType, 42L)
      (((h % n) + n) % n).toInt
    }

  private def marker(storeDir: Path) = new Path(storeDir, "_meta/buckets")

  /** The stamped modulus, if the store is self-describing yet. */
  def stored(fs: FileSystem, storeDir: Path): Option[Int] = {
    val m = marker(storeDir)
    if (fs.exists(m)) {
      val body = CommitMarker.read(fs, m).trim
      // a zero-length marker can only be a foreign crash husk (local
      // publish is atomic in existence+content) — treat as absent; the
      // next stamp re-publishes through the reclaim discipline
      if (body.isEmpty) None else Some(body.toInt)
    } else None
  }

  /** Stamp `n` as the store's modulus. Idempotent for an equal value;
    * a CAS race lost to an EQUAL value is adoption, to a different value
    * a loud mismatch (the racing creator's store, not ours).
    */
  def stamp(fs: FileSystem, storeDir: Path, n: Int): Unit =
    stored(fs, storeDir) match {
      case Some(s) if s == n => ()
      case Some(s) => throw mismatch(storeDir, s, n)
      case None =>
        fs.mkdirs(marker(storeDir).getParent)
        try CommitMarker.publish(fs, marker(storeDir), n.toString)
        catch {
          case _: PotTable.CommitConflict =>
            val s = stored(fs, storeDir)
            if (!s.contains(n))
              throw mismatch(storeDir, s.getOrElse(-1), n)
        }
    }

  /** Resolve the modulus for an open. `supplied` <= 0 means "none"
    * (self-describing open); `storeLive` is evaluated only on the
    * absent+none path.
    */
  def resolve(fs: FileSystem, storeDir: Path, supplied: Option[Int],
      storeLive: => Boolean): Int =
    (stored(fs, storeDir), supplied.filter(_ > 0)) match {
      case (Some(s), Some(c)) if s != c => throw mismatch(storeDir, s, c)
      case (Some(s), _)                 => s
      case (None, Some(c))              => c
      case (None, None) =>
        if (storeLive) throw new IllegalStateException(
          s"bucketed store $storeDir predates the _meta marker and no " +
            "bucket count was supplied — pass the count it was created " +
            "with ONCE (the next write stamps it; from then on opens are " +
            "count-free). Guessing a modulus would silently mis-route " +
            "point reads and writes.")
        else DefaultBuckets
    }

  private def mismatch(storeDir: Path, storedN: Int, supplied: Int) =
    new BucketCountMismatch(
      s"bucketed store $storeDir was created with $storedN buckets; " +
        s"opening it with buckets=$supplied would silently mis-route " +
        "point reads and writes (keys hash to a different _b object). " +
        "Omit the count (the store is self-describing) or pass the " +
        "stored value.")
}
