package graft

import org.scalatest.funsuite.AnyFunSuite

class MetricsSpec extends AnyFunSuite {
  import TestSpark._

  test("listener counts reads and writes like pot's op counters") {
    val m = Metrics.install(spark)
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-metrics").toString

    Seq((1, "a"), (2, "b")).toDF("k", "v").collect()              // read
    Seq((3, "c")).toDF("k", "v")
      .write.mode("overwrite").parquet(s"$out/t")                 // write
    // QueryExecutionListener callbacks fire async; poll briefly
    val deadline = System.currentTimeMillis() + 10000
    while ((m.reads.sum() < 1 || m.writes.sum() < 1) &&
      System.currentTimeMillis() < deadline) Thread.sleep(50)

    val snap = m.snapshot
    assert(snap("pot_reads") >= 1, snap.toString)
    assert(snap("pot_writes") >= 1, snap.toString)
    assert(snap("pot_failures") === 0, snap.toString)
  }

  test("mixed KV workload splits all four op counters + buckets lock latency (server.go:64-87)") {
    import graft.kv.PotTable
    import spark.implicits._
    val m = Metrics.install(spark)
    val root = java.nio.file.Files.createTempDirectory("graft-m2").toString

    // mixed workload: 2 writes, 1 remove (a tombstone commit that runs no
    // engine query), 1 read, 2 lists — the reference's four route classes
    val t = PotTable(spark, root, "inventory/items")
    t.upsert(Seq(("k1", "v1"), ("k2", "v2")).toDF("key", "doc"))
    t.upsert(Seq(("k3", "v3")).toDF("key", "doc"))
    t.remove(Seq("k2"))
    assert(t.get().count() === 2L)
    assert(PotTable.listPaths(spark, root) === Seq("inventory/items"))
    PotTable.listPaths(spark, root)

    val snap = m.snapshot
    // op-level counters are recorded synchronously at the call site
    assert(snap("pot_lists") === 2L, snap.toString)
    assert(snap("pot_removes") === 1L, snap.toString)
    // every commit (2 upserts + the remove's tombstone) timed one publish CAS
    assert(snap("lock_count") === 3L, snap.toString)
    assert(snap("lock_sum_ms") >= 0L, snap.toString)
    // histogram totals equal the count and land in real buckets
    val hist = m.lockHistogram
    assert(hist.values.sum === 3L, hist.toString)
    assert(hist.keySet.contains("lock_ms_le_0") &&
      hist.keySet.contains("lock_ms_le_10000") &&
      hist.keySet.contains("lock_ms_gt_10000"), hist.toString)
    // engine-level: listener classifies the two upserts' staging as writes
    // and the remove adds none; callbacks fire async and in order, so poll
    // like the first test until the read's, which comes after the writes'
    val deadline = System.currentTimeMillis() + 10000
    while ((m.writes.sum() < 2 || m.reads.sum() < 1) &&
      System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(m.snapshot("pot_writes") === 2L, m.snapshot.toString)
    assert(m.snapshot("pot_reads") >= 1L, m.snapshot.toString)
  }
}
