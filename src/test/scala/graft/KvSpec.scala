package graft

import graft.kv.PotTable
import org.scalatest.funsuite.AnyFunSuite

/** Pot-parity semantics tests modeled on the reference's own e2e scenarios
  * (client_test.go: TestFlow, TestElection, TestReElection,
  * TestNoRewriteDuration — SURVEY.md §5).
  */
class KvSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def tmpRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-kv").toString

  test("CRUD roundtrip: upsert / get / re-upsert LWW / remove (TestFlow)") {
    val root = tmpRoot()
    val pot = PotTable(spark, root, "t")
    assert(pot.generation === 0L)
    assert(pot.get().isEmpty)

    pot.upsert(Seq(("a", 1), ("b", 2)).toDF("key", "v"))
    assert(pot.generation === 1L)
    assert(pot.get().select("key", "v").as[(String, Int)].collect().toMap
      === Map("a" -> 1, "b" -> 2))

    // last-writer-wins on key collision; new key merged in
    pot.upsert(Seq(("a", 10), ("c", 3)).toDF("key", "v"))
    assert(pot.get().select("key", "v").as[(String, Int)].collect().toMap
      === Map("a" -> 10, "b" -> 2, "c" -> 3))

    // multi-key delete; absent key is a no-op
    pot.remove(Seq("a", "zzz"))
    assert(pot.get().select("key").as[String].collect().toSet === Set("b", "c"))
    assert(pot.generation === 3L)
  }

  test("election: N racing conditional writers, exactly one wins (TestElection)") {
    val root = tmpRoot()
    val contenders = (1 to 5).map(i => s"node-$i")
    val results = contenders.map { node =>
      val pot = PotTable(spark, root, "leader")
      try {
        pot.conditionalUpsert(
          Seq(("leader", node)).toDF("key", "owner"), leaseMs = 60000L)
        node -> true
      } catch { case _: Throwable => node -> false }
    }
    assert(results.count(_._2) === 1, s"expected exactly 1 winner: $results")
    val winner = results.find(_._2).get._1
    val stored = PotTable(spark, root, "leader").get()
      .select("owner").as[String].collect().head
    assert(stored === winner)
  }

  test("re-election: owner renews via generation; lease expiry allows takeover (TestReElection)") {
    val root = tmpRoot()
    val pot = PotTable(spark, root, "leader")
    // long lease here: the lockout check below must not race Spark job latency
    val gen1 = pot.conditionalUpsert(
      Seq(("leader", "primary")).toDF("key", "owner"), leaseMs = 60000L)

    // secondary is locked out while the lease is live
    intercept[Throwable] {
      pot.conditionalUpsert(
        Seq(("leader", "secondary")).toDF("key", "owner"), leaseMs = 60000L)
    }

    // primary renews instantly through generation ownership (TestNoRewriteDuration);
    // the renewal shortens the lease so the expiry phase stays fast
    val gen2 = pot.conditionalUpsert(
      Seq(("leader", "primary")).toDF("key", "owner"), leaseMs = 500L,
      callerGeneration = gen1)
    assert(gen2 === gen1 + 1)

    // after the lease expires, secondary takes over without the generation
    Thread.sleep(700L)
    val gen3 = pot.conditionalUpsert(
      Seq(("leader", "secondary")).toDF("key", "owner"), leaseMs = 500L)
    assert(gen3 === gen2 + 1)
    assert(pot.get().select("owner").as[String].collect().head === "secondary")
  }

  test("listPaths finds committed pots only, including nested paths (TestListPaths)") {
    val root = tmpRoot()
    assert(PotTable.listPaths(spark, root) === Seq.empty)
    PotTable(spark, root, "alpha").upsert(Seq(("k", 1)).toDF("key", "v"))
    PotTable(spark, root, "beta").upsert(Seq(("k", 2)).toDF("key", "v"))
    PotTable(spark, root, "locks/job").upsert(Seq(("k", 3)).toDF("key", "v"))
    new java.io.File(s"$root/not-a-pot").mkdirs()
    assert(PotTable.listPaths(spark, root) === Seq("alpha", "beta", "locks/job"))
  }

  test("double-crash wedge is diagnosable and repairable (repair)") {
    val root = tmpRoot()
    val pot = PotTable(spark, root, "t")
    pot.upsert(Seq(("a", 1)).toDF("key", "v"))
    // writer crashed between create and close (husk at gen 2), AND the
    // reclaimer that found it crashed after winning the reclaim file
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.create(new org.apache.hadoop.fs.Path(s"$root/t/_commits/2"), false).close()
    fs.create(new org.apache.hadoop.fs.Path(s"$root/t/_commits/2.reclaim"), false).close()

    val e = intercept[PotTable.CommitConflict] {
      pot.upsert(Seq(("b", 2)).toDF("key", "v"))
    }
    assert(e.getMessage.contains("repair"), e.getMessage)

    assert(pot.repair() === Seq(2L))
    pot.upsert(Seq(("b", 2)).toDF("key", "v"))
    assert(pot.generation === 2L)
    assert(pot.get().select("key", "v").as[(String, Int)].collect().toMap
      === Map("a" -> 1, "b" -> 2))
  }

  test("crash husk between marker create and close: ignored, then reclaimed") {
    val root = tmpRoot()
    val pot = PotTable(spark, root, "t")
    pot.upsert(Seq(("a", 1)).toDF("key", "v"))
    // simulate a writer that died between fs.create(marker) and close():
    // a zero-length husk at the next generation
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.create(new org.apache.hadoop.fs.Path(s"$root/t/_commits/2"), false).close()

    // the husk is not a commit: readers and generation() ignore it
    assert(pot.generation === 1L)
    assert(pot.get().select("key", "v").as[(String, Int)].collect().toMap
      === Map("a" -> 1))
    val commits = new org.apache.hadoop.fs.Path(s"$root/t/_commits")
    assert(graft.kv.CommitMarker.head(fs, commits) === 1L)
    assert(graft.kv.CommitMarker.bodyAt(fs, commits, 2L) === None)
    assert(graft.kv.CommitMarker.bodyAt(fs, commits, 1L).isDefined)
    // a reclaim file, even a non-empty one, is never a generation
    val reclaim = new org.apache.hadoop.fs.Path(commits, "2.reclaim")
    val out = fs.create(reclaim, false)
    try out.write("x".getBytes("UTF-8")) finally out.close()
    assert(graft.kv.CommitMarker.head(fs, commits) === 1L)
    // planted for the check only: a real reclaimer creates it itself
    fs.delete(reclaim, false)

    // the next writer reclaims the husk instead of being wedged forever
    pot.upsert(Seq(("b", 2)).toDF("key", "v"))
    assert(pot.generation === 2L)
    assert(pot.get().select("key", "v").as[(String, Int)].collect().toMap
      === Map("a" -> 1, "b" -> 2))
  }

  test("vacuum keeps an in-flight writer's staged dir, drops lost races") {
    val root = tmpRoot()
    val pot = PotTable(spark, root, "t")
    pot.upsert(Seq(("a", 1)).toDF("key", "v"))
    // a concurrent writer has staged generation-2 data but not yet won the
    // CAS; a lost race left an unreferenced dir at the current generation
    val inFlight = new java.io.File(s"$root/t/data/g2_feedface")
    val lostRace = new java.io.File(s"$root/t/data/g1_deadbeef")
    Seq(inFlight, lostRace).foreach { d =>
      d.mkdirs()
      java.nio.file.Files.writeString(d.toPath.resolve("part-0"), "x")
    }
    pot.vacuum(retainGenerations = 0)
    assert(inFlight.exists(), "vacuum deleted a not-yet-committed staging dir")
    assert(!lostRace.exists(), "vacuum kept an unreferenced lost-race dir")
    assert(pot.get().select("key", "v").as[(String, Int)].collect().toMap
      === Map("a" -> 1))
  }

  test("snapshot exports current version and reports manifest (A7)") {
    val root = tmpRoot()
    val pot = PotTable(spark, root, "t")
    pot.upsert(Seq(("a", 1), ("b", 2)).toDF("key", "v"))
    val manifest = pot.snapshot(s"$root/_export")
    assert(manifest.select("generation").as[Long].collect().head === 1L)
    val exported = spark.read.parquet(s"$root/_export/t")
    assert(exported.count() === 2L)
  }

  test("snapshotAll bundles every pot at its current generation (A7 Zip)") {
    val root = tmpRoot()
    PotTable(spark, root, "alpha").upsert(Seq(("a", 1)).toDF("key", "v"))
    val beta = PotTable(spark, root, "beta")
    beta.upsert(Seq(("b", 1)).toDF("key", "v"))
    beta.upsert(Seq(("b", 2), ("c", 3)).toDF("key", "v")) // gen 2
    PotTable(spark, root, "nested/inner").upsert(Seq(("n", 9)).toDF("key", "v"))
    new java.io.File(s"$root/not-a-pot").mkdirs() // internal noise: excluded
    val out = s"$root/_bundle"
    val manifest = PotTable.snapshotAll(spark, root, out)
      .as[(String, Long)].collect().toMap
    assert(manifest === Map("alpha" -> 1L, "beta" -> 2L, "nested/inner" -> 1L))
    assert(spark.read.parquet(s"$out/nested/inner").count() === 1L)
    assert(spark.read.parquet(s"$out/alpha").count() === 1L)
    assert(spark.read.parquet(s"$out/beta").select("key").as[String]
      .collect().toSet === Set("b", "c"))
    // persisted manifest matches the returned one
    assert(spark.read.parquet(s"$out/_manifest").as[(String, Long)]
      .collect().toMap === manifest)
  }

  test("snapshotAll writes the reference bundle.tar.gz (A7 Zip format, server.go:550-614)") {
    import org.apache.commons.compress.archivers.tar.TarArchiveInputStream
    val root = tmpRoot()
    PotTable(spark, root, "alpha").upsert(Seq(("a", 1)).toDF("key", "v"))
    PotTable(spark, root, "nested/inner").upsert(Seq(("n", 9)).toDF("key", "v"))
    val out = s"$root/_bundle"
    // a stray lock file in the export dir is excluded, like the reference
    // zip skips `.potlock` objects
    new java.io.File(out).mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(out, "stray.potlock"), "lock".getBytes)
    PotTable.snapshotAll(spark, root, out)

    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val expected = walk(new java.io.File(out))
      .map(f => new java.io.File(out).toPath.relativize(f.toPath).toString -> f)
      .filterNot { case (r, f) =>
        // .crc sidecars are Hadoop LocalFileSystem checksum artifacts the
        // FileSystem API hides (no analogue on an object store) — the raw
        // java.io walk sees them, the bundle correctly does not
        r == "bundle.tar.gz" || r.endsWith(".potlock") ||
          f.getName.startsWith(".")
      }.toMap
    assert(expected.keySet.exists(_.startsWith("alpha/")))
    assert(expected.keySet.exists(_.startsWith("nested/inner/")))
    assert(expected.keySet.exists(_.startsWith("_manifest/")))

    val tin = new TarArchiveInputStream(new java.util.zip.GZIPInputStream(
      new java.io.FileInputStream(s"$out/bundle.tar.gz")))
    val got = Iterator.continually(tin.getNextEntry).takeWhile(_ != null)
      .map { e =>
        // mtimes pinned to epoch: identical trees => identical bundles
        assert(e.getLastModifiedDate.getTime === 0L,
          s"non-deterministic mtime on ${e.getName}")
        e.getName -> tin.readAllBytes()
      }.toMap
    tin.close()
    // every exported file is in the bundle, byte-identical; nothing extra
    assert(got.keySet === expected.keySet,
      s"extra=${got.keySet -- expected.keySet} missing=${expected.keySet -- got.keySet}")
    got.foreach { case (name, bytes) =>
      val disk = java.nio.file.Files.readAllBytes(expected(name).toPath)
      assert(java.util.Arrays.equals(bytes, disk), s"bundle entry $name differs from disk")
    }
  }

  test("restore rebuilds a cold warehouse from the bundle; snapshot isolation holds") {
    val root = tmpRoot()
    val alpha = PotTable(spark, root, "alpha")
    alpha.upsert(Seq(("a", 1), ("b", 2)).toDF("key", "v"))
    alpha.upsert(Seq(("b", 20)).toDF("key", "v")) // gen 2: LWW state
    PotTable(spark, root, "nested/inner").upsert(Seq(("n", 9)).toDF("key", "v"))
    val out = s"$root/_bundle"
    PotTable.snapshotAll(spark, root, out)
    // mutate the SOURCE after the snapshot: the restore must not see it
    alpha.upsert(Seq(("a", 999)).toDF("key", "v"))

    val root2 = tmpRoot()
    val manifest = PotTable.restore(spark, s"$out/bundle.tar.gz", root2)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(manifest.keySet === Set("alpha", "nested/inner"))
    assert(manifest("alpha") === ((2L, 1L))) // source gen 2 -> restored gen 1
    // restored pots read through the normal commit protocol at gen 1
    val ra = PotTable(spark, root2, "alpha")
    assert(ra.generation === 1L)
    assert(ra.get().select("key", "v").as[(String, Int)].collect().toMap
      === Map("a" -> 1, "b" -> 20)) // snapshot-time state, not a=999
    assert(PotTable(spark, root2, "nested/inner").get()
      .select("key", "v").as[(String, Int)].collect().toMap === Map("n" -> 9))
  }

  test("key derivation casts non-string id/name where the reference panics (server.go:349-353)") {
    import graft.operators.Kv
    // Numeric id: the reference's bare `.(string)` assertion panics here;
    // graft's documented deviation (SURVEY 7.4) casts to the string form.
    val numeric = Kv.deriveKeys(Seq((7, "seven"), (8, "eight")).toDF("id", "name"))
    assert(numeric.select("key").as[String].collect().toSet === Set("7", "8"))
    // id wins over name when both present (server.go:347-354)
    val both = Kv.deriveKeys(Seq(("i1", "n1")).toDF("id", "name"))
    assert(both.select("key").as[String].collect().toSeq === Seq("i1"))
    // name-only falls back; null id behaves as absent
    val fallback = Kv.deriveKeys(
      Seq((null: String, "n2")).toDF("id", "name"))
    assert(fallback.select("key").as[String].collect().toSeq === Seq("n2"))
    // Neither field: the reference files the doc under key "" — graft's
    // second documented deviation drops it (empty key can't be addressed).
    val keyless = Kv.deriveKeys(Seq(Tuple1("payload")).toDF("other"))
    assert(keyless.count() === 0L)
    // explicit empty-string id is equally unaddressable: same drop
    val emptyId = Kv.deriveKeys(Seq(("", "")).toDF("id", "name"))
    assert(emptyId.count() === 0L)
  }

  test("norewrite duration parse falls back silently to 0 on a bad value (server_routes.go:86-93)") {
    import graft.kv.PotClient
    // the reference's time.ParseDuration forms
    assert(PotClient.parseNoRewriteMs("10s") === 10000L)
    assert(PotClient.parseNoRewriteMs("300ms") === 300L)
    assert(PotClient.parseNoRewriteMs("1m30s") === 90000L)
    assert(PotClient.parseNoRewriteMs("1.5h") === 5400000L)
    assert(PotClient.parseNoRewriteMs("0") === 0L)
    assert(PotClient.parseNoRewriteMs("1500μs") === 1L) // Greek mu, Go-valid
    assert(PotClient.parseNoRewriteMs("1.h") === 3600000L) // bare dot, Go-valid
    assert(PotClient.parseNoRewriteMs(".5s") === 500L)
    // unparsable -> 0, silently (the reference's err != nil branch)
    assert(PotClient.parseNoRewriteMs("garbage") === 0L)
    assert(PotClient.parseNoRewriteMs("10 seconds") === 0L)
    assert(PotClient.parseNoRewriteMs("") === 0L)
    assert(PotClient.parseNoRewriteMs("12") === 0L) // bare number: no unit
    assert(PotClient.parseNoRewriteMs("+-10s") === 0L) // one sign max, like Go
    // int64-ns overflow is a Go parse error -> same fallback 0
    assert(PotClient.parseNoRewriteMs("99999999999999999h") === 0L)
    // exact boundary: 2^63 ns is the FIRST overflowing value. Double
    // accumulation rounds it to exactly Long.MaxValue.toDouble, so the
    // overflow check must be >= (with > it returned a nonzero window).
    assert(PotClient.parseNoRewriteMs("9223372036854775808ns") === 0L)
    // one ulp below stays a valid parse (Go: 9223372036854775807ns is MaxInt64)
    assert(PotClient.parseNoRewriteMs("9223372036854775000ns") === 9223372036854L)
    // behavioral consequence: a client built with a bad duration has NO
    // no-rewrite window, so a second client can immediately take the path
    val root = tmpRoot()
    val c1 = PotClient(spark, root, "garbage")
    c1.create("locks/job", Seq(("leader", "c1")).toDF("key", "owner"))
    val c2 = PotClient(spark, root, "garbage")
    c2.create("locks/job", Seq(("leader", "c2")).toDF("key", "owner"))
    assert(c2.get("locks/job").select("owner").as[String]
      .collect().toSeq === Seq("c2"))
  }

  test("publish reports own write/close failure as retryable CommitIncomplete, not foreign conflict") {
    import org.apache.hadoop.fs.{FSDataOutputStream, FileSystem, Path, RawLocalFileSystem}
    val root = tmpRoot()
    // scheme-less path: resolvable by the mock-scheme FS below AND by the
    // local-FS semantics underneath it
    val marker = new Path(s"$root/commits/1")
    // a RawLocalFileSystem whose next create() returns a stream that fails
    // at close — the injected "writer dies between create and close".
    // Claims a non-file scheme so publish takes the create-then-write path
    // (the REAL file: path link-publishes atomically since r11 and cannot
    // hit this failure mode at all — that atomicity has its own spec in
    // BucketedPotSpec).
    val fs = new RawLocalFileSystem() {
      override def getUri: java.net.URI = new java.net.URI("mockdfs:///")
      var failNextClose = true
      override def create(f: Path, overwrite: Boolean): FSDataOutputStream = {
        val real = super.create(f, overwrite)
        if (!failNextClose) real
        else {
          failNextClose = false
          new FSDataOutputStream(new java.io.FilterOutputStream(real) {
            override def close(): Unit = {
              real.close()
              throw new java.io.IOException("injected close failure")
            }
          }, null)
        }
      }
    }
    fs.initialize(new java.net.URI("file:///"),
      spark.sessionState.newHadoopConf())
    // no other writer exists, so this failure is OURS: the old code
    // reported "already committed by another writer" here
    val e = intercept[PotTable.CommitIncomplete](
      graft.kv.CommitMarker.publish(fs, marker, "body-of-writer-1"))
    assert(e.getMessage.contains("retry"))
    // the failed attempt's husk was cleaned: no zero-length marker remains
    assert(!fs.exists(marker), "failed-commit husk left behind")
    // and a straight retry succeeds with a durable read-back
    graft.kv.CommitMarker.publish(fs, marker, "body-of-writer-1")
    assert(graft.kv.CommitMarker.read(fs, marker) === "body-of-writer-1")
  }

  test("auto-snapshot client re-exports the warehouse after every write (A7 trigger)") {
    import graft.kv.PotClient
    val root = tmpRoot()
    val snaps = s"$root/_snaps"
    val c = PotClient.withAutoSnapshot(spark, root, leaseMs = 60000L, snaps)
    c.upsert("alpha", Seq(("a", 1)).toDF("key", "v"))
    c.upsert("beta", Seq(("b", 1)).toDF("key", "v"))
    c.remove("alpha", Seq("a"))
    assert(c.snapshotCount === 3L)
    // N writes -> N immutable snapshot dirs, each with a manifest
    val dirs = new java.io.File(snaps).listFiles()
      .filter(_.getName.startsWith("snap-")).map(_.getName).toSet
    assert(dirs === Set("snap-1", "snap-2", "snap-3"))
    (1 to 3).foreach { n =>
      assert(new java.io.File(s"$snaps/snap-$n/_manifest").exists(),
        s"snap-$n has no manifest")
    }
    // each snapshot captured the state at its trigger point
    val m1 = spark.read.parquet(s"$snaps/snap-1/_manifest")
      .as[(String, Long)].collect().toMap
    assert(m1 === Map("alpha" -> 1L))
    val m3 = spark.read.parquet(s"$snaps/snap-3/_manifest")
      .as[(String, Long)].collect().toMap
    assert(m3 === Map("alpha" -> 2L, "beta" -> 1L))
    // reads never trigger
    c.get("beta").count()
    assert(c.snapshotCount === 3L)
  }

  test("client generation cache: immediate self-rewrites ok, others locked out (TestNoRewriteDuration)") {
    import graft.kv.PotClient
    val root = tmpRoot()
    val c1 = PotClient(spark, root, leaseMs = 60000L)
    // three immediate no-rewrite creates from the same client, well inside
    // the lease window — succeed via transparent generation replay
    c1.create("locks/job", Seq(("leader", "c1-a")).toDF("key", "owner"))
    c1.create("locks/job", Seq(("leader", "c1-b")).toDF("key", "owner"))
    val gen3 = c1.create("locks/job", Seq(("leader", "c1-c")).toDF("key", "owner"))
    assert(gen3 === 3L)
    assert(c1.ownedGeneration("locks/job") === Some(3L))

    // a second client holds no generation: locked out while the lease lives
    val c2 = PotClient(spark, root, leaseMs = 60000L)
    intercept[PotTable.CommitConflict] {
      c2.create("locks/job", Seq(("leader", "c2")).toDF("key", "owner"))
    }
    assert(c1.get("locks/job").select("owner").as[String].collect().head === "c1-c")

    // reads never grant ownership (cache is fed by writes only)
    c2.get("locks/job")
    intercept[PotTable.CommitConflict] {
      c2.create("locks/job", Seq(("leader", "c2")).toDF("key", "owner"))
    }
  }

  test("PotTxn: prepare (crash before apply) leaves nothing visible; recover rolls forward atomically") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-txn1").toString
    val txn = new graft.kv.PotTxn(spark, root)
    val n = txn.prepare(Seq(
      "pa" -> Seq(("k1", 1)).toDF("key", "v"),
      "pb" -> Seq(("k2", 2)).toDF("key", "v")))
    // commit point durable, apply never ran: both pots still empty
    assert(PotTable(spark, root, "pa").generation === 0L)
    assert(PotTable(spark, root, "pb").generation === 0L)
    assert(txn.recover() === Seq(n))
    assert(PotTable(spark, root, "pa").get().select("v").as[Int].collect().toSeq === Seq(1))
    assert(PotTable(spark, root, "pb").get().select("v").as[Int].collect().toSeq === Seq(2))
    // second recover: nothing pending
    assert(txn.recover() === Seq.empty)
  }

  test("PotTxn: gcBelow drops old frontiers; reads below the watermark fail loudly, at/above stay exact") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-txngc").toString
    val txn = new graft.kv.PotTxn(spark, root)
    val t1 = txn.commitAll(Seq(
      "pa" -> Seq(("k1", 1)).toDF("key", "v"),
      "pb" -> Seq(("k2", 1)).toDF("key", "v")))
    val t2 = txn.commitAll(Seq(
      "pa" -> Seq(("k1", 2)).toDF("key", "v"),
      "pb" -> Seq(("k2", 2)).toDF("key", "v")))
    val f1 = txn.frontier(t1)
    val f2 = txn.frontier(t2)
    // GC below t2: t1's applied markers and stage go away; the watermark
    // marker checkpoints frontier(t2) so later reads stay exact
    txn.gcBelow(t2)
    assert(txn.gcWatermark === t2)
    val e = intercept[graft.kv.PotTable.RetentionViolated] {
      txn.snapshotAt(t1)
    }
    assert(e.getMessage.contains("watermark"), e.getMessage)
    // at/above the watermark: frontier identical to pre-GC, snapshot exact
    assert(txn.frontier(t2) === f2,
      "checkpointed frontier diverged from the pre-GC frontier")
    val snap = txn.snapshotAt(t2)
    assert(snap("pa").select($"v").as[Int].collect().toSeq === Seq(2))
    assert(snap("pb").select($"v").as[Int].collect().toSeq === Seq(2))
    // a THIRD txn on top of the checkpoint: frontier folds checkpoint +
    // post-watermark markers; pots not in t3 keep their checkpointed gen
    val t3 = txn.commitAll(Seq("pa" -> Seq(("k1", 3)).toDF("key", "v")))
    val f3 = txn.frontier(t3)
    assert(f3("pb") === f2("pb"), "checkpoint seed lost pb's coordinate")
    assert(txn.snapshotAt(t3)("pa").select($"v").as[Int].collect().toSeq
      === Seq(3))
    // the watermark only moves forward
    intercept[IllegalArgumentException] { txn.gcBelow(t1) }
    // ...and never PAST the committed txn head: a future txn would be
    // numbered at or below the watermark and frontier()'s `t > w` filter
    // would silently drop its applied coordinates forever
    val eAhead = intercept[IllegalArgumentException] { txn.gcBelow(t3 + 5) }
    assert(eAhead.getMessage.contains("head"), eAhead.getMessage)
    // the guard really protects visibility: commit t4, gc at the head,
    // and t4's coordinates survive in every later frontier
    val t4 = txn.commitAll(Seq("pb" -> Seq(("k2", 4)).toDF("key", "v")))
    txn.gcBelow(t4)
    assert(txn.frontier(t4)("pb") > f2("pb"),
      "post-GC frontier lost a committed txn's coordinate")
    // and a pot generation dropped by PotTable.vacuum is equally loud
    val pa = PotTable(spark, root, "pa")
    pa.vacuum(retainGenerations = 0)
    val e2 = intercept[graft.kv.PotTable.RetentionViolated] {
      pa.getAt(f2("pa")).collect()
    }
    assert(e2.getMessage.contains("vacuumed"), e2.getMessage)
    assert(f1 !== f2) // the GC'd frontier really was distinct state
  }

  test("PotTxn: apply rebases over a concurrent single-pot commit instead of clobbering") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-txn2").toString
    val txn = new graft.kv.PotTxn(spark, root)
    txn.commitAll(Seq("px" -> Seq(("k1", 1)).toDF("key", "v")))
    // a direct writer moves the head between commit point and apply
    PotTable(spark, root, "px").upsert(Seq(("k2", 2)).toDF("key", "v"))
    val n2 = txn.prepare(Seq("px" -> Seq(("k1", 10)).toDF("key", "v")))
    txn.recover()
    val state = PotTable(spark, root, "px").get()
      .select("key", "v").as[(String, Int)].collect().toMap
    assert(state === Map("k1" -> 10, "k2" -> 2), s"txn $n2 lost an update: $state")
  }

  test("PotTxn: applyTxn is at-least-once idempotent (racing recoverers safe)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-txn3").toString
    val txn = new graft.kv.PotTxn(spark, root)
    val n = txn.commitAll(Seq("pi" -> Seq(("k", 7)).toDF("key", "v")))
    val before = PotTable(spark, root, "pi").get()
      .select("key", "v").as[(String, Int)].collect().toSeq
    txn.applyTxn(n) // replay the whole txn — applied markers short-circuit
    val after = PotTable(spark, root, "pi").get()
      .select("key", "v").as[(String, Int)].collect().toSeq
    assert(after === before)
    assert(PotTable(spark, root, "pi").generation === 1L)
  }

  test("PotTxn: crash between per-pot applied markers + concurrent writers — recovery replays exactly the unfinished suffix") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val root = java.nio.file.Files.createTempDirectory("graft-txn4").toString
    val txn = new graft.kv.PotTxn(spark, root)
    val n = txn.prepare(Seq(
      "pa" -> Seq(("t1", 1)).toDF("key", "v"),
      "pb" -> Seq(("t2", 2)).toDF("key", "v"),
      "pc" -> Seq(("t3", 3)).toDF("key", "v")))
    // Simulate the coordinator dying BETWEEN per-pot applied markers: pa
    // fully applied (upsert + applied marker), pb/pc untouched — the one
    // crash quadrant prepare-crash/rebase/idempotent-replay didn't cover.
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    PotTable(spark, root, "pa").upsert(Seq(("t1", 1)).toDF("key", "v"))
    val done = new org.apache.hadoop.fs.Path(s"$root/_txns/applied/$n/pa")
    fs.mkdirs(done.getParent)
    graft.kv.CommitMarker.publish(fs, done, "done")
    val paGen = PotTable(spark, root, "pa").generation
    // Six independent writers land generations on pb between the commit
    // point and recovery AND while recovery's rebase loop is running —
    // the BucketedPotSpec stress shape applied to the txn coordinator.
    val writers = (1 to 6).map { w =>
      Future(scala.util.Try {
        var ok = false
        while (!ok) {
          try {
            PotTable(spark, root, "pb")
              .upsert(Seq((s"w$w", w * 100)).toDF("key", "v"))
            ok = true
          } catch { case _: PotTable.CommitConflict => () }
        }
      })
    }
    val recovered = Await.result(Future(txn.recover()), 180.seconds)
    writers.foreach(f => assert(Await.result(f, 180.seconds).isSuccess))
    assert(recovered === Seq(n))
    // pa's applied marker short-circuited: NOT re-applied, generation intact
    assert(PotTable(spark, root, "pa").generation === paGen,
      "recovery re-applied an already-marked pot")
    // pb: the txn row AND every concurrent writer's generation survive —
    // the rebase loop re-reads the head on each conflict, never clobbers
    val pb = PotTable(spark, root, "pb").get()
      .select($"key", $"v").as[(String, Int)].collect().toMap
    assert(pb.get("t2").contains(2), s"txn row lost on pb: $pb")
    (1 to 6).foreach(w =>
      assert(pb.get(s"w$w").contains(w * 100), s"writer $w lost: $pb"))
    // pc (never started): rolled forward
    assert(PotTable(spark, root, "pc").get()
      .select($"key", $"v").as[(String, Int)].collect().toSeq === Seq(("t3", 3)))
    assert(txn.recover() === Seq.empty)
  }

  test("IndexedPot: postings track value moves; emptied values overwrite to []") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-ix1").toString
    val ip = new graft.kv.IndexedPot(spark, root, "t")
    ip.upsert(Seq(("a", "red", 1), ("b", "red", 2), ("c", "blue", 3))
      .toDF("key", "fval", "v"))
    assert(ip.lookup("red").select("key").as[String].collect().sorted
      === Array("a", "b"))
    // move every red key away: red's posting must overwrite to empty
    ip.upsert(Seq(("a", "green", 1), ("b", "blue", 2)).toDF("key", "fval", "v"))
    assert(ip.lookup("red").count() === 0L)
    assert(ip.lookup("blue").select("key").as[String].collect().sorted
      === Array("b", "c"))
    assert(ip.lookup("green").select("key").as[String].collect() === Array("a"))
    val redPosting = ip.idxPot.get().filter($"key" === "red")
      .select("keys").as[Seq[String]].collect()
    assert(redPosting === Array(Seq.empty[String]), "empty posting row expected")
  }

  test("IndexedPot: a committed txn interrupted before apply recovers index-consistent") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-ix2").toString
    val ip = new graft.kv.IndexedPot(spark, root, "t")
    ip.upsert(Seq(("a", "red", 1)).toDF("key", "fval", "v"))
    // simulate the crash window: stage+commit-point a second batch but die
    // before apply — IndexedPot's writes go through the same txn root
    val txn = new graft.kv.PotTxn(spark, root)
    txn.prepare(Seq(
      "t-data" -> Seq(("b", "red", 2)).toDF("key", "fval", "v"),
      "t-idx" -> Seq(("red", Seq("a", "b"))).toDF("key", "keys")))
    assert(ip.lookup("red").count() === 1L, "crash window: txn not applied yet")
    txn.recover()
    assert(ip.lookup("red").select("key").as[String].collect().sorted
      === Array("a", "b"), "roll-forward must land data AND index")
  }

  test("upsert evolves schema: widen backfills null, narrow LWW drops the field, old gens keep their shape") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-evo").toString
    val pot = graft.kv.PotTable(spark, root, "evo")
    pot.upsert(Seq(("a", 1), ("b", 2)).toDF("key", "v"))
    // gen 2 introduces column w — untouched row "b" must read null there
    pot.upsert(Seq(("a", 10, "x")).toDF("key", "v", "w"))
    val g2 = pot.get().select($"key", $"v", $"w").as[(String, Int, Option[String])]
      .collect().map { case (k, v, w) => k -> ((v, w)) }.toMap
    assert(g2 === Map("a" -> ((10, Some("x"))), "b" -> ((2, None))))
    // gen 3 re-writes "a" with the narrow shape: whole-document LWW, so
    // its w reverts to null (pot docs replace, never column-merge)
    pot.upsert(Seq(("a", 100)).toDF("key", "v"))
    val g3 = pot.get().select($"key", $"v", $"w").as[(String, Int, Option[String])]
      .collect().map { case (k, v, w) => k -> ((v, w)) }.toMap
    assert(g3 === Map("a" -> ((100, None)), "b" -> ((2, None))))
    // time travel: generation 1 still has the narrow schema
    assert(!pot.getAt(1L).schema.fieldNames.contains("w"))
    new scala.reflect.io.Directory(new java.io.File(root)).deleteRecursively()
  }

  test("replace at a stale base generation conflicts instead of dropping a concurrent commit") {
    val root = tmpRoot()
    val pot = PotTable(spark, root, "t")
    pot.upsert(Seq(("a", 1L)).toDF("key", "n"))
    // the caller reads its base, then another writer's commit lands
    val g = pot.generation
    val merged = pot.getAt(g).select($"key", ($"n" + 1).as("n"))
    pot.upsert(Seq(("b", 2L)).toDF("key", "n"))
    intercept[PotTable.CommitConflict](pot.replace(merged, g))
    assert(pot.generation === g + 1)
    assert(pot.get().select("key", "n").as[(String, Long)].collect().toMap
      === Map("a" -> 1L, "b" -> 2L))
    new scala.reflect.io.Directory(new java.io.File(root)).deleteRecursively()
  }

  test("replace == upsert for a batch covering every surviving key (r20 fast path)") {
    import spark.implicits._
    def state(p: graft.kv.PotTable) = p.get()
      .select($"key", $"n").as[(String, Long)].collect().toMap
    val rootA = java.nio.file.Files.createTempDirectory("graft-repl-a").toString
    val rootB = java.nio.file.Files.createTempDirectory("graft-repl-b").toString
    val a = graft.kv.PotTable(spark, rootA, "c")
    val b = graft.kv.PotTable(spark, rootB, "c")
    val w1 = Seq(("k1", 1L), ("k2", 2L)).toDF("key", "n")
    a.upsert(w1); b.upsert(w1)
    // the additive-counter shape: the next batch contains EVERY key
    val w2 = Seq(("k1", 5L), ("k2", 2L), ("k3", 7L)).toDF("key", "n")
    a.upsert(w2)
    b.replace(w2, b.generation)
    assert(state(a) === state(b), "replace diverged from upsert on a covering batch")
    assert(a.generation === b.generation, "replace burned a different generation count")
    // and replace IS a replace: a key absent from the batch is dropped
    b.replace(Seq(("k1", 9L)).toDF("key", "n"), b.generation)
    assert(state(b) === Map("k1" -> 9L))
    Seq(rootA, rootB).foreach(p =>
      new scala.reflect.io.Directory(new java.io.File(p)).deleteRecursively())
  }

  private def fsOf(root: String) = new org.apache.hadoop.fs.Path(root)
    .getFileSystem(spark.sessionState.newHadoopConf())

  /** Generation `g`'s marker body: the staged path, and the schema line if
    * there is one (`txn` lines, if any, follow it).
    */
  private def markerAt(root: String, g: Long)
      : (String, Option[org.apache.spark.sql.types.StructType]) = {
    val body = graft.kv.CommitMarker.bodyAt(fsOf(root),
      new org.apache.hadoop.fs.Path(s"$root/t/_commits"), g).get
    val lines = body.split("\n")
    (lines(0), lines.lift(1).map(org.apache.spark.sql.types.DataType.fromJson(_)
      .asInstanceOf[org.apache.spark.sql.types.StructType]))
  }

  test("every writer records the schema the parquet reader returns for its staged data") {
    import org.apache.spark.sql.functions.{col, lit}
    val root = tmpRoot()
    val pot = PotTable(spark, root, "t")
    // decimal, timestamp, array, map and a struct whose nested fields are
    // non-nullable as written (tuple primitives; `n` is a non-null literal)
    val rich = Seq(
      ("a", "1.250", java.sql.Timestamp.valueOf("2024-01-02 03:04:05"),
        Seq(1, 2), Map("x" -> 1), (7, Seq(("c", 1L)))),
      ("b", "2.500", java.sql.Timestamp.valueOf("2024-05-06 07:08:09"),
        Seq(3), Map("y" -> 2), (8, Seq.empty[(String, Long)])))
      .toDF("key", "d", "ts", "arr", "m", "st")
      .withColumn("d", col("d").cast("decimal(12,3)"))
      .withColumn("n", lit(5))
    assert(!rich.schema("n").nullable)
    pot.upsert(rich)                                               // gen 1
    pot.upsert(rich.filter(col("key") === "a").withColumn("w", lit("x"))) // widen
    pot.upsert(Seq(("b", 9)).toDF("key", "n"))                     // narrow batch
    pot.conditionalUpsert(Seq(("c", 1)).toDF("key", "n"), 0L, pot.generation)
    pot.replace(Seq(("a", 1), ("b", 2), ("c", 3)).toDF("key", "n"), pot.generation)
    pot.remove(Seq("a"))
    pot.removeWhere(col("key") === "b")
    assert(pot.generation === 7L)
    (1L to 7L).foreach { g =>
      val (staged, schema) = markerAt(root, g)
      val inferred = spark.read.parquet(staged).schema
      assert(schema === Some(inferred), s"generation $g")
      assert(pot.getAt(g).schema === inferred, s"generation $g")
    }
    assert(markerAt(root, 2L)._2.get.fieldNames.contains("w"))
    assert(!markerAt(root, 5L)._2.get.fieldNames.contains("d"))
    val cols = rich.columns.toSeq.map(col)
    assert(pot.getAt(1L).select(cols: _*).collect().toSet ===
      rich.collect().toSet)
    assert(pot.get().select("key", "n").as[(String, Int)].collect().toSeq
      === Seq("c" -> 3))
  }

  test("get and getAt of a committed generation launch no Spark job") {
    val root = tmpRoot()
    val pot = PotTable(spark, root, "t")
    pot.upsert(Seq(("a", 1), ("b", 2)).toDF("key", "v"))
    pot.upsert(Seq(("a", 10)).toDF("key", "v"))
    val (head, headJobs) = jobsDuring(pot.get())
    val (first, firstJobs) = jobsDuring(pot.getAt(1L))
    assert(headJobs === 0)
    assert(firstJobs === 0)
    assert(head.select("key", "v").as[(String, Int)].collect().toMap
      === Map("a" -> 10, "b" -> 2))
    assert(first.select("key", "v").as[(String, Int)].collect().toMap
      === Map("a" -> 1, "b" -> 2))
  }

  test("a marker holding only the staged path (older stores) still reads; the next write records the schema") {
    val root = tmpRoot()
    val pot = PotTable(spark, root, "t")
    pot.upsert(Seq(("a", 1), ("b", 2)).toDF("key", "v"))
    pot.upsert(Seq(("a", 10)).toDF("key", "v"))
    val fs = fsOf(root)
    (1L to 2L).foreach { g =>
      val marker = new org.apache.hadoop.fs.Path(s"$root/t/_commits/$g")
      val staged = markerAt(root, g)._1
      fs.delete(marker, false)
      graft.kv.CommitMarker.publish(fs, marker, staged)
      assert(markerAt(root, g) === ((staged, None)))
    }
    assert(pot.get().select("key", "v").as[(String, Int)].collect().toMap
      === Map("a" -> 10, "b" -> 2))
    assert(pot.getAt(1L).select("key", "v").as[(String, Int)].collect().toMap
      === Map("a" -> 1, "b" -> 2))
    pot.upsert(Seq(("c", 3)).toDF("key", "v"))
    assert(markerAt(root, 3L)._2.exists(_.fieldNames.contains("v")))
    // vacuum reads the older bodies' path as its keep set
    pot.vacuum(retainGenerations = 1)
    assert(pot.getAt(2L).select("key", "v").as[(String, Int)].collect().toMap
      === Map("a" -> 10, "b" -> 2))
    assert(pot.get().select("key", "v").as[(String, Int)].collect().toMap
      === Map("a" -> 10, "b" -> 2, "c" -> 3))
  }

  private def counts(p: PotTable): Map[String, Long] =
    p.get().select("key", "n").as[(String, Long)].collect().toMap

  test("replace records a txn version; txnVersion reads it back with no Spark job") {
    val root = tmpRoot()
    val pot = PotTable(spark, root, "t")
    assert(pot.txnVersion("app") === None)
    pot.replace(Seq(("a", 1L)).toDF("key", "n"), 0L, Some("app" -> 0L))
    pot.replace(Seq(("a", 2L)).toDF("key", "n"), 1L, Some("app" -> 7L))
    val (v, jobs) = jobsDuring(pot.txnVersion("app"))
    assert(v === Some(7L))
    assert(jobs === 0)
    assert(pot.txnVersion("other") === None)
    assert(counts(pot) === Map("a" -> 2L))
    assert(pot.getAt(1L).schema === pot.get().schema)
  }

  test("txn versions carry forward through upsert, remove, removeWhere and replace; appIds are independent") {
    import org.apache.spark.sql.functions.col
    val root = tmpRoot()
    val pot = PotTable(spark, root, "t")
    pot.replace(Seq(("a", 1L), ("b", 2L)).toDF("key", "n"), 0L, Some("x" -> 3L))
    pot.replace(Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("key", "n"), 1L,
      Some("y" -> 10L))
    pot.upsert(Seq(("d", 4L)).toDF("key", "n"))
    pot.remove(Seq("a"))
    pot.removeWhere(col("key") === "b")
    pot.conditionalUpsert(Seq(("e", 5L)).toDF("key", "n"), 0L, pot.generation)
    pot.replace(Seq(("c", 9L)).toDF("key", "n"), pot.generation)
    assert(pot.generation === 7L)
    assert(pot.txnVersion("x") === Some(3L))
    assert(pot.txnVersion("y") === Some(10L))
    // a later version of one app replaces its own line only
    pot.replace(Seq(("c", 9L)).toDF("key", "n"), pot.generation, Some("x" -> 4L))
    assert(pot.txnVersion("x") === Some(4L))
    assert(pot.txnVersion("y") === Some(10L))
    assert(counts(pot) === Map("c" -> 9L))
  }

  test("a replace that loses its CAS leaves the txn version unchanged") {
    val root = tmpRoot()
    val pot = PotTable(spark, root, "t")
    pot.replace(Seq(("a", 1L)).toDF("key", "n"), 0L, Some("app" -> 1L))
    val g = pot.generation
    pot.upsert(Seq(("b", 2L)).toDF("key", "n")) // lands after the caller read g
    intercept[PotTable.CommitConflict](
      pot.replace(Seq(("a", 5L)).toDF("key", "n"), g, Some("app" -> 2L)))
    assert(pot.txnVersion("app") === Some(1L))
    assert(counts(pot) === Map("a" -> 1L, "b" -> 2L))
  }

  test("markers of one or two lines (older stores) carry no txn version") {
    val root = tmpRoot()
    val pot = PotTable(spark, root, "t")
    pot.upsert(Seq(("a", 1L)).toDF("key", "n"))
    assert(pot.txnVersion("app") === None) // path and schema lines
    val fs = fsOf(root)
    val marker = new org.apache.hadoop.fs.Path(s"$root/t/_commits/1")
    val staged = markerAt(root, 1L)._1
    fs.delete(marker, false)
    graft.kv.CommitMarker.publish(fs, marker, staged)
    assert(pot.txnVersion("app") === None) // path only
    assert(counts(pot) === Map("a" -> 1L))
    pot.replace(Seq(("a", 2L)).toDF("key", "n"), 1L, Some("app" -> 0L))
    assert(pot.txnVersion("app") === Some(0L))
  }

  test("vacuum keeps the staged data of markers that carry txn lines") {
    val root = tmpRoot()
    val pot = PotTable(spark, root, "t")
    (0L to 2L).foreach(v =>
      pot.replace(Seq(("a", v)).toDF("key", "n"), v, Some("app" -> v)))
    pot.vacuum(retainGenerations = 1)
    def dataDirs = new java.io.File(s"$root/t/data").listFiles()
      .map(_.getName).filter(_.startsWith("g")).toSet
    assert(dataDirs === Set(2L, 3L).map(g => new java.io.File(markerAt(root, g)._1).getName))
    assert(pot.getAt(2L).select("n").as[Long].collect().toSeq === Seq(1L))
    assert(counts(pot) === Map("a" -> 2L))
    assert(pot.txnVersion("app") === Some(2L))
  }

  test("upsert keeps one row per key at every generation, the first included") {
    val root = tmpRoot()
    val pot = PotTable(spark, root, "t")
    pot.upsert(Seq(("k", 1), ("k", 2), ("j", 3)).toDF("key", "v"))
    val first = pot.get().select("key", "v").as[(String, Int)].collect()
    assert(first.map(_._1).sorted.toSeq === Seq("j", "k"))
    assert(Set(1, 2).contains(first.toMap.apply("k")))
    pot.upsert(Seq(("z", 9), ("z", 9)).toDF("key", "v"))
    assert(pot.get().select("key").as[String].collect().sorted.toSeq
      === Seq("j", "k", "z"))
  }

  /** Generation `g`'s raw marker lines. */
  private def markerLines(root: String, g: Long): Seq[String] =
    graft.kv.CommitMarker.bodyAt(fsOf(root),
      new org.apache.hadoop.fs.Path(s"$root/t/_commits"), g).get.split("\n").toSeq

  /** Staged data dirs of pot `t`. */
  private def stagedDirs(root: String): Set[String] =
    new java.io.File(s"$root/t/data").listFiles().map(_.getName).toSet

  private def state(df: org.apache.spark.sql.DataFrame): Map[String, Int] =
    df.select("key", "v").as[(String, Int)].collect().toMap

  test("remove is a tombstone commit: no Spark job, no data file, one del: line") {
    val root = tmpRoot()
    val pot = PotTable(spark, root, "t")
    pot.upsert(Seq(("a", 1), ("b", 2), ("c", 3)).toDF("key", "v"))
    val before = stagedDirs(root)
    val (gen, jobs) = jobsDuring(pot.remove(Seq("a", "zzz")))
    assert((gen, jobs) === ((2L, 0)))
    assert(stagedDirs(root) === before)
    assert(markerLines(root, 2L).head === markerLines(root, 1L).head)
    assert(markerLines(root, 2L).filter(_.startsWith("del:")) ===
      Seq("""del:["a","zzz"]"""))
    val (_, jobs2) = jobsDuring(pot.remove(Seq("b")))
    assert(jobs2 === 0)
    assert(markerLines(root, 3L).filter(_.startsWith("del:")) ===
      Seq("""del:["a","b","zzz"]"""))
    assert(state(pot.get()) === Map("c" -> 3))
  }

  test("remove then upsert of the same key brings it back; getAt reads both sides of the tombstone") {
    val root = tmpRoot()
    val pot = PotTable(spark, root, "t")
    pot.upsert(Seq(("a", 1), ("b", 2)).toDF("key", "v"))  // gen 1
    pot.remove(Seq("a"))                                  // gen 2
    pot.upsert(Seq(("a", 10)).toDF("key", "v"))           // gen 3 folds
    assert(!markerLines(root, 3L).exists(_.startsWith("del:")))
    assert(state(pot.get()) === Map("a" -> 10, "b" -> 2))
    assert(state(pot.getAt(1L)) === Map("a" -> 1, "b" -> 2))
    assert(state(pot.getAt(2L)) === Map("b" -> 2))
    // the fold wrote the tombstone into the data: no `a` from gen 1 left
    assert(spark.read.parquet(markerLines(root, 3L).head)
      .filter($"key" === "a").select("v").as[Int].collect().toSeq === Seq(10))
    // the same through replace, conditionalUpsert and removeWhere
    pot.remove(Seq("b"))                                                     // gen 4
    pot.conditionalUpsert(Seq(("b", 5)).toDF("key", "v"), 0L, pot.generation) // gen 5
    assert(!markerLines(root, 5L).exists(_.startsWith("del:")))
    pot.remove(Seq("a"))                                                     // gen 6
    pot.removeWhere($"key" === "zzz")                                        // gen 7
    assert(!markerLines(root, 7L).exists(_.startsWith("del:")))
    assert(state(pot.get()) === Map("b" -> 5))
    pot.remove(Seq("b"))                                                     // gen 8
    pot.replace(Seq(("b", 6)).toDF("key", "v"), pot.generation)              // gen 9
    assert(!markerLines(root, 9L).exists(_.startsWith("del:")))
    assert(state(pot.get()) === Map("b" -> 6))
  }

  test("diff across a tombstone commit reports removed keys") {
    val root = tmpRoot()
    val pot = PotTable(spark, root, "t")
    pot.upsert(Seq(("a", 1), ("b", 2), ("c", 3)).toDF("key", "v"))
    pot.remove(Seq("a", "nope"))
    pot.upsert(Seq(("b", 20)).toDF("key", "v"))
    def changes(from: Long, to: Long) =
      pot.diff(from, to).as[(String, String)].collect().toMap
    assert(changes(1L, 2L) === Map("a" -> "removed"))
    assert(changes(2L, 1L) === Map("a" -> "added"))
    assert(changes(1L, 3L) === Map("a" -> "removed", "b" -> "changed"))
  }

  test("diff matches an unchanged null-key document to itself") {
    val root = tmpRoot()
    val pot = PotTable(spark, root, "t")
    pot.upsert(Seq((Some("a"), 1), (None, 2)).toDF("key", "v"))
    pot.upsert(Seq(("a", 5)).toDF("key", "v"))
    val rows = pot.diff(1L, 2L).as[(Option[String], String)].collect()
    assert(rows.toSeq === Seq((Some("a"), "changed")))
  }

  test("a null-key row survives a remove") {
    val root = tmpRoot()
    val pot = PotTable(spark, root, "t")
    pot.replace(Seq((Some("a"), 1), (None, 2)).toDF("key", "v"), 0L)
    pot.remove(Seq("a"))
    val rows = pot.get().select("key", "v").as[(Option[String], Int)].collect()
    assert(rows.toSeq === Seq((None, 2)))
  }

  test("keys holding a comma, a quote and a newline round-trip through the del: line") {
    val root = tmpRoot()
    val pot = PotTable(spark, root, "t")
    val odd = Seq("a,b", "q\"x", "n\nl", "del:[\"x\"]", " sp ")
    pot.upsert((odd :+ "keep").zipWithIndex.toDF("key", "v"))
    pot.remove(odd.take(3))
    pot.remove(odd.drop(3))
    assert(markerLines(root, 3L).count(_.startsWith("del:")) === 1)
    val del = markerLines(root, 3L).find(_.startsWith("del:")).get
    assert(new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(del.stripPrefix("del:"), classOf[Array[String]]).toSet === odd.toSet)
    assert(pot.get().select("key").as[String].collect().toSeq === Seq("keep"))
    assert(pot.getAt(2L).select("key").as[String].collect().toSet ===
      Set("del:[\"x\"]", " sp ", "keep"))
  }

  test("a remove past the tombstone bound stages the filtered view and writes no del: line") {
    val root = tmpRoot()
    val pot = PotTable(spark, root, "t")
    val bound = graft.kv.PotTable.MaxTombstones
    pot.upsert((0 until bound + 100).map(i => (s"k$i", i)).toDF("key", "v"))
    pot.remove((0 until bound - 10).map(i => s"k$i"))   // gen 2: tombstones
    assert(markerLines(root, 2L).exists(_.startsWith("del:")))
    assert(markerLines(root, 2L).head === markerLines(root, 1L).head)
    pot.remove((bound - 10 until bound + 20).map(i => s"k$i")) // gen 3: folds
    assert(!markerLines(root, 3L).exists(_.startsWith("del:")))
    assert(markerLines(root, 3L).head !== markerLines(root, 1L).head)
    val want = (bound + 20 until bound + 100).map(i => s"k$i" -> i).toMap
    assert(state(pot.get()) === want)
    assert(spark.read.parquet(markerLines(root, 3L).head).count() === 80L)
    // one remove over the bound on its own folds too
    pot.remove(Seq("k0"))                                       // gen 4
    pot.remove((0 until bound + 5).map(i => s"x$i"))            // gen 5
    assert(!markerLines(root, 5L).exists(_.startsWith("del:")))
    assert(state(pot.get()) === want)
  }

  test("vacuum after tombstone commits keeps their base; reads stay correct") {
    val root = tmpRoot()
    val pot = PotTable(spark, root, "t")
    pot.upsert(Seq(("a", 1), ("b", 2), ("c", 3)).toDF("key", "v")) // gen 1
    pot.upsert(Seq(("d", 4)).toDF("key", "v"))                     // gen 2
    pot.remove(Seq("a"))                                           // gen 3
    pot.remove(Seq("b"))                                           // gen 4
    pot.vacuum(retainGenerations = 1)
    assert(stagedDirs(root) ===
      Set(new java.io.File(markerLines(root, 2L).head).getName))
    assert(state(pot.get()) === Map("c" -> 3, "d" -> 4))
    assert(state(pot.getAt(3L)) === Map("b" -> 2, "c" -> 3, "d" -> 4))
    intercept[PotTable.RetentionViolated](pot.getAt(1L))
  }
}
