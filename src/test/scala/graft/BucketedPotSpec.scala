package graft

import graft.kv.{BucketMeta, BucketedPotTable}
import org.scalatest.funsuite.AnyFunSuite

class BucketedPotSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def tmpRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-bkv").toString

  test("BucketMeta.bucketOf equals the pmod(xxhash64(key), n) column writers route by") {
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    val keys = Seq("k1", "k7", "", "naïve-ключ-鍵", "emoji-\uD83D\uDE42")
    // the SQL `bucket(n, key)` function resolves through the catalog
    val ss = spark.newSession()
    ss.conf.set("spark.sql.catalog.graft_fns",
      classOf[graft.sources.GraftFunctionCatalog].getName)
    Seq(1, 4, 8, 16).foreach { n =>
      val byColumn = keys.toDF("key")
        .select(col("key"), pmod(xxhash64(col("key")), lit(n.toLong)).cast("int"))
        .as[(String, Int)].collect().toMap
      val bySql = ss.createDataFrame(keys.map(Tuple1(_))).toDF("key")
        .selectExpr("key", s"graft_fns.ops.bucket($n, key)")
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      keys.foreach { k =>
        assert(BucketMeta.bucketOf(k, n) === byColumn(k), s"key '$k', n = $n")
        assert(bySql(k) === byColumn(k), s"SQL bucket: key '$k', n = $n")
      }
      assert(ss.sql(s"SELECT graft_fns.ops.bucket($n, CAST(NULL AS STRING))")
        .collect().head.isNullAt(0), s"SQL bucket of a null key, n = $n")
    }
  }

  test("upsert rewrites only the buckets containing incoming keys") {
    val root = tmpRoot()
    val pot = BucketedPotTable(spark, root, "t", nBuckets = 16)
    val gen1 = pot.upsert(
      (1 to 200).map(i => (s"k$i", i)).toDF("key", "v"))
    assert(pot.bucketsWrittenAt(gen1).size === 16) // initial load hits all

    // single-key update must touch exactly one bucket
    val gen2 = pot.upsert(Seq(("k1", 999)).toDF("key", "v"))
    assert(pot.bucketsWrittenAt(gen2).size === 1,
      s"single-key upsert rewrote ${pot.bucketsWrittenAt(gen2).size} buckets")

    val state = pot.get().select("key", "v").as[(String, Int)].collect().toMap
    assert(state.size === 200)
    assert(state("k1") === 999)
    assert(state("k2") === 2)
  }

  test("persisted z-order layout (r16): generation-pinned adopt, loud staleness, loud unknown dim, vacuumLayouts retention") {
    import org.apache.spark.sql.functions.{col, pmod}
    val root = tmpRoot()
    val pot = BucketedPotTable(spark, root, "z", nBuckets = 8)
    pot.upsert((0 until 300).map(i => (s"k$i", i.toLong))
      .toDF("key", "v")
      .withColumn("a", pmod(col("v"), org.apache.spark.sql.functions.lit(256L)))
      .withColumn("b", pmod(col("v") * 37, org.apache.spark.sql.functions.lit(256L))))
    // no layout yet: loud
    val e0 = intercept[IllegalStateException] { pot.readClustered("a", 0, 63) }
    assert(e0.getMessage.contains("no z-order layout"))
    val g1 = pot.cluster(Seq("a" -> col("a"), "b" -> col("b")), bucketBits = 4)
    assert(g1 === 1L)
    assert(pot.layoutFresh())
    // pruned read returns exactly the range rows
    val got = pot.readClustered("b", 64, 127)
      .select("key").as[String].collect().toSet
    val want = (0 until 300).filter(i => { val b = (i * 37) % 256; b >= 64 && b <= 127 })
      .map(i => s"k$i").toSet
    assert(got === want)
    // un-clustered dim: loud
    val e1 = intercept[IllegalArgumentException] { pot.readClustered("v", 0, 10) }
    assert(e1.getMessage.contains("not in the clustered set"))
    // store moves on: the layout is STALE and says so by name
    pot.upsert(Seq(("k0", 999L)).toDF("key", "v")
      .withColumn("a", org.apache.spark.sql.functions.lit(231L))
      .withColumn("b", org.apache.spark.sql.functions.lit(3L)))
    val e2 = intercept[IllegalArgumentException] { pot.readClustered("a", 0, 63) }
    assert(e2.getMessage.contains("stale layout"))
    assert(!pot.layoutFresh())
    // re-cluster publishes generation 2; old data dir vacuums away
    val g2 = pot.cluster(Seq("a" -> col("a"), "b" -> col("b")), bucketBits = 4)
    assert(g2 === 2L)
    assert(pot.readClustered("a", 224, 255)
      .filter(col("key") === "k0").count() === 1L)
    val dataRoot = new java.io.File(s"$root/z/_zorder/data")
    assert(dataRoot.listFiles().length === 2)
    pot.vacuumLayouts(retain = 1)
    assert(dataRoot.listFiles().length === 1,
      "vacuumLayouts kept the superseded layout copy")
    // the retained layout still serves
    assert(pot.readClustered("b", 64, 127).count() === want.size.toLong)
  }

  test("remove restages no bucket; the next upsert folds its tombstones") {
    val root = tmpRoot()
    val pot = BucketedPotTable(spark, root, "t", nBuckets = 8)
    pot.upsert((1 to 50).map(i => (s"k$i", i)).toDF("key", "v")) // every bucket live
    val staged = new java.io.File(s"$root/t/data").list().toSet
    val (gen, jobs) = jobsDuring(pot.remove(Seq("k7", "nope")))
    assert((gen, jobs) === ((2L, 0)))
    assert(pot.bucketsWrittenAt(gen).isEmpty)
    assert(new java.io.File(s"$root/t/data").list().toSet === staged)
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    assert(manifestLines(root, gen).filter(_.startsWith("del:")).toSet ===
      Seq("k7", "nope").groupBy(BucketMeta.bucketOf(_, 8)).map { case (b, ks) =>
        s"del:$b:${json.writeValueAsString(ks.sorted.toArray)}" }.toSet)
    assert(recordedSchema(root, gen) === recordedSchema(root, 1L))
    val keys = pot.get().select("key").as[String].collect().toSet
    assert(!keys.contains("k7") && keys.size === 49)
    assert(pot.get("k7").isEmpty)
    // an upsert into k7's bucket restages it without k7: no pending key left
    val b7 = BucketMeta.bucketOf("k7", 8)
    val mate = (51 to 500).map(i => s"k$i").find(BucketMeta.bucketOf(_, 8) == b7).get
    val g3 = pot.upsert(Seq((mate, 1)).toDF("key", "v"))
    assert(pot.bucketsWrittenAt(g3) === Seq(b7))
    val b7Dir = manifestLines(root, g3).find(_.startsWith(s"$b7:")).get
      .stripPrefix(s"$b7:")
    assert(spark.read.parquet(b7Dir).filter($"key" === "k7").isEmpty)
    assert(pot.get().count() === 50L)
    assert(pot.get("k7").isEmpty)
    // a remove that touches no live bucket commits nothing
    val one = BucketedPotTable(spark, root, "one", nBuckets = 8)
    one.upsert(Seq(("k1", 1)).toDF("key", "v"))
    val elsewhere = (2 to 500).map(i => s"k$i")
      .find(BucketMeta.bucketOf(_, 8) != BucketMeta.bucketOf("k1", 8)).get
    assert(one.remove(Seq(elsewhere)) === 1L)
    assert(one.generation === 1L)
  }

  test("removeWhere: predicate sweep restages only matching buckets, no driver key list") {
    import org.apache.spark.sql.functions.col
    val root = tmpRoot()
    val pot = BucketedPotTable(spark, root, "t", nBuckets = 8)
    pot.upsert((1 to 200).map(i => (s"k$i", i)).toDF("key", "v"))
    // sweep v > 190: 10 keys, hashing into a strict subset of buckets —
    // the commit must restage exactly those buckets
    val expected = (1 to 200).filter(_ > 190).map(i => s"k$i")
    val expectedBuckets = expected
      .map(k => spark.range(1).select(
        org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.xxhash64(
            org.apache.spark.sql.functions.lit(k)),
          org.apache.spark.sql.functions.lit(8L)).cast("int"))
        .as[Int].head()).toSet
    val gen = pot.removeWhere(col("v") > 190)
    assert(pot.bucketsWrittenAt(gen).toSet === expectedBuckets,
      s"sweep restaged ${pot.bucketsWrittenAt(gen)} vs $expectedBuckets")
    val keys = pot.get().select("key").as[String].collect().toSet
    assert(keys.size === 190 && expected.forall(!keys.contains(_)))
    // nothing matches: no-op, no generation burned
    assert(pot.removeWhere(col("v") > 1000) === gen)
    // sweep that empties buckets tombstones them (whole-table expiry)
    pot.removeWhere(col("v") > 0)
    assert(pot.get().isEmpty)
  }

  test("removeWhere: NULL-predicate rows SURVIVE, even bucket-co-resident with a match (r15)") {
    // SQL DELETE semantics: delete rows where pred IS TRUE; a row whose
    // predicate evaluates to NULL must survive. nBuckets=1 forces the
    // NULL-pred row into the SAME restaged bucket as the matching row —
    // the shape the r14 advice flagged as silently deleting it.
    import org.apache.spark.sql.functions.col
    val root = tmpRoot()
    val pot = BucketedPotTable(spark, root, "t", nBuckets = 1)
    pot.upsert(Seq(("keep", Some(1)), ("nullv", None), ("drop", Some(10)))
      .toDF("key", "v"))
    pot.removeWhere(col("v") > 5)
    val keys = pot.get().select("key").as[String].collect().toSet
    assert(keys === Set("keep", "nullv"),
      s"NULL-pred row must survive a co-resident restage, got $keys")

    // PotTable.removeWhere: same contract on the unsharded store
    val flat = graft.kv.PotTable(spark, root, "flat")
    flat.upsert(Seq(("keep", Some(1)), ("nullv", None), ("drop", Some(10)))
      .toDF("key", "v"))
    flat.removeWhere(col("v") > 5)
    assert(flat.get().select("key").as[String].collect().toSet
      === Set("keep", "nullv"))
  }

  test("self-describing store (r15): stamped modulus, wrong-count open fails loudly, count-free open resolves") {
    import org.apache.spark.sql.functions.col
    val root = tmpRoot()
    val pot = BucketedPotTable(spark, root, "t", nBuckets = 4)
    pot.upsert((1 to 40).map(i => (s"k$i", i)).toDF("key", "v"))
    // creation stamped the modulus
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$root/t/_meta/buckets")).trim === "4")
    // wrong-count open: LOUD mismatch on any routing path, never a
    // silently-empty point read or a mis-routed write
    val wrong = BucketedPotTable(spark, root, "t", nBuckets = 8)
    intercept[graft.kv.BucketMeta.BucketCountMismatch] { wrong.get("k7") }
    intercept[graft.kv.BucketMeta.BucketCountMismatch] {
      wrong.upsert(Seq(("k7", 700)).toDF("key", "v"))
    }
    // count-free open reads the stored modulus: point get prunes to ONE
    // bucket dir and finds the live key
    val free = BucketedPotTable(spark, root, "t")
    assert(free.get("k7").select("v").as[Int].collect().toSeq === Seq(7))
    assert(free.get("k7").inputFiles
      .map(_.replaceFirst("/[^/]*$", "")).distinct.length === 1)
    free.upsert(Seq(("k7", 700)).toDF("key", "v")) // routing works count-free
    assert(free.get("k7").select("v").as[Int].collect().toSeq === Seq(700))
    // pre-meta legacy store: count-free open fails asking for the count
    // once; a supplied count restamps on the next write
    new scala.reflect.io.Directory(new java.io.File(s"$root/t/_meta"))
      .deleteRecursively()
    intercept[IllegalStateException] {
      BucketedPotTable(spark, root, "t").get("k7")
    }
    val restamp = BucketedPotTable(spark, root, "t", nBuckets = 4)
    restamp.removeWhere(col("v") > 600)
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$root/t/_meta/buckets")).trim === "4")
    assert(BucketedPotTable(spark, root, "t").get("k7").isEmpty)
  }

  test("compact collapses bucket version history and preserves state") {
    val root = tmpRoot()
    val pot = BucketedPotTable(spark, root, "t", nBuckets = 4)
    pot.upsert((1 to 40).map(i => (s"k$i", i)).toDF("key", "v"))
    pot.upsert(Seq(("k1", -1), ("k2", -2)).toDF("key", "v"))
    pot.remove(Seq("k3"))
    val before = pot.get().select("key", "v").as[(String, Int)].collect().toMap
    val gen = pot.compact()
    val after = pot.get().select("key", "v").as[(String, Int)].collect().toMap
    assert(after === before)
    assert(pot.bucketsWrittenAt(gen).size === 4)
    // vacuum drops superseded staged dirs but preserves the current view
    pot.vacuum(retainGenerations = 0)
    val postVacuum = pot.get().select("key", "v").as[(String, Int)].collect().toMap
    assert(postVacuum === before)
  }

  test("concurrent committers: second writer at same generation loses (CAS)") {
    val root = tmpRoot()
    val a = BucketedPotTable(spark, root, "t", nBuckets = 4)
    val b = BucketedPotTable(spark, root, "t", nBuckets = 4)
    a.upsert(Seq(("k", 1)).toDF("key", "v"))
    // both observe gen=1; the slower commit must fail, not corrupt
    val winner = a.upsert(Seq(("k", 2)).toDF("key", "v"))
    intercept[Throwable] {
      // force b to attempt the same generation by replaying marker creation
      val m = new org.apache.hadoop.fs.Path(s"$root/t/_commits/$winner")
      val fs = m.getFileSystem(spark.sessionState.newHadoopConf())
      fs.create(m, false).close()
    }
  }

  test("racing writers never clobber committed data (stage-then-publish)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.util.Try
    val root = tmpRoot()
    val seed = BucketedPotTable(spark, root, "t", nBuckets = 4)
    seed.upsert((1 to 20).map(i => (s"base$i", i)).toDF("key", "v"))
    // two writers with disjoint key sets race from the same base generation
    val fa = Future(Try(BucketedPotTable(spark, root, "t", 4)
      .upsert(Seq(("alpha", 1000)).toDF("key", "v"))))
    val fb = Future(Try(BucketedPotTable(spark, root, "t", 4)
      .upsert(Seq(("beta", 2000)).toDF("key", "v"))))
    val (ra, rb) = (Await.result(fa, 120.seconds), Await.result(fb, 120.seconds))
    assert(ra.isSuccess || rb.isSuccess) // at least one commits
    val state = BucketedPotTable(spark, root, "t", 4).get()
      .select("key", "v").as[(String, Int)].collect().toMap
    // every base row survives regardless of who lost
    (1 to 20).foreach(i => assert(state(s"base$i") === i))
    // a writer's key is present iff its commit succeeded
    assert(state.contains("alpha") === ra.isSuccess)
    assert(state.contains("beta") === rb.isSuccess)
  }

  test("publish is atomic in existence+content: no husk ever observable (r11 race fix)") {
    // Root cause of the historic flake in the racing-writers test below:
    // create-then-write exposed a zero-length marker between create and
    // close, and a reclaimer that caught that window could pass its
    // emptiness re-check, then delete the marker AFTER the creator's
    // read-back had reported success — a lost update (both writers
    // reporting success, one commit gone). The fix publishes local markers
    // via tmp-write + hard-link, so a marker becomes visible fully written
    // or not at all. This watcher would catch the old window within a few
    // generations: it polls marker files as fast as it can while a
    // publisher commits 60 generations, and must never see length 0.
    val root = tmpRoot()
    val commits = new org.apache.hadoop.fs.Path(s"$root/t/_commits")
    val fs = commits.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(commits)
    @volatile var huskSeen = false
    @volatile var done = false
    val watcher = new Thread(() => {
      while (!done) {
        val sts = try fs.listStatus(commits) catch { case _: Throwable => Array.empty[org.apache.hadoop.fs.FileStatus] }
        if (sts.exists(st => st.getPath.getName.forall(_.isDigit) && st.getLen == 0L))
          huskSeen = true
      }
    })
    watcher.start()
    (1 to 60).foreach { g =>
      graft.kv.CommitMarker.publish(
        fs, new org.apache.hadoop.fs.Path(commits, g.toString), s"body-$g")
    }
    done = true
    watcher.join(10000)
    assert(!huskSeen, "a zero-length marker was observable mid-publish — " +
      "link-publish atomicity regressed (CommitMarker.tryCreate)")
  }

  test("N racing writers: reported outcome always matches visible state") {
    // Regression stress for the r11 lost-update fix: every writer's key is
    // present iff that writer's upsert reported success, across a pile of
    // same-base races.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.util.Try
    val root = tmpRoot()
    BucketedPotTable(spark, root, "t", 4)
      .upsert((1 to 8).map(i => (s"base$i", i)).toDF("key", "v"))
    val writers = (1 to 6).map { w =>
      w -> Future(Try(BucketedPotTable(spark, root, "t", 4)
        .upsert(Seq((s"w$w", w * 100)).toDF("key", "v"))))
    }
    val results = writers.map { case (w, f) => w -> Await.result(f, 120.seconds) }
    assert(results.exists(_._2.isSuccess)) // at least one commit lands
    val state = BucketedPotTable(spark, root, "t", 4).get()
      .select("key", "v").as[(String, Int)].collect().toMap
    (1 to 8).foreach(i => assert(state(s"base$i") === i))
    results.foreach { case (w, r) =>
      assert(state.contains(s"w$w") === r.isSuccess,
        s"writer $w reported ${r} but visible=${state.contains(s"w$w")}")
    }
  }

  test("point get reads exactly one bucket; removes and LWW visible; absent key empty") {
    val root = tmpRoot()
    val pot = BucketedPotTable(spark, root, "t", nBuckets = 16)
    pot.upsert((1 to 200).map(i => (s"k$i", i)).toDF("key", "v"))
    pot.upsert(Seq(("k7", 700)).toDF("key", "v"))
    pot.remove(Seq("k9"))
    // the pruned read must open files from exactly ONE bucket dir, while
    // the full scan spans many
    val files = pot.get("k7").inputFiles.map(_.replaceFirst("/[^/]*$", "")).distinct
    assert(files.length === 1, s"point get scanned ${files.toSeq}")
    assert(pot.get().inputFiles
      .map(_.replaceFirst("/[^/]*$", "")).distinct.length > 1)
    assert(pot.get("k7").select("key", "v").as[(String, Int)].collect()
      === Array(("k7", 700)))           // LWW overlay through the pruned path
    assert(pot.get("k9").isEmpty)       // removed key
    assert(pot.get("absent").isEmpty)   // never-present key
  }

  test("upsert stages all touched buckets under ONE writer-unique root") {
    val root = tmpRoot()
    val pot = BucketedPotTable(spark, root, "t", nBuckets = 16)
    pot.upsert((1 to 200).map(i => (s"k$i", i)).toDF("key", "v"))
    // 16 touched buckets, ONE staged root (one Spark write job), not 16
    val dataDirs = new java.io.File(s"$root/t/data").list().toSeq
    assert(dataDirs.count(_.startsWith("g1_")) === 1,
      s"expected a single g1_* staged root, got $dataDirs")
    assert(pot.bucketsWrittenAt(1L).size === 16)
  }

  test("removing a bucket's last key tombstones it; the bucket revives on upsert") {
    val root = tmpRoot()
    val pot = BucketedPotTable(spark, root, "t", nBuckets = 4)
    pot.upsert(Seq(("solo", 1)).toDF("key", "v"))
    pot.remove(Seq("solo"))
    assert(pot.get().isEmpty, "tombstoned bucket still visible")
    pot.upsert(Seq(("next", 2)).toDF("key", "v"))
    assert(pot.get().select("key", "v").as[(String, Int)].collect().toMap
      === Map("next" -> 2))
    // compact after full wipe is also a no-op, not a crash
    pot.remove(Seq("next"))
    assert(pot.compact() === pot.generation)
  }

  test("crash husk: bucketed reader ignores it, next writer reclaims") {
    val root = tmpRoot()
    val pot = BucketedPotTable(spark, root, "t", nBuckets = 4)
    pot.upsert(Seq(("a", 1)).toDF("key", "v"))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.create(new org.apache.hadoop.fs.Path(s"$root/t/_commits/2"), false).close()
    assert(pot.generation === 1L)
    pot.upsert(Seq(("b", 2)).toDF("key", "v"))
    assert(pot.generation === 2L)
    assert(pot.get().select("key", "v").as[(String, Int)].collect().toMap
      === Map("a" -> 1, "b" -> 2))
  }

  test("vacuum keeps an in-flight writer's staged root") {
    val root = tmpRoot()
    val pot = BucketedPotTable(spark, root, "t", nBuckets = 4)
    pot.upsert(Seq(("a", 1)).toDF("key", "v"))
    val inFlight = new java.io.File(s"$root/t/data/g2_feedface")
    inFlight.mkdirs()
    java.nio.file.Files.writeString(inFlight.toPath.resolve("part-0"), "x")
    pot.vacuum(retainGenerations = 0)
    assert(inFlight.exists(), "vacuum deleted a not-yet-committed staging root")
    assert(pot.get().select("key", "v").as[(String, Int)].collect().toMap
      === Map("a" -> 1))
  }

  test("property: random op sequence matches a Map model") {
    val rnd = new scala.util.Random(42)
    val root = tmpRoot()
    val pot = BucketedPotTable(spark, root, "t", nBuckets = 8)
    var model = Map.empty[String, Int]
    (1 to 6).foreach { _ =>
      if (rnd.nextBoolean() || model.isEmpty) {
        val batch = (1 to (1 + rnd.nextInt(20)))
          .map(_ => (s"k${rnd.nextInt(40)}", rnd.nextInt(1000)))
        // LWW within a batch: later duplicates in the SEQ are arbitrary in the
        // DataFrame; dedupe driver-side like a client would (reference client
        // builds a map first, client.go:98-102)
        val asMap = batch.toMap
        pot.upsert(asMap.toSeq.toDF("key", "v"))
        model = model ++ asMap
      } else {
        val dels = (1 to (1 + rnd.nextInt(10))).map(_ => s"k${rnd.nextInt(40)}")
        pot.remove(dels)
        model = model -- dels
      }
    }
    val state = pot.get().select("key", "v").as[(String, Int)].collect().toMap
    assert(state === model)
  }

  test("reshard preserves the overlay state, new table prunes on the new bucket count") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-bpot-rs-spec").toString
    val t = new graft.kv.BucketedPotTable(spark, root, "t", 4)
    t.upsert((1 to 60).map(i => (s"k$i", i)).toDF("key", "v"))
    t.upsert(Seq(("k7", 700), ("k14", 1400)).toDF("key", "v")) // LWW wave
    t.remove(Seq("k30"))
    val wide = t.reshardTo(16)
    // state equality across the bucket-count change
    val oldState = t.get().select("key", "v").as[(String, Int)].collect().toMap
    val newState = wide.get().select("key", "v").as[(String, Int)].collect().toMap
    assert(newState === oldState)
    assert(newState("k7") === 700 && !newState.contains("k30"))
    // fresh history: the reshard is one generation on the new path
    assert(wide.generation === 1L)
    // point gets prune to ONE of the new 16 bucket dirs
    val dirs = wide.get("k7").inputFiles
      .map(_.replaceFirst("/[^/]*$", "")).distinct
    assert(dirs.length === 1, dirs.mkString(","))
    // old table untouched and still serving
    assert(t.get("k7").select("v").as[Int].collect().toSeq === Seq(700))
    new scala.reflect.io.Directory(new java.io.File(root)).deleteRecursively()
  }

  test("bucketed shallow clone (u47, r17): a mid-clone crash resumes " +
    "idempotently, divergent targets refuse loudly, per-bucket vacuum " +
    "reclaims zero borrowed bodies") {
    import spark.implicits._
    import graft.sources.{BucketedPotV2Source, PotV2Source}
    val dir = java.nio.file.Files.createTempDirectory("graft-bclone").toString
    val src = s"$dir/src"; val dst = s"$dir/dst"; val dst2 = s"$dir/dst2"
    val fmt = classOf[BucketedPotV2Source].getName
    val fs = new org.apache.hadoop.fs.Path(src)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def write(rows: Seq[(String, Int)], root: String): Unit =
      rows.map { case (k, v) => ("", k, s"""{"v": $v}""") }
        .toDF("pot_file", "key", "doc_json")
        .write.format(fmt).option("path", root).option("buckets", "4")
        .mode("append").save()
    write((1 to 40).map(i => (s"k$i", i)), src)          // gen 1 per bucket
    write((1 to 10).map(i => (s"k$i", i * 100)), src)    // gen 2 (LWW wave)
    def state(root: String): Map[String, Long] =
      spark.read.format(fmt).option("path", root).option("buckets", "4")
        .load().select($"key", org.apache.spark.sql.functions
          .get_json_object($"doc_json", "$.v").cast("long"))
        .as[(String, Long)].collect().toMap
    // CRASH SIMULATION: a partial clone is exactly a per-bucket marker
    // prefix — clone bucket 0 by hand, then "crash" before the rest
    PotV2Source.clonePot(fs,
      BucketedPotV2Source.bucketPot(src, 0),
      BucketedPotV2Source.bucketPot(dst, 0))
    // resume: the full clone completes the remaining buckets
    val cloned = BucketedPotV2Source.cloneBucketedPot(src, dst)
    assert(state(dst) === state(src))
    assert(graft.kv.BucketMeta.stored(fs,
      new org.apache.hadoop.fs.Path(dst)).contains(4))
    // idempotent re-run: same (bucket, generation) set, nothing rewritten
    assert(BucketedPotV2Source.cloneBucketedPot(src, dst).toSet ===
      cloned.toSet)
    // per-bucket ownership guard: the clone's vacuums reclaim NOTHING
    // (pre-covering bodies are all borrowed source artifacts)
    (0 until 4).foreach { b =>
      assert(PotV2Source.vacuumSnapshots(fs,
        BucketedPotV2Source.bucketPot(dst, b)).isEmpty, s"bucket $b")
    }
    // divergence: a write on the clone, then a re-clone attempt = LOUD
    write(Seq(("k1", 999)), dst)
    val diverged = intercept[IllegalArgumentException] {
      BucketedPotV2Source.cloneBucketedPot(src, dst)
    }
    assert(diverged.getMessage.contains("refusing to overwrite"),
      diverged.getMessage)
    // and the divergent write never touched the source
    assert(state(src)("k1") === 100L)
    // a non-bucketed source refuses the bucketed form by name
    val notStore = intercept[IllegalArgumentException] {
      BucketedPotV2Source.cloneBucketedPot(s"$dir/nosuch", dst2)
    }
    assert(notStore.getMessage.contains("_meta/buckets"), notStore.getMessage)
    new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("bucketed TIMESTAMP AS OF (u55, r18): between-commits pins the " +
    "earlier generation; a crashed statement's window reads pre-statement " +
    "before AND after recovery; predating everything fails named") {
    import spark.implicits._
    import graft.sources.{BucketedPotV2Source, BucketedStmtLog, PotV2Source}
    val dir = java.nio.file.Files.createTempDirectory("bpotasof").toString
    val fmt = classOf[BucketedPotV2Source].getName
    def pause(after: Long): Long = {
      while (System.currentTimeMillis() <= after + 2) Thread.sleep(2)
      val t = System.currentTimeMillis(); Thread.sleep(3); t
    }
    def readAsOf(root: String, ts: Long): Map[String, Long] =
      spark.read.format(fmt).option("path", root).option("buckets", "4")
        .option("timestampAsOf", ts.toString).load()
        .select($"key", org.apache.spark.sql.functions
          .get_json_object($"doc_json", "$.v").cast("long"))
        .as[(String, Long)].collect().toMap
    def write(root: String, rows: Seq[(String, Int)]): Unit =
      rows.map { case (k, v) => ("", k, s"""{"v": $v}""") }
        .toDF("pot_file", "key", "doc_json")
        .write.format(fmt).option("path", root).option("buckets", "4")
        .mode("append").save()
    val root = s"$dir/store"
    val t0 = System.currentTimeMillis() - 10
    write(root, (1 to 20).map(i => (s"k$i", i)))
    val tA = pause(System.currentTimeMillis())
    write(root, (1 to 5).map(i => (s"k$i", i * 100)))
    val tB = pause(System.currentTimeMillis())
    // between the two completed statements: wave 1 exactly, never a mix
    assert(readAsOf(root, tA) === (1 to 20).map(i => s"k$i" -> i.toLong).toMap)
    assert(readAsOf(root, tB) ===
      ((6 to 20).map(i => s"k$i" -> i.toLong) ++
        (1 to 5).map(i => s"k$i" -> i * 100L)).toMap)
    // predating the first commit: NAMED decline, never a silent empty
    val e = intercept[Exception] { readAsOf(root, t0) }
    assert(e.getMessage.contains("predates"), e.getMessage)
    // CRASH: intent up, exactly one bucket committed, no complete — an
    // instant inside the window reads the pre-statement state, and must
    // KEEP reading it after recovery journals the window
    val base = BucketedPotV2Source.headVector(storeFs(root), root, 4)
    val key = "crash-row"
    BucketedStmtLog.begin(storeFs(root), root, "asof-crash",
      BucketedStmtLog.intentBody("insert", "asof-crash", truncate = false,
        Long.MaxValue, Seq(0, 1, 2, 3),
        (0 to 3).map(b => b -> base.getOrElse(b, 0L)).toMap, Map.empty))
    Seq(("", key, """{"v": 999}""")).toDF("pot_file", "key", "doc_json")
      .write.format(classOf[PotV2Source].getName)
      .option("path", BucketedPotV2Source.bucketPot(root,
        BucketMeta.bucketOf(key, 4)))
      .mode("append").save()
    val tMid = pause(System.currentTimeMillis())
    val preStatement = readAsOf(root, tB)
    assert(readAsOf(root, tMid) === preStatement,
      "mid-statement instant observed a prefix-applied statement")
    // roll forward (journals [intent, recovery) under _stmts/closed)
    BucketedStmtLog.complete(storeFs(root), root, "asof-crash", Seq.empty)
    val tDone = pause(System.currentTimeMillis())
    assert(readAsOf(root, tMid) === preStatement,
      "recovery rewrote history: a mid-window instant saw the statement")
    assert(readAsOf(root, tDone).get(key) === Some(999L),
      "post-done instant missed the completed statement")
    new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("statement-journal checkpoint + retention (r19): capsAt/history " +
    "read checkpoint + tail, folded tail markers retire, expired windows " +
    "drop, a corrupt intent husk never wedges completion") {
    import spark.implicits._
    import graft.sources.{BucketedPotV2Source, BucketedStmtLog}
    val dir = java.nio.file.Files.createTempDirectory("bpotckpt").toString
    val root = s"$dir/store"
    val fmt = classOf[BucketedPotV2Source].getName
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def write(rows: Seq[(String, Int)]): Unit =
      rows.map { case (k, v) => ("", k, s"""{"v": $v}""") }
        .toDF("pot_file", "key", "doc_json")
        .write.format(fmt).option("path", root).option("buckets", "4")
        .mode("append").save()
    def tailCount: Long = {
      val cd = new org.apache.hadoop.fs.Path(root, "_stmts/closed")
      if (fs.exists(cd)) fs.listStatus(cd).count(_.getLen > 0).toLong else 0L
    }
    write((1 to 20).map(i => (s"k$i", i)))       // closed window 1
    write((1 to 8).map(i => (s"k$i", i * 10)))   // closed window 2
    write((9 to 16).map(i => (s"k$i", i * 10)))  // closed window 3
    // a window spanning a known instant (the capsAt probe)
    val base = BucketedPotV2Source.headVector(storeFs(root), root, 4)
    BucketedStmtLog.begin(storeFs(root), root, "ckpt-span",
      BucketedStmtLog.intentBody("insert", "ckpt-span", truncate = false,
        Long.MaxValue, Seq(0, 1, 2, 3),
        (0 to 3).map(b => b -> base.getOrElse(b, 0L)).toMap, Map.empty))
    Thread.sleep(3)
    val tMid = System.currentTimeMillis()
    Thread.sleep(3)
    BucketedStmtLog.complete(storeFs(root), root, "ckpt-span", Seq.empty)
    assert(tailCount === 4L)
    val capsBefore = BucketedStmtLog.capsAt(root, tMid)
    assert(capsBefore.nonEmpty, "the spanning window must cap at tMid")
    val histBefore = BucketedStmtLog.history(root).toSet
    // checkpoint with a wide horizon: everything retained, tail folds to 0
    val (e1, ret1, drop1) = BucketedStmtLog.checkpoint(root, 3600000L)
    assert(ret1 === 4L && drop1 === 0L && tailCount === 0L)
    // journal reads are UNMOVED across the boundary
    assert(BucketedStmtLog.capsAt(root, tMid) === capsBefore)
    assert(BucketedStmtLog.history(root).toSet === histBefore)
    // post-checkpoint statements accrue in the tail, next fold absorbs
    // them AND the prior checkpoint (exactly one ckpt marker survives)
    write((17 to 20).map(i => (s"k$i", i * 10))) // closed window 5
    assert(tailCount === 1L)
    val (e2, ret2, _) = BucketedStmtLog.checkpoint(root, 3600000L)
    assert(e2 === e1 + 1 && ret2 === 5L && tailCount === 0L)
    val ckptDir = new org.apache.hadoop.fs.Path(root, "_stmts/ckpt")
    assert(graft.kv.CommitMarker.committedGenerations(fs, ckptDir)
      === Seq(e2))
    assert(BucketedStmtLog.capsAt(root, tMid) === capsBefore)
    // zero-horizon retention: every window's instants are past retention
    Thread.sleep(3)
    val (_, ret3, drop3) = BucketedStmtLog.checkpoint(root, 0L)
    assert(ret3 === 0L && drop3 === 5L)
    assert(BucketedStmtLog.capsAt(root, tMid) === Map.empty)
    // ADVICE r19: a corrupt (unparseable) intent husk must never wedge
    // complete() — the barrier drops, the window is just not journaled
    val husk = new org.apache.hadoop.fs.Path(root, "_stmts/open/husk-q")
    val out = fs.create(husk, false)
    out.write("not json".getBytes("UTF-8")); out.close()
    BucketedStmtLog.complete(storeFs(root), root, "husk-q", Seq.empty) // must not throw
    assert(!fs.exists(husk), "completion must drop the corrupt barrier")
    assert(!BucketedStmtLog.history(root).exists(_._1 == "husk-q"))
    new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("clonePot head publish is staged-then-renamed (r18 ADVICE): a torn " +
    "head beside complete markers is repaired on resume, no staging husks " +
    "survive a successful clone") {
    import spark.implicits._
    import graft.sources.PotV2Source
    val dir = java.nio.file.Files.createTempDirectory("graft-tornclone").toString
    val src = s"$dir/src/data.json"; val dst = s"$dir/dst/data.json"
    val fmt = classOf[PotV2Source].getName
    val fs = new org.apache.hadoop.fs.Path(src)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def write(rows: Seq[(String, Int)]): Unit =
      rows.map { case (k, v) => ("", k, s"""{"v": $v}""") }
        .toDF("pot_file", "key", "doc_json")
        .write.format(fmt).option("path", src).mode("append").save()
    write((1 to 30).map(i => (s"k$i", i)))
    write((1 to 5).map(i => (s"k$i", i * 10)))
    PotV2Source.clonePot(fs, src, dst)
    val srcLen = fs.getFileStatus(new org.apache.hadoop.fs.Path(src)).getLen
    assert(fs.getFileStatus(new org.apache.hadoop.fs.Path(dst)).getLen === srcLen)
    // no staging husk after a successful clone
    val husks = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/dst"))
      .map(_.getPath.getName).filter(_.startsWith(".clone-stage-"))
    assert(husks.isEmpty, husks.mkString(","))
    // TORN HEAD: simulate the pre-fix crash artifact — markers complete,
    // data.json truncated mid-copy. A resume must REFRESH it, not adopt.
    val full = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dst))
    java.nio.file.Files.write(java.nio.file.Paths.get(dst),
      java.util.Arrays.copyOf(full, full.length / 2))
    PotV2Source.clonePot(fs, src, dst)
    assert(fs.getFileStatus(new org.apache.hadoop.fs.Path(dst)).getLen === srcLen)
    val state = spark.read.format(fmt).option("path", dst).load()
      .select($"key", org.apache.spark.sql.functions
        .get_json_object($"doc_json", "$.v").cast("long"))
      .as[(String, Long)].collect().toMap
    assert(state.size === 30 && state("k1") === 10L && state("k30") === 30L)
    new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("ensure_stats on a bucketed-store ROOT analyzes every bucket " +
    "(u70, r19): deleted sidecar backfilled, the rest report present") {
    val store = s"${tmpRoot()}/es"
    (1 to 40).map(i => ("", s"k$i", s"""{"v": $i}"""))
      .toDF("pot_file", "key", "doc_json")
      .write.format(classOf[graft.sources.BucketedPotV2Source].getName)
      .option("path", store).option("buckets", "4").mode("append").save()
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val buckets = graft.sources.BucketedPotV2Source
      .existingBuckets(storeFs(store), store, 4)
    assert(buckets.nonEmpty)
    val b0dir = new org.apache.hadoop.fs.Path(
      graft.sources.BucketedPotV2Source.bucketPot(store, buckets.head))
      .getParent
    val z = fs.listStatus(b0dir).map(_.getPath)
      .filter(_.getName.startsWith(".zmap-"))
    assert(z.length === 1, "bucket commit should have stamped a sidecar")
    fs.delete(z.head, false)
    val ss = spark.newSession()
    ss.conf.set("spark.sql.catalog.graft_fns",
      classOf[graft.sources.GraftFunctionCatalog].getName)
    val statuses = ss.sql(s"CALL graft_fns.sys.ensure_stats('$store')")
      .collect().map(_.getString(0)).toSeq
    assert(statuses.length === buckets.length,
      s"expected one status per bucket, got $statuses")
    assert(statuses.count(_.endsWith(":written")) === 1,
      s"exactly the stripped bucket should backfill: $statuses")
    assert(statuses.count(_.endsWith(":present")) === buckets.length - 1)
    // the backfilled sidecar is live: a second CALL is all-present
    val again = ss.sql(s"CALL graft_fns.sys.ensure_stats('$store')")
      .collect().map(_.getString(0)).toSeq
    assert(again.forall(_.endsWith(":present")), s"second pass: $again")
  }

  private def fsOf(root: String) = new org.apache.hadoop.fs.Path(root)
    .getFileSystem(spark.sessionState.newHadoopConf())

  /** Generation `g`'s manifest lines. */
  private def manifestLines(root: String, g: Long): Seq[String] =
    graft.kv.CommitMarker.bodyAt(fsOf(root),
      new org.apache.hadoop.fs.Path(s"$root/t/_commits"), g).get.split("\n").toSeq

  /** A bucketed store's FileSystem, as its statements take it. */
  private def storeFs(root: String) = graft.sources.BucketedPotV2Source.fsOf(root)

  private def recordedSchema(root: String, g: Long)
      : Option[org.apache.spark.sql.types.StructType] =
    manifestLines(root, g).find(_.startsWith("schema:")).map(l =>
      org.apache.spark.sql.types.DataType.fromJson(l.stripPrefix("schema:"))
        .asInstanceOf[org.apache.spark.sql.types.StructType])

  test("upsert evolves schema: a new column widens the table, untouched buckets read null") {
    val root = tmpRoot()
    val pot = BucketedPotTable(spark, root, "t", nBuckets = 4)
    pot.upsert((1 to 20).map(i => (s"k$i", i)).toDF("key", "v"))
    // gen 2 adds column w to one key's bucket only
    pot.upsert(Seq(("k1", 10, "x")).toDF("key", "v", "w"))
    assert(pot.bucketsWrittenAt(2L).size === 1)
    val g2 = pot.get().select($"key", $"v", $"w").as[(String, Int, Option[String])]
      .collect().map { case (k, v, w) => k -> ((v, w)) }.toMap
    assert(g2 === (1 to 20).map(i => s"k$i" -> ((i, None))).toMap
      + ("k1" -> ((10, Some("x")))))
    val untouched = (2 to 20).map(i => s"k$i")
      .find(k => !pot.get(k).isEmpty && pot.get(k).columns.contains("w")).get
    assert(pot.get(untouched).select("w").as[Option[String]].collect().toSeq
      === Seq(None))
    // whole-document LWW: the narrow re-write drops k1's w
    pot.upsert(Seq(("k1", 100)).toDF("key", "v"))
    assert(pot.get("k1").select($"v", $"w").as[(Int, Option[String])]
      .collect().toSeq === Seq((100, None)))
    // time travel: generation 1 still has the narrow schema
    assert(!pot.getAt(1L).schema.fieldNames.contains("w"))
  }

  test("upsert keeps one row per key at every generation, the first included") {
    val root = tmpRoot()
    val pot = BucketedPotTable(spark, root, "t", nBuckets = 16)
    pot.upsert(Seq(("k", 1), ("k", 2), ("j", 3)).toDF("key", "v"))
    val first = pot.get().select("key", "v").as[(String, Int)].collect()
    assert(first.map(_._1).sorted.toSeq === Seq("j", "k"))
    assert(Set(1, 2).contains(first.toMap.apply("k")))
    // duplicates landing in buckets no generation has written yet
    val dups = (1 to 8).map(i => s"d$i")
    pot.upsert((dups ++ dups).map(k => (k, 5)).toDF("key", "v"))
    assert(pot.get().select("key").as[String].collect().sorted.toSeq
      === (Seq("j", "k") ++ dups).sorted)
  }

  test("every writer records the table schema the parquet reader returns for its staged data") {
    import org.apache.spark.sql.functions.{col, lit}
    val root = tmpRoot()
    val pot = BucketedPotTable(spark, root, "t", nBuckets = 4)
    val rich = (1 to 12).map(i =>
      (s"k$i", s"$i.250", java.sql.Timestamp.valueOf(s"2024-01-${10 + i} 03:04:05"),
        Seq(i, 2), Map("x" -> i), (i, Seq(("c", i.toLong)))))
      .toDF("key", "d", "ts", "arr", "m", "st")
      .withColumn("d", col("d").cast("decimal(12,3)"))
      .withColumn("n", lit(5))
    pot.upsert(rich)                                                    // gen 1
    pot.upsert(Seq(("k1", "x")).toDF("key", "w"))                       // gen 2, widens
    pot.remove(Seq("k2", "k3"))                                         // gen 3
    pot.removeWhere(col("key") === "k4")                                // gen 4
    pot.compact()                                                       // gen 5
    assert(pot.generation === 5L)
    // the remove (gen 3) stages nothing: it keeps gen 2's data and schema
    assert(pot.bucketsWrittenAt(3L).isEmpty)
    (1L to 5L).foreach { g =>
      val staged = manifestLines(root, if (g == 3L) 2L else g)
        .filterNot(_.startsWith("schema:"))
        .map(l => l.drop(l.indexOf(':') + 1)).find(_.nonEmpty).get
      val stagedRoot = new org.apache.hadoop.fs.Path(staged).getParent.toString
      val inferred = spark.read.parquet(stagedRoot).drop("_b").schema
      assert(recordedSchema(root, g) === Some(inferred), s"generation $g")
      assert(pot.getAt(g).schema === inferred, s"generation $g")
    }
    assert(recordedSchema(root, 2L).get.fieldNames.toSet ===
      (rich.columns.toSet + "w" + "_modified"))
    val cols = rich.columns.toSeq.map(col)
    assert(pot.getAt(1L).select(cols: _*).collect().toSet === rich.collect().toSet)
    // k1's whole document was replaced by gen 2's (key, w) row
    assert(pot.get().filter(col("key") =!= "k1").select(cols: _*).collect().toSet
      === rich.filter(!col("key").isin("k1", "k2", "k3", "k4")).collect().toSet)
    assert(pot.get("k1").select($"w", $"d").as[(String, Option[BigDecimal])]
      .collect().toSeq === Seq(("x", None)))
  }

  test("get, getAt and point get of a committed generation launch no Spark job") {
    val root = tmpRoot()
    val pot = BucketedPotTable(spark, root, "t", nBuckets = 4)
    pot.upsert((1 to 20).map(i => (s"k$i", i)).toDF("key", "v"))
    pot.upsert(Seq(("k1", 10)).toDF("key", "v"))
    val (all, allJobs) = jobsDuring(pot.get())
    val (first, firstJobs) = jobsDuring(pot.getAt(1L))
    val (point, pointJobs) = jobsDuring(pot.get("k1"))
    assert((allJobs, firstJobs, pointJobs) === ((0, 0, 0)))
    assert(all.select("key", "v").as[(String, Int)].collect().toMap ===
      (1 to 20).map(i => s"k$i" -> i).toMap + ("k1" -> 10))
    assert(first.count() === 20L)
    assert(point.select("v").as[Int].collect().toSeq === Seq(10))
  }

  test("manifests without a schema line (older stores) still read; the next write records the merged schema") {
    val root = tmpRoot()
    val pot = BucketedPotTable(spark, root, "t", nBuckets = 4)
    pot.upsert((1 to 20).map(i => (s"k$i", i)).toDF("key", "v"))
    pot.upsert(Seq(("k1", 10, "x")).toDF("key", "v", "w"))
    val fs = fsOf(root)
    (1L to 2L).foreach { g =>
      val marker = new org.apache.hadoop.fs.Path(s"$root/t/_commits/$g")
      val body = manifestLines(root, g).filterNot(_.startsWith("schema:"))
      fs.delete(marker, false)
      graft.kv.CommitMarker.publish(fs, marker, body.mkString("\n"))
      assert(recordedSchema(root, g) === None)
    }
    val k1Bucket = pot.bucketsWrittenAt(2L).head
    assert(pot.get().select("key", "v").as[(String, Int)].collect().toMap ===
      (1 to 20).map(i => s"k$i" -> i).toMap + ("k1" -> 10))
    assert(pot.get("k1").select("w").as[String].collect().toSeq === Seq("x"))
    // a write to another bucket: w, held only by k1's bucket, stays
    val other = (2 to 20).map(i => s"k$i").find { k =>
      pot.upsert(Seq((k, 0)).toDF("key", "v"))
      pot.bucketsWrittenAt(pot.generation) != Seq(k1Bucket)
    }.get
    assert(recordedSchema(root, pot.generation).get.fieldNames.contains("w"))
    val state = pot.get().select($"key", $"w").as[(String, Option[String])]
      .collect().toMap
    assert(state("k1") === Some("x"))
    assert(state(other) === None)
  }

  test("a bucketed point get of a pending key returns an empty frame") {
    val root = tmpRoot()
    val pot = BucketedPotTable(spark, root, "t", nBuckets = 4)
    pot.upsert((1 to 20).map(i => (s"k$i", i)).toDF("key", "v"))
    pot.remove(Seq("k3"))
    val (point, jobs) = jobsDuring(pot.get("k3"))
    assert(jobs === 0)
    assert(point.isEmpty)
    assert(point.schema === pot.get().schema)
    assert(pot.get("k4").select("v").as[Int].collect().toSeq === Seq(4))
    assert(pot.getAt(1L).filter($"key" === "k3").count() === 1L)
    assert(pot.getAt(2L).filter($"key" === "k3").isEmpty)
  }

  test("bucketed tombstones fold on removeWhere and compact; keys with a comma, quote and newline round-trip") {
    val root = tmpRoot()
    val pot = BucketedPotTable(spark, root, "t", nBuckets = 4)
    val odd = Seq("a,b", "q\"x", "n\nl", "del:1:[]")
    pot.upsert(((1 to 20).map(i => s"k$i") ++ odd).zipWithIndex.toDF("key", "v"))
    pot.remove(odd)                                        // gen 2
    pot.remove(Seq("k1", "k2"))                            // gen 3
    def keys = pot.get().select("key").as[String].collect().toSet
    assert(keys === (3 to 20).map(i => s"k$i").toSet)
    assert(pot.getAt(2L).select("key").as[String].collect().toSet ===
      (1 to 20).map(i => s"k$i").toSet)
    pot.removeWhere($"key" === "k3")                       // gen 4
    assert(keys === (4 to 20).map(i => s"k$i").toSet)
    val g5 = pot.compact()
    assert(!manifestLines(root, g5).exists(_.startsWith("del:")))
    val dirs = manifestLines(root, g5).filterNot(_.startsWith("schema:"))
      .map(l => l.drop(l.indexOf(':') + 1)).filter(_.nonEmpty)
    assert(spark.read.parquet(dirs: _*).select("key").as[String].collect().toSet
      === keys)
    odd.foreach(k => assert(pot.get(k).isEmpty, k))
  }

  test("a bucketed remove past the tombstone bound restages its buckets and writes no del: line") {
    val root = tmpRoot()
    val pot = BucketedPotTable(spark, root, "t", nBuckets = 4)
    val bound = graft.kv.PotTable.MaxTombstones
    pot.upsert((0 until bound + 100).map(i => (s"k$i", i)).toDF("key", "v"))
    pot.remove((0 until 10).map(i => s"k$i"))                  // gen 2: tombstones
    assert(manifestLines(root, 2L).exists(_.startsWith("del:")))
    val g3 = pot.remove((10 until bound + 20).map(i => s"k$i")) // gen 3: folds
    assert(!manifestLines(root, g3).exists(_.startsWith("del:")))
    assert(pot.bucketsWrittenAt(g3) === (0 until 4))
    val want = (bound + 20 until bound + 100).map(i => s"k$i" -> i).toMap
    assert(pot.get().select("key", "v").as[(String, Int)].collect().toMap === want)
    assert(pot.get("k5").isEmpty)
  }

  test("bucketed upsert stages through one exchange in at most three Spark jobs") {
    val root = tmpRoot()
    val pot = BucketedPotTable(spark, root, "t", nBuckets = 8)
    pot.upsert((1 to 200).map(i => (s"k$i", i)).toDF("key", "v"))
    val batch = (150 to 260).map(i => (s"k$i", -i)).toDF("key", "v")
    val (gen, plans) = plansDuring(pot.upsert(batch))
    val staging = plans.filter(_.contains("InsertIntoHadoopFsRelationCommand"))
    assert(staging.size === 1, plans.mkString("\n---\n"))
    // the tree line of every shuffle, not BroadcastExchange
    assert("""\bExchange \(\d+\)""".r.findAllIn(staging.head).size === 1,
      staging.head)
    val (_, jobs) = jobsDuring(pot.upsert(batch.withColumn("v", $"v" - 1)))
    assert(jobs <= 3, s"$jobs jobs")
    val state = pot.get().select("key", "v").as[(String, Int)].collect().toMap
    assert(state.size === 260)
    assert(state("k149") === 149 && state("k150") === -151 && state("k260") === -261)
    assert(gen === 2L && pot.generation === 3L)
    // an empty batch touches no bucket and commits nothing
    assert(pot.upsert(batch.filter($"v" > 0)) === 3L)
  }
}
