package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.operators.AnnIndex
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.{lit, pmod, xxhash64}
import org.scalatest.funsuite.AnyFunSuite

/** The ANN index publish protocol: stage-then-publish over
  * [[graft.kv.CommitMarker]] — one CAS winner, losers adopt the winner's
  * pointer, crash husks are reclaimed instead of wedging readers.
  */
class AnnIndexSpec extends AnyFunSuite {
  import TestSpark._

  private def fsFor(p: Path) =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  private def writeTinyIndex(out: String): Unit = {
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("vec_id", "label")
      .write.mode("overwrite").parquet(out)
  }

  test("two concurrent cold-start builders: one marker winner, both adopt the same root") {
    val d = s"race-${java.util.UUID.randomUUID()}"
    val builds = new AtomicInteger(0)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    def build(s: org.apache.spark.sql.SparkSession, src: String, out: String): Unit = {
      barrier.await() // both builders committed to building before either publishes
      builds.incrementAndGet()
      writeTinyIndex(out)
    }
    val results = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = (1 to 2).map { _ =>
      new Thread(() => results.add(
        AnnIndex.locateIndex(spark, d, "graft-annidx-test")(build)))
    }
    threads.foreach(_.start())
    threads.foreach(_.join(60000))
    assert(results.size === 2)
    assert(builds.get() === 2, "both cold-start builders should have built")
    val Seq(r1, r2) = results.toArray(Array.empty[String]).toSeq
    assert(r1 === r2, s"builders disagree on the published root: $r1 vs $r2")
    // the adopted root is complete and readable
    assert(spark.read.parquet(r1).count() === 2)
    // the marker content names exactly that root
    val marker = new Path(new Path(r1).getParent, "commits/1")
    assert(graft.kv.CommitMarker.read(fsFor(marker), marker) === r1)
    // exactly one data dir survives: the loser's orphan was deleted
    val dataDirs = fsFor(marker).listStatus(new Path(r1).getParent)
      .filter(_.getPath.getName.startsWith("data-"))
    assert(dataDirs.length === 1, s"orphan staging dir not cleaned: ${dataDirs.toSeq}")
  }

  test("a crashed publisher's zero-length husk is reclaimed, not a 120s wedge") {
    val d = s"husk-${java.util.UUID.randomUUID()}"
    // plant the husk where the marker will go
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
    val base = new Path(
      new java.io.File(System.getProperty("java.io.tmpdir")).toURI.toString,
      s"graft-annidx-test-$key-v2")
    val marker = new Path(base, "commits/1")
    val fs = fsFor(marker)
    fs.create(marker, false).close() // zero-length: crash husk
    val t0 = System.nanoTime()
    val root = AnnIndex.locateIndex(spark, d, "graft-annidx-test") {
      (_, _, out) => writeTinyIndex(out)
    }
    val elapsedMs = (System.nanoTime() - t0) / 1000000
    assert(spark.read.parquet(root).count() === 2)
    assert(graft.kv.CommitMarker.read(fs, marker) === root)
    assert(elapsedMs < 60000, s"husk reclaim took ${elapsedMs}ms — wedged?")
  }

  test("incremental generations: append commits gen 2, reads union, no rebuild") {
    val d = s"incr-${java.util.UUID.randomUUID()}"
    val base = new Path(
      new java.io.File(System.getProperty("java.io.tmpdir")).toURI.toString,
      s"graft-incrtest-$d-v2")
    val builds = new AtomicInteger(0)
    def gen(g: Long, rows: Seq[(Long, String)]): String =
      AnnIndex.ensureGeneration(spark, base, g) { out =>
        import spark.implicits._
        builds.incrementAndGet()
        rows.toDF("vec_id", "label").write.mode("overwrite").parquet(out)
      }
    val g1 = gen(1L, Seq((1L, "a"), (2L, "b")))
    val g2 = gen(2L, Seq((3L, "c")))
    assert(g1 !== g2)
    assert(builds.get() === 2)
    // union of committed generations sees base + delta
    assert(spark.read.parquet(g1, g2).count() === 3)
    // re-locating either generation adopts its marker, builds nothing
    assert(gen(1L, Seq.empty) === g1)
    assert(gen(2L, Seq.empty) === g2)
    assert(builds.get() === 2)
    // each generation's marker names exactly its data dir
    val fs = fsFor(base)
    assert(graft.kv.CommitMarker.read(fs, new Path(base, "commits/1")) === g1)
    assert(graft.kv.CommitMarker.read(fs, new Path(base, "commits/2")) === g2)
  }

  test("compact folds generations via the marker CAS; lookups identical; vacuum reclaims") {
    import spark.implicits._
    val base = new Path(
      new java.io.File(System.getProperty("java.io.tmpdir")).toURI.toString,
      s"graft-cmptest-${java.util.UUID.randomUUID()}-v2")
    def writeGen(g: Long, rows: Seq[(Long, String, String)]): String =
      AnnIndex.ensureGeneration(spark, base, g) { out =>
        rows.toDF("vec_id", "label", "sigp")
          .write.partitionBy("sigp").mode("overwrite").parquet(out)
      }
    val g1 = writeGen(1L, Seq((1L, "a", "s00"), (2L, "b", "s01"), (3L, "c", "s00")))
    writeGen(2L, Seq((4L, "d", "s01"), (5L, "e", "s10")))
    // the s2-shaped pruned lookup whose results must survive compaction
    def lookup(): Seq[(Long, String)] =
      AnnIndex.readCommitted(spark, base).filter($"sigp" === "s01")
        .select($"vec_id", $"label").as[(Long, String)].collect().sorted.toSeq
    val before = lookup()
    assert(before === Seq((2L, "b"), (4L, "d")))
    // fold commits as generation 3; pre-fold generations stay intact
    assert(AnnIndex.compact(spark, base).isDefined)
    assert(AnnIndex.committedGenerations(spark, base).map(_._1) === Seq(1L, 2L, 3L))
    assert(lookup() === before)
    assert(AnnIndex.readCommitted(spark, base).count() === 5)
    // compacting an already-folded chain with no new deltas is a no-op
    assert(AnnIndex.compact(spark, base) === None)
    // appends continue as generations ON TOP of the fold
    writeGen(4L, Seq((6L, "f", "s01")))
    assert(lookup() === Seq((2L, "b"), (4L, "d"), (6L, "f")))
    // vacuum deletes only subsumed data dirs; markers + results unaffected
    assert(AnnIndex.vacuumFolded(spark, base) === Seq(1L, 2L))
    assert(!fsFor(base).exists(new Path(g1)))
    assert(graft.kv.CommitMarker.read(fsFor(base), new Path(base, "commits/1")) === g1)
    assert(lookup() === Seq((2L, "b"), (4L, "d"), (6L, "f")))
  }

  test("fold preserves per-row gen provenance; readCommitted survives vacuum") {
    import spark.implicits._
    val base = new Path(
      new java.io.File(System.getProperty("java.io.tmpdir")).toURI.toString,
      s"graft-gentest-${java.util.UUID.randomUUID()}-v2")
    def writeGen(g: Long, rows: Seq[(Long, String, String)]): String =
      AnnIndex.ensureGeneration(spark, base, g) { out =>
        rows.toDF("vec_id", "label", "sigp")
          .write.partitionBy("sigp").mode("overwrite").parquet(out)
      }
    writeGen(1L, Seq((1L, "a", "s00"), (2L, "b", "s01")))
    writeGen(2L, Seq((3L, "c", "s01")))
    def provenance(): Seq[(Long, Int)] =
      AnnIndex.readCommitted(spark, base)
        .select($"vec_id", $"gen").as[(Long, Int)].collect().sorted.toSeq
    val before = provenance()
    assert(before === Seq((1L, 1), (2L, 1), (3L, 2)))
    // after fold + vacuum the ORIGINAL generations are still reported —
    // the fold carries gen as a data column, not its own number
    assert(AnnIndex.compact(spark, base).isDefined)
    assert(AnnIndex.vacuumFolded(spark, base) === Seq(1L, 2L))
    assert(provenance() === before)
    // a second vacuum cycle with nothing newly subsumed reports nothing
    assert(AnnIndex.vacuumFolded(spark, base) === Seq.empty)
  }

  test("an append losing the generation CAS re-offers its delta; rows never drop") {
    import spark.implicits._
    val base = new Path(
      new java.io.File(System.getProperty("java.io.tmpdir")).toURI.toString,
      s"graft-apptest-${java.util.UUID.randomUUID()}-v2")
    def writeGen(g: Long, rows: Seq[(Long, String, String)]): String =
      AnnIndex.ensureGeneration(spark, base, g) { out =>
        rows.toDF("vec_id", "label", "sigp")
          .write.partitionBy("sigp").mode("overwrite").parquet(out)
      }
    writeGen(1L, Seq((1L, "a", "s00")))
    writeGen(2L, Seq((2L, "b", "s01")))
    // the append stages its delta, then a competing fold takes the next
    // generation BEFORE our marker CAS — the deterministic interleave of
    // the append-vs-compact race (the build hook runs pre-publish)
    var folded: Option[String] = None
    val (gen, dir) = AnnIndex.append(spark, base) { out =>
      Seq((3L, "c", "s01")).toDF("vec_id", "label", "sigp")
        .write.partitionBy("sigp").mode("overwrite").parquet(out)
      folded = AnnIndex.compact(spark, base) // wins gen 3 first
    }
    assert(folded.isDefined, "competing fold should have won gen 3")
    assert(gen === 4L, "append must land AFTER the fold it lost to")
    assert(spark.read.parquet(dir).count() === 1)
    // nothing lost: base rows via the fold + the appended delta
    val rows = AnnIndex.readCommitted(spark, base)
      .select($"vec_id").as[Long].collect().sorted.toSeq
    assert(rows === Seq(1L, 2L, 3L))
  }

  test("tombstones: delete hides ids, re-insert survives, fold makes it physical") {
    import spark.implicits._
    val base = new Path(
      new java.io.File(System.getProperty("java.io.tmpdir")).toURI.toString,
      s"graft-deltest-${java.util.UUID.randomUUID()}-v2")
    def writeGen(g: Long, rows: Seq[(Long, String, String)]): String =
      AnnIndex.ensureGeneration(spark, base, g) { out =>
        rows.toDF("vec_id", "label", "sigp")
          .write.partitionBy("sigp").mode("overwrite").parquet(out)
      }
    writeGen(1L, Seq((1L, "a", "s00"), (2L, "b", "s01"), (3L, "c", "s00")))
    def visible(): Seq[(Long, String, Int)] =
      AnnIndex.readCommitted(spark, base)
        .select($"vec_id", $"label", $"gen")
        .as[(Long, String, Int)].collect().sorted.toSeq
    // delete ids 1 and 3 (plus an absent id — a no-op, not an error)
    val (dg, _) = AnnIndex.delete(spark, base,
      Seq(1L, 3L, 99L).toDF("vec_id"))
    assert(dg === 2L)
    assert(visible() === Seq((2L, "b", 1)))
    // re-insert vec_id 1 AFTER the delete: the later generation survives
    // the earlier tombstone (max-tombstone-gen resolution)
    AnnIndex.append(spark, base) { out =>
      Seq((1L, "a2", "s00")).toDF("vec_id", "label", "sigp")
        .write.partitionBy("sigp").mode("overwrite").parquet(out)
    }
    val afterReinsert = Seq((1L, "a2", 3), (2L, "b", 1))
    assert(visible() === afterReinsert)
    // the fold resolves tombstones physically: same answer, and the fold
    // dir holds exactly the two survivors (no tombstone rows, no deleted
    // rows) with provenance intact
    assert(AnnIndex.compact(spark, base).isDefined)
    assert(visible() === afterReinsert)
    val foldDir = AnnIndex.committedGenerations(spark, base).last._2
    assert(spark.read.parquet(foldDir).count() === 2)
    // vacuum reclaims the pre-fold dirs (incl. the tombstone generation);
    // the resolved answer is unchanged
    assert(AnnIndex.vacuumFolded(spark, base) === Seq(1L, 2L, 3L))
    assert(visible() === afterReinsert)
  }

  test("recluster: drift gate, fold preserves live vectors + drops tombstones, refreshed cells cover the live set") {
    import spark.implicits._
    val base = new Path(
      new java.io.File(System.getProperty("java.io.tmpdir")).toURI.toString,
      s"graft-reclust-${java.util.UUID.randomUUID()}-v2")
    def vecs(ids: Range, offset: Float): Seq[(Long, String, Seq[Float], String)] =
      ids.map(i => (i.toLong, s"l${i % 3}",
        Seq.tabulate(operators.KMeans.Dim)(j =>
          offset + ((i * 7 + j) % 13) * 0.01f),
        s"s0${i % 2}"))
    def writeRows(out: String, rows: Seq[(Long, String, Seq[Float], String)]): Unit =
      rows.toDF("vec_id", "label", "embedding", "sigp")
        .write.partitionBy("sigp").mode("overwrite").parquet(out)
    AnnIndex.ensureGeneration(spark, base, 1L)(out =>
      writeRows(out, vecs(0 until 30, 0f)))
    // bootstrap: no reference centroids yet — recluster fires at ANY
    // threshold and publishes the fold with the IVF sidecars
    val first = AnnIndex.recluster(spark, base, Long.MaxValue - 1)
    assert(first.isDefined, "bootstrap recluster did not fire")
    val fs = fsFor(base)
    assert(fs.exists(new Path(first.get, "_centroids")))
    assert(fs.exists(new Path(first.get, "_cells")))
    def liveIds(): Set[Long] = AnnIndex.readCommitted(spark, base)
      .select($"vec_id").as[Long].collect().toSet
    assert(liveIds() === (0L until 30L).toSet)
    // quiet index: fresh centroids equal the reference — shift 0, no-op
    // even at threshold 0 (the gate that keeps maintenance crons cheap)
    assert(AnnIndex.recluster(spark, base, 0L).isEmpty,
      "recluster rewrote a quiet index")
    // drift wave (far-offset vectors) + a takedown
    AnnIndex.append(spark, base)(out =>
      writeRows(out, vecs(30 until 40, 50f)))
    AnnIndex.delete(spark, base, Seq(35L).toDF("vec_id"))
    // drift below an absurd threshold: still gated
    assert(AnnIndex.recluster(spark, base, Long.MaxValue - 1).isEmpty,
      "gate ignored the threshold under drift")
    // real threshold: recluster folds — every live vector preserved,
    // the tombstoned row physically gone, cells cover exactly the live set
    val second = AnnIndex.recluster(spark, base, 0L)
    assert(second.isDefined, "drifted index did not recluster")
    val expected = (0L until 40L).toSet - 35L
    assert(liveIds() === expected)
    assert(spark.read.parquet(second.get).count() === expected.size.toLong,
      "fold kept tombstoned/dropped rows physically")
    val cellIds = spark.read.parquet(s"${second.get}/_cells")
      .select($"vec_id").as[Long].collect().toSet
    assert(cellIds === expected, "cell assignment diverged from the live set")
    // the drifted wave separates: its vectors land in cells the original
    // corpus does not occupy (the refreshed centroids actually moved)
    val cellsOf = spark.read.parquet(s"${second.get}/_cells")
      .select($"vec_id", $"cellp").as[(Long, String)].collect().toMap
    val oldCells = (0L until 30L).map(cellsOf)
    val newCells = (30L until 40L).filterNot(_ == 35L).map(cellsOf)
    assert(newCells.toSet.intersect(oldCells.toSet).isEmpty,
      "drifted vectors share cells with the original corpus — centroids did not adapt")
  }

  test("headFold short-circuits only when the head is a fold carrying centroids") {
    import spark.implicits._
    val base = new Path(
      new java.io.File(System.getProperty("java.io.tmpdir")).toURI.toString,
      s"graft-headfold-${java.util.UUID.randomUUID()}-v2")
    def writeRows(out: String, ids: Range): Unit =
      ids.map(i => (i.toLong, s"l${i % 3}",
          Seq.tabulate(operators.KMeans.Dim)(j => ((i * 7 + j) % 13) * 0.01f),
          s"s0${i % 2}"))
        .toDF("vec_id", "label", "embedding", "sigp")
        .write.partitionBy("sigp").mode("overwrite").parquet(out)
    // empty chain: no head at all
    assert(AnnIndex.headFold(spark, base).isEmpty)
    AnnIndex.ensureGeneration(spark, base, 1L)(out => writeRows(out, 0 until 30))
    // plain insert head: the cron must NOT skip maintenance
    assert(AnnIndex.headFold(spark, base).isEmpty,
      "a plain insert generation was mistaken for a fresh fold")
    val fold = AnnIndex.recluster(spark, base, Long.MaxValue - 1)
    assert(fold.isDefined)
    // fold head: short-circuit returns the SAME dir recluster published
    assert(AnnIndex.headFold(spark, base) === fold,
      "headFold missed the fold at the head")
    // an append supersedes the fold: short-circuit must disengage again
    AnnIndex.append(spark, base)(out => writeRows(out, 30 until 35))
    assert(AnnIndex.headFold(spark, base).isEmpty,
      "headFold returned a superseded fold — appended data would be invisible")
  }

  test("delete resolves buckets from _idmap sidecars, never scanning the index (r11)") {
    import spark.implicits._
    val base = new Path(
      new java.io.File(System.getProperty("java.io.tmpdir")).toURI.toString,
      s"graft-idmaptest-${java.util.UUID.randomUUID()}-v2")
    // a generation written through buildFiltered's layout INCLUDING the
    // sidecar: stage data, then idmap, exactly as the build path does
    def writeMapped(g: Long, rows: Seq[(Long, String, String)]): String =
      AnnIndex.ensureGeneration(spark, base, g) { out =>
        rows.toDF("vec_id", "label", "sigp")
          .write.partitionBy("sigp").mode("overwrite").parquet(out)
        spark.read.parquet(out).select($"vec_id", $"sigp")
          .withColumn("idb",
            pmod(xxhash64($"vec_id"), lit(AnnIndex.IdMapBuckets)))
          .repartition($"idb")
          .write.partitionBy("idb").mode("overwrite").parquet(s"$out/_idmap")
      }
    writeMapped(1L, Seq((1L, "a", "s00"), (2L, "b", "s01"), (3L, "c", "s00")))
    writeMapped(2L, Seq((4L, "d", "s01")))

    // plan audit: the pair resolution reads ONLY _idmap files, prunes the
    // idb partitions down to the delete ids' hash buckets, and never
    // touches the generations' data files
    val pairsDf = AnnIndex.deletePairs(spark, base, Seq(1L, 3L).toDF("vec_id"))
    val plan = pairsDf.queryExecution.executedPlan.toString
    // every FileScan is pruned by the delete ids' idb hash buckets...
    assert("PartitionFilters: \\[idb#\\d+ IN \\(".r.findFirstIn(plan).isDefined,
      s"no idb partition filter in plan:\n$plan")
    // ...and reads only the two sidecar columns — a generation DATA scan
    // would surface `embedding`/`label` in a ReadSchema
    val readSchemas = "ReadSchema: struct<[^>]*>".r.findAllIn(plan).toSeq
    assert(readSchemas.nonEmpty && readSchemas.forall(rs =>
      !rs.contains("label") && !rs.contains("embedding")),
      s"delete plan read generation data columns:\n$plan")
    assert(pairsDf.as[(Long, String)].collect().sorted.toSeq
      === Seq((1L, "s00"), (3L, "s00")))

    // end-to-end through the sidecar route: same visible-state semantics
    // as the fallback (hide, re-insert survives, fold physical)
    val (dg, _) = AnnIndex.delete(spark, base, Seq(1L, 3L, 99L).toDF("vec_id"))
    assert(dg === 3L)
    assert(AnnIndex.readCommitted(spark, base)
      .select($"vec_id").as[Long].collect().sorted.toSeq === Seq(2L, 4L))
  }

  test("second locate call reads the marker, builds nothing") {
    val d = s"cache-${java.util.UUID.randomUUID()}"
    val builds = new AtomicInteger(0)
    def build(s: org.apache.spark.sql.SparkSession, src: String, out: String): Unit = {
      builds.incrementAndGet()
      writeTinyIndex(out)
    }
    val first = AnnIndex.locateIndex(spark, d, "graft-annidx-test")(build)
    val second = AnnIndex.locateIndex(spark, d, "graft-annidx-test")(build)
    assert(first === second)
    assert(builds.get() === 1)
  }

  test("two concurrent NSW graph publishers adopt one committed root; one data dir remains") {
    // private fixture copy: the artifact root is keyed by the fixture dir
    val dir = java.nio.file.Files.createTempDirectory("graft-nswpub")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/embeddings.parquet"),
      dir.resolve("embeddings.parquet"))
    val d = dir.toString
    val base = AnnIndex.indexBase("graft-nsw", d)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 2).map { _ =>
      new Thread(() =>
        try results.add(operators.Similarity.publishedNswGraph(spark, d))
        catch { case e: Throwable => errors.add(e) })
    }
    try {
      threads.foreach(_.start())
      threads.foreach(_.join(180000))
      assert(errors.isEmpty, s"publisher failed: ${errors.peek()}")
      val Seq(r1, r2) = results.toArray(Array.empty[String]).toSeq
      assert(r1 === r2, s"publishers disagree on the committed root: $r1 vs $r2")
      assert(new Path(r1).getParent.toString === base.toString)
      assert(spark.read.parquet(r1).count() > 0)
      val dataDirs = fsFor(base).listStatus(base)
        .filter(_.getPath.getName.startsWith("data-"))
      assert(dataDirs.length === 1, s"orphan staging dir left: ${dataDirs.toSeq}")
    } finally {
      fsFor(base).delete(base, true)
      new scala.reflect.io.Directory(dir.toFile).deleteRecursively()
    }
  }
}
