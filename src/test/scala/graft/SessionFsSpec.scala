package graft

import graft.kv.{BucketedPotTable, CommitMarker, PotTable}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** `fwd:` is the local file system under a scheme that only a session's
  * conf knows (`fs.fwd.impl`): the zero-fault base for a fault-injecting
  * FileSystem. */
class FwdFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("fwd:///")
  override def getScheme: String = "fwd"
}

/** `fwd:` whose listings leave out the paths in [[LaggingFileSystem.hidden]]:
  * a head lookup then misses the newest commit, as a reader that lists
  * before a concurrent commit lands does. */
class LaggingFileSystem extends FwdFileSystem {
  override def listStatus(p: org.apache.hadoop.fs.Path)
      : Array[org.apache.hadoop.fs.FileStatus] =
    super.listStatus(p).filterNot(st =>
      LaggingFileSystem.hidden.contains(st.getPath.toUri.getPath))
}

object LaggingFileSystem {
  val hidden: java.util.Set[String] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
}

/** Every store path resolves its FileSystems from the conf of the session
  * that runs it. Each case registers `fwd:` on a fresh session only, with
  * Hadoop's JVM-wide FileSystem cache off for the scheme, so no earlier
  * lookup can make a later one pass. The SparkContext's conf and a default
  * `Configuration` do not know the scheme: a path that resolves through
  * them fails with `No FileSystem for scheme "fwd"`. Commit markers on
  * `fwd:` take `CommitMarker`'s create-then-write branch, the one object
  * stores use.
  */
class SessionFsSpec extends AnyFunSuite {
  import TestSpark.spark

  private val potFmt = classOf[graft.sources.PotV2Source].getName
  private val storeFmt = classOf[graft.sources.BucketedPotV2Source].getName

  /** Runs `body(session, root)` with `fwd:` registered on `session` only,
    * `session` active, and `root` a fresh `fwd:` directory. */
  private def onFwd(body: (SparkSession, String) => Unit): Unit =
    onFwdWith(classOf[FwdFileSystem])(body)

  /** [[onFwd]] with `impl` serving the `fwd:` scheme. */
  private def onFwdWith(impl: Class[_ <: FwdFileSystem])(
      body: (SparkSession, String) => Unit): Unit =
    Scratch.withDir("graft-fwd") { dir =>
      val s = spark.newSession()
      s.conf.set("fs.fwd.impl", impl.getName)
      s.conf.set("fs.fwd.impl.disable.cache", "true")
      s.conf.set("spark.sql.catalog.graft_fns",
        classOf[graft.sources.GraftFunctionCatalog].getName)
      val prev = SparkSession.getActiveSession
      SparkSession.setActiveSession(s)
      try body(s, s"fwd:$dir")
      finally prev.fold(SparkSession.clearActiveSession())(
        SparkSession.setActiveSession)
    }

  private def docs(s: SparkSession, kvs: (String, Int)*) = {
    import s.implicits._
    kvs.map { case (k, v) => ("", k, s"""{"v": $v}""") }
      .toDF("pot_file", "key", "doc_json")
  }

  private def keys(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.select("key").collect().map(_.getString(0)).toSet

  test("fwd: PotTable upsert, get, remove and replace with a txn") {
    onFwd { (s, root) =>
      import s.implicits._
      val pot = PotTable(s, root, "t")
      pot.upsert(Seq(("a", 1), ("b", 2)).toDF("key", "v"))
      pot.remove(Seq("a"))
      // the remove is a tombstone marker over generation 1's staged data
      val marker = CommitMarker.read(
        new org.apache.hadoop.fs.Path(root).getFileSystem(
          s.sessionState.newHadoopConf()),
        new org.apache.hadoop.fs.Path(s"$root/t/_commits/2"))
      assert(marker.split("\n").last === """del:["a"]""")
      assert(pot.get().select("key").as[String].collect().toSeq === Seq("b"))
      assert(pot.getAt(1L).count() === 2L)
      pot.replace(Seq(("b", 3), ("c", 4)).toDF("key", "v"),
        pot.generation, Some("app" -> 7L))
      assert(pot.get().select("key", "v").as[(String, Int)].collect().toMap
        === Map("b" -> 3, "c" -> 4))
      assert(pot.generation === 3L)
      assert(pot.txnVersion("app") === Some(7L))
    }
  }

  test("fwd: BucketedPotTable upsert, get and point get") {
    onFwd { (s, root) =>
      import s.implicits._
      val pot = BucketedPotTable(s, root, "t", nBuckets = 4)
      pot.upsert((1 to 12).map(i => (s"k$i", i)).toDF("key", "v"))
      pot.upsert(Seq(("k1", 100)).toDF("key", "v"))
      assert(pot.get().count() === 12L)
      assert(pot.get("k1").select("v").as[Int].collect().toSeq === Seq(100))
      assert(pot.remove(Seq("k1", "k2")) === 3L)
      assert(pot.bucketsWrittenAt(3L).isEmpty)
      assert(pot.get("k1").isEmpty)
      assert(pot.get().count() === 10L)
      pot.upsert(Seq(("k1", 7)).toDF("key", "v"))
      assert(pot.get("k1").select("v").as[Int].collect().toSeq === Seq(7))
      assert(pot.get().count() === 11L)
    }
  }

  test("fwd: DSv2 pot append, overwrite and read") {
    onFwd { (s, root) =>
      val pot = s"$root/p/data.json"
      def read = s.read.format(potFmt).option("path", pot).load()
      docs(s, "a" -> 1).write.format(potFmt).option("path", pot)
        .mode("append").save()
      docs(s, "b" -> 2).write.format(potFmt).option("path", pot)
        .mode("append").save()
      assert(keys(read) === Set("a", "b"))
      docs(s, "c" -> 3).write.format(potFmt).option("path", pot)
        .mode("overwrite").save()
      assert(keys(read) === Set("c"))
    }
  }

  test("fwd: SQL DELETE and MERGE through the delta writer") {
    onFwd { (s, root) =>
      import s.implicits._
      val pot = s"$root/p/data.json"
      docs(s, "a1" -> 1, "a2" -> 2, "b1" -> 3).write.format(potFmt)
        .option("path", pot).mode("overwrite").save()
      val tbl = s"graft_fns.pot.`$pot`"
      // doc_json shapes decline the metadata delete: row-level rewrite
      s.sql(s"DELETE FROM $tbl WHERE doc_json LIKE '%3%'")
      assert(keys(s.table(tbl)) === Set("a1", "a2"))
      Seq(("a1", """{"v": -1}""", "u"), ("a2", "null", "d"),
          ("n1", """{"v": 9}""", "i"))
        .toDF("key", "doc", "op").createOrReplaceTempView("fwd_src")
      s.sql(
        s"""MERGE INTO $tbl t USING fwd_src u ON t.key = u.key
           |WHEN MATCHED AND u.op = 'd' THEN DELETE
           |WHEN MATCHED THEN UPDATE SET doc_json = u.doc
           |WHEN NOT MATCHED THEN INSERT (pot_file, key, doc_json)
           |  VALUES ('', u.key, u.doc)""".stripMargin)
      assert(s.sql(s"SELECT key, doc_json FROM $tbl").as[(String, String)]
        .collect().toMap === Map("a1" -> """{"v":-1}""", "n1" -> """{"v":9}"""))
    }
  }

  test("fwd: bucketed DSv2 write and read") {
    onFwd { (s, root) =>
      val store = s"$root/store"
      def read = s.read.format(storeFmt).option("path", store).load()
      docs(s, (1 to 12).map(i => s"k$i" -> i): _*).write.format(storeFmt)
        .option("path", store).option("buckets", "4").mode("append").save()
      assert(keys(read) === (1 to 12).map(i => s"k$i").toSet)
      assert(keys(read.filter("key = 'k3'")) === Set("k3"))
    }
  }

  test("fwd: PotV2 micro-batch read") {
    onFwd { (s, root) =>
      val pot = s"$root/p/data.json"
      docs(s, "a" -> 1, "b" -> 2).write.format(potFmt).option("path", pot)
        .mode("overwrite").save()
      docs(s, "c" -> 3).write.format(potFmt).option("path", pot)
        .mode("append").save()
      val q = s.readStream.format(potFmt).option("path", pot).load()
        .writeStream.format("memory").queryName("fwd_feed")
        .option("checkpointLocation", s"${root.stripPrefix("fwd:")}/chk")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
      assert(keys(s.table("fwd_feed")) === Set("a", "b", "c"))
    }
  }

  test("fwd: a graft_fns maintenance CALL") {
    onFwd { (s, root) =>
      val pot = s"$root/p/data.json"
      docs(s, "a" -> 1).write.format(potFmt).option("path", pot)
        .mode("overwrite").save()
      docs(s, "b" -> 2).write.format(potFmt).option("path", pot)
        .mode("overwrite").save()
      // generation 1's snapshot body sits below the covering snapshot
      val deleted = s.sql(s"CALL graft_fns.sys.vacuum_pot('$pot')")
        .collect().map(_.getString(0)).toSeq
      assert(deleted.size === 1 && deleted.head.contains(".snap-"),
        deleted.toString)
      assert(keys(s.read.format(potFmt).option("path", pot).load())
        === Set("b"))
    }
  }

  test("fwd: a remove that loses the CAS throws CommitConflict and leaves nothing on disk") {
    onFwdWith(classOf[LaggingFileSystem]) { (s, root) =>
      import s.implicits._
      val dir = root.stripPrefix("fwd:")
      def files: Set[String] = {
        def walk(f: java.io.File): Seq[String] =
          if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f.getPath)
        walk(new java.io.File(dir)).toSet
      }
      val pot = PotTable(s, root, "t")
      val store = BucketedPotTable(s, root, "b", nBuckets = 4)
      Seq(Seq(("a", 1), ("b", 2)), Seq(("c", 3))).foreach { batch =>
        pot.upsert(batch.toDF("key", "v"))
        store.upsert(batch.toDF("key", "v"))
      }
      // both tables' removers read generation 1 as the head
      Seq("t", "b").foreach(t => LaggingFileSystem.hidden.add(s"$dir/$t/_commits/2"))
      try {
        assert((pot.generation, store.generation) === ((1L, 1L)))
        val before = files
        val many = (0 to PotTable.MaxTombstones).map(i => s"x$i")
        val (_, jobs) = TestSpark.jobsDuring {
          intercept[PotTable.CommitConflict](pot.remove(Seq("a")))
          intercept[PotTable.CommitConflict](store.remove(Seq("a")))
        }
        assert(jobs === 0)
        // the folding remove stages data first, then deletes it
        intercept[PotTable.CommitConflict](pot.remove(many))
        intercept[PotTable.CommitConflict](store.remove(Seq("a") ++ many))
        assert(files === before)
      } finally LaggingFileSystem.hidden.clear()
      Seq(pot.get(), store.get()).foreach { df =>
        assert(df.select("key").as[String].collect().toSet === Set("a", "b", "c"))
      }
      assert((pot.generation, store.generation) === ((2L, 2L)))
    }
  }
}
