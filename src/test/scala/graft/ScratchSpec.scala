package graft

import java.io.File
import java.nio.file.{Files, Paths}

import graft.kv.PotTable
import org.scalatest.funsuite.AnyFunSuite

/** Scratch directories are deleted whether the entry that made them
  * succeeds or throws: no run may leave a `graft-*` dir in the JVM tmpdir.
  */
class ScratchSpec extends AnyFunSuite {
  import TestSpark._

  /** Names in the JVM tmpdir that `createTempDirectory(prefix)` would
    * produce: the prefix followed by digits only.
    */
  private def tmpEntries(prefix: String): Set[String] = {
    val re = (java.util.regex.Pattern.quote(prefix) + "\\d+").r
    Option(new File(System.getProperty("java.io.tmpdir")).list())
      .getOrElse(Array.empty[String])
      .filter(n => re.matches(n)).toSet
  }

  private def assertNoNewDirs(prefix: String)(run: => Unit): Unit = {
    val before = tmpEntries(prefix)
    run
    val leaked = tmpEntries(prefix) -- before
    assert(leaked.isEmpty, s"leaked scratch dirs: $leaked")
  }

  test("withDir deletes its dir when the body throws, and rethrows") {
    var seen: String = null
    val e = intercept[IllegalStateException] {
      Scratch.withDir("graft-scratchspec") { dir =>
        seen = dir
        Files.writeString(Paths.get(dir, "f"), "x")
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage === "boom")
    assert(seen != null && !new File(seen).exists(), s"$seen survived")
  }

  test("a pinned frame counts and collects after its dir is gone") {
    import spark.implicits._
    var seen: String = null
    val df = Scratch.pinned("graft-scratchspec") { dir =>
      seen = dir
      Seq(3, 1, 2).toDF("v").write.parquet(s"$dir/t")
      spark.read.parquet(s"$dir/t").orderBy("v")
    }
    assert(seen != null && !new File(seen).exists(), s"$seen survived")
    assert(df.count() === 3L)
    assert(df.as[Int].collect().toSeq === Seq(1, 2, 3))
  }

  test("pinned deletes its dir when the body throws, and rethrows") {
    var seen: String = null
    val e = intercept[IllegalStateException] {
      Scratch.pinned("graft-scratchspec", ram = true) { dir =>
        seen = dir
        Files.writeString(Paths.get(dir, "f"), "x")
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage === "boom")
    assert(seen != null && !new File(seen).exists(), s"$seen survived")
  }

  test("u49 over a missing data dir throws and leaves no graft-u49 dir") {
    assertNoNewDirs("graft-u49") {
      intercept[Exception] {
        SparkEntry.queries("u49_agg_minmax_pushdown")(spark, "/nonexistent-sf")
      }
    }
  }

  test("restore of a bundle with a ../ entry throws and leaves no graft-restore dir") {
    import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
    val bundle = Files.createTempFile("graft-scratchspec", ".tar.gz")
    val out = new TarArchiveOutputStream(
      new java.util.zip.GZIPOutputStream(Files.newOutputStream(bundle)))
    try {
      val bytes = "x".getBytes("UTF-8")
      val entry = new TarArchiveEntry("../x")
      entry.setSize(bytes.length.toLong)
      out.putArchiveEntry(entry)
      out.write(bytes)
      out.closeArchiveEntry()
    } finally out.close()
    try {
      assertNoNewDirs("graft-restore") {
        val e = Scratch.withDir("graft-scratchspec") { root =>
          intercept[java.io.IOException] {
            PotTable.restore(spark, bundle.toString, root)
          }
        }
        assert(e.getMessage.contains("traversal"), e.getMessage)
      }
    } finally Files.delete(bundle)
  }

  test("u10 leaves no graft-potv2 dir after a successful run") {
    assertNoNewDirs("graft-potv2") {
      assert(SparkEntry.queries("u10_dsv2_pot_read")(spark, sf).count() === 25L)
    }
  }

  test("kv6 leaves no graft-pot dir after a successful run") {
    assertNoNewDirs("graft-pot") {
      assert(SparkEntry.queries("kv6_snapshot")(spark, sf).count() === 1L)
    }
  }
}
