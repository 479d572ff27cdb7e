package graft

import graft.sources.PotJson
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Ingestion of the reference's native data.json format, using the exact
  * fixture shapes from the reference's own docs/tests (FIXTURES.md A1/A3).
  */
class PotJsonSpec extends AnyFunSuite {
  /** A bucketed store's FileSystem, as its statements take it. */
  private def storeFs(root: String) = graft.sources.BucketedPotV2Source.fsOf(root)

  /** Age an open statement past its lease: re-publish its intent with
    * the publish stamp `ts` at the epoch. */
  private def ageIntent(root: String, qid: String): Unit = {
    val fs = storeFs(root)
    val open = new org.apache.hadoop.fs.Path(root, s"_stmts/open/$qid")
    val intent = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(graft.kv.CommitMarker.read(fs, open))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    intent.put("ts", 0L)
    fs.delete(open, false)
    graft.kv.CommitMarker.publish(fs, open, intent.toString)
  }

  import TestSpark._

  private def writePot(dir: java.nio.file.Path, name: String, json: String): Unit = {
    val d = dir.resolve(name)
    java.nio.file.Files.createDirectories(d)
    java.nio.file.Files.writeString(d.resolve("data.json"), json)
  }

  // landmarks example, reference docs/howto_opa.md:67-86
  private val landmarks =
    """{"sagrada-familia": {"id": "sagrada-familia", "age": 141},
      | "eiffel-tower": {"id": "eiffel-tower", "age": 136}}""".stripMargin

  // nested testStruct, reference client_test.go:18-29
  private val nested =
    """{"test": {"id": "test", "age": 10, "path": ["a", "b"],
      | "NiceThings": [{"name": "n1"}, {"name": "n2"}]}}""".stripMargin

  test("reads a pot data.json map into (key, doc) rows") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("potjson")
    writePot(dir, "landmarks", landmarks)
    val schema = StructType(Seq(
      StructField("id", StringType), StructField("age", IntegerType)))
    val df = PotJson.read(spark, s"$dir/landmarks/data.json", schema)
    val rows = df.select("key", "id", "age")
      .as[(String, String, Int)].collect().toSet
    assert(rows === Set(
      ("sagrada-familia", "sagrada-familia", 141),
      ("eiffel-tower", "eiffel-tower", 136)))
  }

  test("parses nested documents (arrays + array-of-struct)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("potjson")
    writePot(dir, "t", nested)
    val schema = StructType(Seq(
      StructField("id", StringType),
      StructField("age", IntegerType),
      StructField("path", ArrayType(StringType)),
      StructField("NiceThings", ArrayType(StructType(Seq(
        StructField("name", StringType)))))))
    val row = PotJson.read(spark, s"$dir/t/data.json", schema).collect().head
    assert(row.getAs[String]("key") === "test")
    assert(row.getAs[Seq[String]]("path") === Seq("a", "b"))
    assert(row.getAs[Seq[org.apache.spark.sql.Row]]("NiceThings")
      .map(_.getString(0)) === Seq("n1", "n2"))
  }

  test("glob ingestion reads many pots in parallel and migrate() lands in PotTable") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("potjson")
    writePot(dir, "p1", """{"a": {"id": "a", "age": 1}}""")
    writePot(dir, "p2", """{"b": {"id": "b", "age": 2}}""")
    val schema = StructType(Seq(
      StructField("id", StringType), StructField("age", IntegerType)))
    val all = PotJson.read(spark, s"$dir/*/data.json", schema)
    assert(all.count() === 2)
    assert(all.select("pot_file").distinct().count() === 2)

    val root = java.nio.file.Files.createTempDirectory("potjson-out").toString
    val withKeyCol = s"$dir/*/data.json"
    val gen = PotJson.migrate(spark, withKeyCol, schema, root, "merged")
    assert(gen === 1L)
    val merged = graft.kv.PotTable(spark, root, "merged").get()
    assert(merged.select("key").as[String].collect().toSet === Set("a", "b"))
  }

  test("export writes data.json and migrate(export(pot)) round-trips") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("potjson-rt").toString
    val pot = graft.kv.PotTable(spark, root, "src")
    pot.upsert(Seq(("a", "id-a", 1), ("b", "id-b", 2))
      .toDF("key", "id", "age"))
    val out = java.nio.file.Files.createTempDirectory("potjson-exp")
      .resolve("t/data.json").toString
    PotJson.export(spark, root, "src", out)
    // the exported object is the reference's native shape: key -> doc map,
    // with no underscore-prefixed internal columns leaking
    val raw = PotJson.readRaw(spark, out)
    assert(raw.select("key").as[String].collect().toSet === Set("a", "b"))
    assert(!raw.select("doc_json").as[String].collect()
      .exists(_.contains("_modified")))
    // migrate the export into a fresh pot: contents reproduce exactly
    val schema = StructType(Seq(
      StructField("id", StringType), StructField("age", IntegerType)))
    PotJson.migrate(spark, out, schema, root, "dst")
    val back = graft.kv.PotTable(spark, root, "dst").get()
      .select($"key", $"id", $"age").as[(String, String, Int)].collect().toSet
    assert(back === Set(("a", "id-a", 1), ("b", "id-b", 2)))
  }

  test("PotV2Source (DSv2) matches PotJson.readRaw field-for-field") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("potv2")
    writePot(dir, "landmarks", landmarks)
    writePot(dir, "t", nested)
    def parsed(df: org.apache.spark.sql.DataFrame) = df
      .select($"key",
        org.apache.spark.sql.functions.get_json_object($"doc_json", "$.id").as("id"),
        org.apache.spark.sql.functions.get_json_object($"doc_json", "$.age").as("age"))
      .as[(String, String, String)].collect().toSet
    val v2 = spark.read
      .format(classOf[graft.sources.PotV2Source].getName)
      .option("path", s"$dir/*/data.json").load()
    val v1 = PotJson.readRaw(spark, s"$dir/*/data.json")
    assert(parsed(v2) === parsed(v1))
    assert(parsed(v2).map(_._1) === Set("sagrada-familia", "eiffel-tower", "test"))
  }

  test("PotV2Source plans one partition per pot object and prunes columns") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("potv2p")
    (1 to 4).foreach(i => writePot(dir, s"p$i", s"""{"k$i": {"id": "k$i"}}"""))
    val df = spark.read
      .format(classOf[graft.sources.PotV2Source].getName)
      .option("path", s"$dir/*/data.json").load()
    assert(df.rdd.getNumPartitions === 4)
    val keys = df.select("key")
    assert(keys.columns === Array("key"))
    assert(keys.as[String].collect().toSet === Set("k1", "k2", "k3", "k4"))
    // pruning reached the scan: the physical BatchScan's output is key-only
    val scanLine = keys.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("BatchScan")).getOrElse("")
    assert(scanLine.contains("key") && !scanLine.contains("doc_json"), scanLine)
  }

  test("PotV2Source pushes pot_file filters to planning and key filters to the reader") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("potv2f")
    (1 to 4).foreach(i => writePot(dir, s"p$i",
      s"""{"k$i": {"id": "k$i"}, "other$i": {"id": "o$i"}}"""))
    val df = spark.read
      .format(classOf[graft.sources.PotV2Source].getName)
      .option("path", s"$dir/*/data.json").load()
    // pot_file equality prunes partitions at planning: 1 of 4 objects read
    val one = df.filter($"pot_file" === s"file:$dir/p2/data.json")
    assert(one.rdd.getNumPartitions === 1, "pot_file filter must prune objects")
    assert(one.select("key").as[String].collect().toSet === Set("k2", "other2"))
    // key prefix filter is applied by the reader (and is exact)
    val ks = df.filter($"key".startsWith("k")).select("key")
    assert(ks.as[String].collect().toSet === Set("k1", "k2", "k3", "k4"))
    // the pushed filters are visible in the scan node
    val plan = ks.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") && plan.contains("StringStartsWith"),
      plan)
    // non-pushable predicates still evaluate correctly post-scan
    val res = df.filter(
      org.apache.spark.sql.functions.length($"doc_json") > 0 && $"key" === "k3")
    assert(res.select("key").as[String].collect().toSet === Set("k3"))
  }

  test("PotV2Source pushes COUNT(*): complete when grouped by pot_file, partial globally") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{count, lit}
    val dir = java.nio.file.Files.createTempDirectory("potv2agg")
    (1 to 3).foreach(i => writePot(dir, s"p$i",
      (1 to i).map(j => s""""k${i}_$j": {"id": "k${i}_$j"}""")
        .mkString("{", ", ", "}")))
    val df = spark.read
      .format(classOf[graft.sources.PotV2Source].getName)
      .option("path", s"$dir/*/data.json").load()
    // grouped by pot_file: COMPLETE pushdown — marker present, no Spark agg
    val grouped = df.groupBy($"pot_file").agg(count(lit(1)).as("n"))
    val gplan = grouped.queryExecution.executedPlan.toString
    assert(gplan.contains("PushedAggregation: count group=[pot_file]"), gplan)
    assert(!gplan.contains("HashAggregate"), s"complete pushdown must not re-aggregate:\n$gplan")
    assert(grouped.select($"n").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))
    // global count: PARTIAL pushdown — marker present, Spark merges
    val global = df.agg(count(lit(1)).as("n"))
    val pplan = global.queryExecution.executedPlan.toString
    assert(pplan.contains("PushedAggregation: count group=[]"), pplan)
    assert(pplan.contains("HashAggregate"), s"partial pushdown needs the final merge:\n$pplan")
    assert(global.as[Long].head() === 6L)
    // pushed key filters apply UNDER the count
    assert(df.filter($"key".startsWith("k3"))
      .agg(count(lit(1))).as[Long].head() === 3L)
    // unsupported shape (group by key) falls back to the row scan
    val declined = df.groupBy($"key").agg(count(lit(1)))
    assert(!declined.queryExecution.executedPlan.toString
      .contains("PushedAggregation"))
    assert(declined.count() === 6L)
  }

  test("PotV2Source pushes COUNT+MIN(key)+MAX(key) together (u49, r17): " +
    "complete grouped, partial global, UTF-8 byte-order extremes, " +
    "empty-relation partial is (0, NULL, NULL)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{count, lit, max, min}
    val dir = java.nio.file.Files.createTempDirectory("potv2aggmm")
    writePot(dir, "p1", """{"kb": {"v": 1}, "ka": {"v": 2}, "kc": {"v": 3}}""")
    writePot(dir, "p2", """{"kz": {"v": 4}, "kd": {"v": 5}}""")
    val df = spark.read
      .format(classOf[graft.sources.PotV2Source].getName)
      .option("path", s"$dir/*/data.json").load()
    val grouped = df.groupBy($"pot_file")
      .agg(count(lit(1)).as("n"), min($"key").as("mn"), max($"key").as("mx"))
    val gplan = grouped.queryExecution.executedPlan.toString
    assert(gplan.contains(
      "PushedAggregation: count,min(key),max(key) group=[pot_file]"), gplan)
    assert(!gplan.contains("HashAggregate"),
      s"complete pushdown must not re-aggregate:\n$gplan")
    assert(grouped.select($"n", $"mn", $"mx").as[(Long, String, String)]
      .collect().toSet === Set((3L, "ka", "kc"), (2L, "kd", "kz")))
    // global: partial pushdown, Spark merges the per-file extremes
    val global = df.agg(count(lit(1)).as("n"), min($"key").as("mn"),
      max($"key").as("mx"))
    val pplan = global.queryExecution.executedPlan.toString
    assert(pplan.contains(
      "PushedAggregation: count,min(key),max(key) group=[]"), pplan)
    assert(global.as[(Long, String, String)].head() === ((5L, "ka", "kz")))
    // value equality with the un-pushed row-scan form
    val raw = df.select($"key").as[String].collect()
    assert(raw.length === 5L && raw.min === "ka" && raw.max === "kz")
    // every file pruned away: the no-file partial must be (0, NULL, NULL)
    val none = df.filter($"pot_file" === "no/such/file")
      .agg(count(lit(1)).as("n"), min($"key").as("mn"))
    val row = none.collect()(0)
    assert(row.getLong(0) === 0L && row.isNullAt(1), row.toString)
    // an unsupported aggregate mix (sum) declines to the row scan
    val declined = df.agg(count(lit(1)),
      org.apache.spark.sql.functions.sum(org.apache.spark.sql.functions
        .length($"key")))
    assert(!declined.queryExecution.executedPlan.toString
      .contains("PushedAggregation"))
  }

  test("PotV2Source pushes COUNT/MIN/MAX over SHREDDED fields (u56, r18): " +
    "complete grouped with no Spark aggregate, non-null COUNT semantics, " +
    "typed extremes, doc-field predicates compose UNDER the fold") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{count, max, min}
    val dir = java.nio.file.Files.createTempDirectory("potv2aggsh")
    writePot(dir, "p1",
      """{"ka": {"name": "bb", "pop": 10}, "kb": {"name": "aa"},
        | "kc": {"name": "cc", "pop": 30}}""".stripMargin.replace("\n", ""))
    writePot(dir, "p2", """{"kd": {"name": "zz", "pop": 5}}""")
    val df = spark.read
      .format(classOf[graft.sources.PotV2Source].getName)
      .option("path", s"$dir/*/data.json")
      .option("shred", "name=name:string,pop=pop:bigint").load()
    val grouped = df.groupBy($"pot_file")
      .agg(count($"pop").as("np"), min($"name").as("mn"),
        max($"pop").as("mx"))
    val gplan = grouped.queryExecution.executedPlan.toString
    assert(gplan.contains(
      "PushedAggregation: count(pop),min(name),max(pop) group=[pot_file]"),
      gplan)
    assert(!gplan.contains("HashAggregate"),
      s"complete shred-agg pushdown must not re-aggregate:\n$gplan")
    // COUNT(pop) skips the null extraction (kb has no pop field)
    assert(grouped.select($"np", $"mn", $"mx").as[(Long, String, Long)]
      .collect().toSet === Set((2L, "aa", 30L), (1L, "zz", 5L)))
    // global partial merges per-file folds
    val global = df.agg(count($"pop").as("np"), min($"name").as("mn"),
      max($"pop").as("mx"))
    assert(global.queryExecution.executedPlan.toString.contains(
      "PushedAggregation: count(pop),min(name),max(pop) group=[]"))
    assert(global.as[(Long, String, Long)].head() === ((3L, "aa", 30L)))
    // pushed doc-field predicate applies UNDER the fold (u45 x u56)
    val filtered = df.filter($"pop" >= 10L)
      .agg(count($"pop").as("np"), max($"pop").as("mx"))
    assert(filtered.queryExecution.executedPlan.toString
      .contains("PushedAggregation"))
    assert(filtered.as[(Long, Long)].head() === ((2L, 30L)))
    // an UNSHREDDED column's aggregate declines to the row scan
    val declined = df.agg(min($"doc_json"))
    assert(!declined.queryExecution.executedPlan.toString
      .contains("PushedAggregation"))
  }

  test("PotV2 zone-map pruning (u57, r18): exact key predicates drop " +
    "whole objects at planning; absent sidecars and delta heads never " +
    "prune; a vacuumed snapshot retires its sidecar") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("potv2zmap").toString
    val fmt = classOf[graft.sources.PotV2Source].getName
    // five range-clustered pots via the WRITE path (zmaps stamp there)
    (0 to 4).foreach { g =>
      (g * 5 until g * 5 + 5).map(i => ("", f"k$i%02d", s"""{"v": $i}"""))
        .toDF("pot_file", "key", "doc_json")
        .write.format(fmt).option("path", s"$dir/range_$g/data.json")
        .mode("overwrite").save()
    }
    def scanWith(filters: org.apache.spark.sql.sources.Filter*)
        : org.apache.spark.sql.connector.read.Batch = {
      val b = new graft.sources.PotV2ScanBuilder(s"$dir/*/data.json")
      b.pushFilters(filters.toArray)
      b.build().asInstanceOf[org.apache.spark.sql.connector.read.Batch]
    }
    import org.apache.spark.sql.sources.{EqualTo, In, StringStartsWith}
    assert(scanWith().planInputPartitions().length === 5)
    // IN over two ranges opens exactly their two objects
    assert(scanWith(In("key", Array("k03", "k17")))
      .planInputPartitions().length === 2)
    // point read opens one
    assert(scanWith(EqualTo("key", "k21")).planInputPartitions().length === 1)
    // out-of-range probe opens zero
    assert(scanWith(EqualTo("key", "zzz")).planInputPartitions().length === 0)
    // PREFIX pruning (r18, the list-by-prefix takedown shape): "k1"
    // covers k10-k19 — exactly ranges 2 and 3 (k10-14, k15-19)
    assert(scanWith(StringStartsWith("key", "k1"))
      .planInputPartitions().length === 2)
    assert(scanWith(StringStartsWith("key", "k0"))
      .planInputPartitions().length === 2, "k0 covers k00-k09")
    assert(scanWith(StringStartsWith("key", "z"))
      .planInputPartitions().length === 0)
    // rows are right through the full read path
    def rows(k: String*): Set[String] = spark.read.format(fmt)
      .option("path", s"$dir/*/data.json").load()
      .filter($"key".isin(k: _*)).select($"key").as[String].collect().toSet
    assert(rows("k03", "k17") === Set("k03", "k17"))
    // STALE-SIDECAR FALLBACK: delete an otherwise-PRUNED pot's zmap
    // (range_1 holds k05-k09, matched by neither probe key) — it stops
    // pruning (partition count rises by one) but results stay correct
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val zmaps = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/range_1"))
      .map(_.getPath).filter(_.getName.startsWith(".zmap-"))
    assert(zmaps.length === 1, "expected exactly one zone-map sidecar")
    fs.delete(zmaps.head, false)
    assert(scanWith(In("key", Array("k03", "k17")))
      .planInputPartitions().length === 3,
      "a sidecar-less pot must keep its partition")
    assert(rows("k03", "k17") === Set("k03", "k17"))
    // DELTA-HEADED pot: never pruned (the zmap describes a snapshot)
    val sw = new graft.sources.PotV2Write(s"$dir/range_1/data.json",
      graft.sources.PotV2Source.Schema, "zmapq", truncateFirst = false,
      graft.sources.PotV2Source.DefaultMaxObjectBytes)
    def stage(rows: Seq[(String, String)]): Array[
        org.apache.spark.sql.connector.write.WriterCommitMessage] = {
      val f = java.nio.file.Paths.get(dir, s"frag-${rows.head._1}.jsonl")
      java.nio.file.Files.writeString(f, rows.map { case (k, v) =>
        s"""{"k":"$k","d":$v}""" }.mkString("", "\n", "\n"))
      Array(graft.sources.PotFragmentMessage(0, f.toString))
    }
    sw.commitDeltaEpoch(stage(Seq("k99" -> """{"v": 99}""")), "e1",
      new org.apache.hadoop.fs.Path(dir, ".zstage"))
    assert(scanWith(EqualTo("key", "k99")).planInputPartitions().length >= 1,
      "delta-headed pot was wrongly zone-map pruned")
    assert(rows("k99") === Set("k99"))
    // vacuum retires the paired sidecar with its snapshot body
    (40 to 41).map(i => ("", f"k$i%02d", s"""{"v": $i}"""))
      .toDF("pot_file", "key", "doc_json")
      .write.format(fmt).option("path", s"$dir/range_4/data.json")
      .mode("append").save()
    val deleted = graft.sources.PotV2Source.vacuumSnapshots(
      fs, s"$dir/range_4/data.json")
    assert(deleted.nonEmpty)
    val left = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/range_4"))
      .map(_.getPath.getName)
    assert(left.count(_.startsWith(".zmap-")) ===
      left.count(_.startsWith(".snap-")),
      s"orphan zone-map sidecars after vacuum: ${left.mkString(",")}")
    new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("PotV2 shred-field zone maps (u65, r19): pushed shred predicates " +
    "drop whole objects at planning; mixed-typed and capped stats never " +
    "prune; absent-path and pure-mistyped paths prune everything") {
    import spark.implicits._
    import org.apache.spark.sql.sources._
    import org.apache.spark.sql.types.{LongType, StringType}
    val dir = java.nio.file.Files.createTempDirectory("potv2fzmap").toString
    val fmt = classOf[graft.sources.PotV2Source].getName
    // five pots range-clustered on v = i*100, nested nest.d = i*10, a
    // mixed-typed field, and a textual name
    (0 to 4).foreach { g =>
      (g * 5 until g * 5 + 5).map { i =>
        val mix = if (i % 2 == 0) i.toString else s""""x$i""""
        ("", f"k$i%02d",
          s"""{"v": ${i * 100}, "name": "n$i%02d", """ +
            s""""nest": {"d": ${i * 10}}, "mix": $mix}""")
      }.toDF("pot_file", "key", "doc_json")
        .write.format(fmt).option("path", s"$dir/range_$g/data.json")
        .mode("overwrite").save()
    }
    val shred = Seq(
      ("v", Seq("v"), LongType),
      ("name", Seq("name"), StringType),
      ("nest_d", Seq("nest", "d"), LongType),
      ("mix", Seq("mix"), LongType),
      ("ghost", Seq("ghost"), LongType),
      ("name_as_long", Seq("name"), LongType))
    def scanWith(filters: Filter*): Int = {
      val b = new graft.sources.PotV2ScanBuilder(
        s"$dir/*/data.json", None, shred)
      val rest = b.pushFilters(filters.toArray)
      assert(rest.isEmpty, s"filters not pushed: ${rest.mkString(",")}")
      b.build().asInstanceOf[org.apache.spark.sql.connector.read.Batch]
        .planInputPartitions().length
    }
    assert(scanWith() === 5)
    // long range: v in [0,400],[500,900],[1000,1400],[1500,1900],[2000,2400]
    assert(scanWith(GreaterThanOrEqual("v", 1700L)) === 2)
    assert(scanWith(LessThan("v", 500L)) === 1)
    assert(scanWith(In("v", Array[Any](300L, 2100L))) === 2)
    assert(scanWith(EqualTo("v", 250L)) === 1,
      "within one pot's range but absent: range stats admit (never row-exact)")
    // string equality on the textual field
    assert(scanWith(EqualTo("name", "n07")) === 1)
    // nested path depth 2
    assert(scanWith(GreaterThan("nest_d", 200L)) === 1)
    // mixed-typed path: tag 'x', never prunes
    assert(scanWith(EqualTo("mix", 1L)) === 5)
    // absent path + complete stats: extraction is null everywhere — prune
    assert(scanWith(IsNotNull("ghost")) === 0)
    assert(scanWith(EqualTo("ghost", 5L)) === 0)
    // pure mistyped: name is textual everywhere, declared bigint — prune
    assert(scanWith(EqualTo("name_as_long", 5L)) === 0)
    // end-to-end rows agree with the unpruned truth
    val df = spark.read.format(fmt).option("path", s"$dir/*/data.json")
      .option("shred", "v=v:bigint,nest_d=nest.d:bigint,ghost=ghost:string")
      .load()
    assert(df.filter($"v" >= 1700L).select($"key").as[String]
      .collect().sorted.toSeq === (17 to 24).map(i => f"k$i%02d"))
    assert(df.filter($"ghost".isNotNull).count() === 0L)
    // CAPPED stats (fcap=true past 32 paths): absence stops pruning
    val wideDir = s"$dir/wide"
    Seq(("", "w1",
      (0 until 40).map(i => s""""f$i": $i""").mkString("{", ", ", "}")))
      .toDF("pot_file", "key", "doc_json")
      .write.format(fmt).option("path", s"$wideDir/data.json")
      .mode("overwrite").save()
    val bw = new graft.sources.PotV2ScanBuilder(
      s"$wideDir/data.json", None, Seq(("ghost", Seq("ghost"), LongType)))
    bw.pushFilters(Array[Filter](IsNotNull("ghost")))
    assert(bw.build().asInstanceOf[org.apache.spark.sql.connector.read.Batch]
      .planInputPartitions().length === 1,
      "capped stats must not prune on absence")
    new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("PotV2 TopN object skip (u67, r19): objects whose whole range is " +
    "preceded by >= k proven rows are never opened; filters, samples and " +
    "missing evidence disable the skip, results never move") {
    import spark.implicits._
    import org.apache.spark.sql.sources._
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
    val dir = java.nio.file.Files.createTempDirectory("potv2topnskip").toString
    val fmt = classOf[graft.sources.PotV2Source].getName
    (0 to 4).foreach { g =>
      (g * 5 until g * 5 + 5).map(i => ("", f"k$i%02d", s"""{"v": $i}"""))
        .toDF("pot_file", "key", "doc_json")
        .write.format(fmt).option("path", s"$dir/range_$g/data.json")
        .mode("overwrite").save()
    }
    def scanTopN(asc: Boolean, k: Int, filters: Filter*): Int = {
      val b = new graft.sources.PotV2ScanBuilder(s"$dir/*/data.json")
      b.pushFilters(filters.toArray)
      assert(b.pushTopN(Array(Expressions.sort(Expressions.column("key"),
        if (asc) SortDirection.ASCENDING else SortDirection.DESCENDING)), k))
      b.build().asInstanceOf[org.apache.spark.sql.connector.read.Batch]
        .planInputPartitions().length
    }
    // 5 rows per object: k=4 needs only the first object, k=7 two
    assert(scanTopN(asc = true, 4) === 1)
    assert(scanTopN(asc = true, 7) === 2)
    assert(scanTopN(asc = true, 25) === 5)
    assert(scanTopN(asc = false, 4) === 1)
    assert(scanTopN(asc = false, 11) === 3)
    // IsNotNull on addressing columns is vacuous — skip still applies
    assert(scanTopN(asc = true, 4, IsNotNull("key")) === 1)
    // a row-dropping pushed filter disables the skip (prefix meets all
    // five ranges, so zone maps keep all objects too)
    assert(scanTopN(asc = true, 4, StringStartsWith("key", "k")) === 5)
    // missing evidence: drop object 0's sidecar — it can't be skipped
    // and can't prove others skippable; object 1 still counts for 2+
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val zm0 = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/range_0"))
      .map(_.getPath).filter(_.getName.startsWith(".zmap-"))
    assert(zm0.length === 1)
    fs.delete(zm0.head, false)
    assert(scanTopN(asc = true, 4) === 2,
      "sidecar-less object must stay open and stop proving others skippable")
    // results never move through the full read path
    val df = spark.read.format(fmt).option("path", s"$dir/*/data.json").load()
    assert(df.orderBy($"key".asc).limit(4).select($"key").as[String]
      .collect().toSeq === (0 to 3).map(i => f"k$i%02d"))
    assert(df.orderBy($"key".desc).limit(4).select($"key").as[String]
      .collect().toSeq === (24 to 21 by -1).map(i => f"k$i%02d"))
    new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("Bucketed zone-map pruning (u64, r19): an edge-of-domain prefix " +
    "opens only the buckets holding its keys; results identical") {
    import spark.implicits._
    import org.apache.spark.sql.sources.StringStartsWith
    val dir = java.nio.file.Files.createTempDirectory("bzmap").toString
    val root = s"$dir/store"
    val fmt = classOf[graft.sources.BucketedPotV2Source].getName
    (1 to 25).map(i => ("", s"n$i", s"""{"v": $i}"""))
      .toDF("pot_file", "key", "doc_json")
      .write.format(fmt).option("path", root).option("buckets", "8")
      .mode("append").save()
    Seq(("", "zz:a", """{"v": -1}"""), ("", "zz:b", """{"v": -2}"""))
      .toDF("pot_file", "key", "doc_json")
      .write.format(fmt).option("path", root).option("buckets", "8")
      .mode("append").save()
    val zzBuckets = Set("zz:a", "zz:b")
      .map(graft.kv.BucketMeta.bucketOf(_, 8))
    val existing = graft.sources.BucketedPotV2Source
      .existingBuckets(storeFs(root), root, 8).length
    // the shared planner prunes bucket objects through their zmaps; the
    // glob scan sees exactly the bucketed layout
    val b = new graft.sources.PotV2ScanBuilder(s"$root/_b=*/data.json")
    b.pushFilters(Array[org.apache.spark.sql.sources.Filter](
      StringStartsWith("key", "zz")))
    val planned = b.build()
      .asInstanceOf[org.apache.spark.sql.connector.read.Batch]
      .planInputPartitions().length
    assert(planned === zzBuckets.size && planned < existing,
      s"prefix should open ${zzBuckets.size} of $existing buckets, got " +
        planned)
    val got = spark.read.format(fmt).option("path", root)
      .option("buckets", "8").load()
      .filter($"key".startsWith("zz")).select($"key").as[String]
      .collect().toSet
    assert(got === Set("zz:a", "zz:b"))
    new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("PotV2 wall-clock retention (u58, r18): young bodies survive the " +
    "window, clone-borrowed history is never the clone's to retire, and " +
    "an aged-out pinned read raises the NAMED retention guard") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("potv2retain").toString
    val src = s"$dir/src/data.json"; val dst = s"$dir/dst/data.json"
    val fmt = classOf[graft.sources.PotV2Source].getName
    def put(k: String, v: Int, mode: String): Unit =
      Seq(("", k, s"""{"v": $v}""")).toDF("pot_file", "key", "doc_json")
        .write.format(fmt).option("path", src).mode(mode).save()
    put("a", 1, "overwrite"); put("b", 2, "append"); put("c", 3, "append")
    val fs = new org.apache.hadoop.fs.Path(src)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // 1h window: everything young, nothing reclaimed; gen-1 pin serves
    assert(graft.sources.PotV2Source
      .vacuumSnapshots(fs, src, 3600000L).isEmpty)
    def keysAt(pot: String, g: Long): Set[String] =
      spark.read.format(fmt).option("path", pot)
        .option("generation", g.toString).load()
        .select($"key").as[String].collect().toSet
    assert(keysAt(src, 1L) === Set("a"))
    // CLONE: the time-based path must also respect ownership — the
    // clone's aged vacuum reclaims ZERO borrowed source bodies
    graft.sources.PotV2Source.clonePot(fs, src, dst)
    Thread.sleep(5)
    assert(graft.sources.PotV2Source.vacuumSnapshots(fs, dst, 1L).isEmpty,
      "clone's age-based vacuum touched borrowed source history")
    assert(keysAt(dst, 1L) === Set("a"), "borrowed history stopped serving")
    // source-side aged vacuum reclaims exactly the below-covering bodies
    val reclaimed = graft.sources.PotV2Source.vacuumSnapshots(fs, src, 1L)
    assert(reclaimed.length === 2, reclaimed.mkString(","))
    assert(keysAt(src, 3L) === Set("a", "b", "c"), "head read broke")
    // the aged-out pin now raises the NAMED guard, never a raw FNF
    val e = intercept[graft.kv.PotTable.RetentionViolated] {
      keysAt(src, 1L)
    }
    assert(e.getMessage.contains("retention"), e.getMessage)
    new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("PotV2 OFFSET pushdown (u53, r17): single-pot pages push offset " +
    "next to the TopN selection; a glob declines to the post-scan Offset") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("potv2off").toString
    val fmt = classOf[graft.sources.PotV2Source].getName
    def write(sub: String, n: Int): String = {
      val pot = s"$dir/$sub/data.json"
      (1 to n).map(i => ("", f"k$i%03d", s"""{"v": $i}"""))
        .toDF("pot_file", "key", "doc_json")
        .write.format(fmt).option("path", pot).mode("overwrite").save()
      pot
    }
    val pot = write("a", 30); write("b", 30)
    val page = spark.read.format(fmt).option("path", pot).load()
      .select($"key").orderBy($"key").offset(10).limit(5)
    val plan = page.queryExecution.executedPlan.toString
    assert(plan.contains("PushedOffset: 10") &&
      plan.contains("PushedTopN: key ASC limit 15"),
      s"offset/topN not pushed together:\n$plan")
    assert(page.as[String].collect().toSeq ===
      (11 to 15).map(i => f"k$i%03d"))
    // glob: a per-partition drop would be wrong — decline, Spark offsets
    val globPage = spark.read.format(fmt)
      .option("path", s"$dir/*/data.json").load()
      .select($"key").orderBy($"key").offset(10).limit(5)
    val gplan = globPage.queryExecution.executedPlan.toString
    assert(!gplan.contains("PushedOffset"), gplan)
    assert(globPage.as[String].collect().toSeq ===
      Seq("k006", "k006", "k007", "k007", "k008"))
    new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("PotV2 storage-partitioned join (u51, r17): pot_file-keyed join " +
    "between entry rows and the pushed per-file aggregate plans with " +
    "ZERO exchanges under v2 bucketing; without the conf the shuffle is " +
    "back") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{count, lit}
    val dir = java.nio.file.Files.createTempDirectory("potv2spj")
    (1 to 4).foreach(i => writePot(dir, s"p$i",
      ((1 to i).map(j => s""""k${i}_$j": {"id": "k${i}_$j"}""") :+
        s""""_meta": {"n": $i}""").mkString("{", ", ", "}")))
    def joined(sess: org.apache.spark.sql.SparkSession) = {
      val df = sess.read
        .format(classOf[graft.sources.PotV2Source].getName)
        .option("path", s"$dir/*/data.json").load()
      // per-file stats as MANIFEST ROWS, not the pushed aggregate: an
      // aggregate-rewritten scan loses its reported partitioning
      // (V2ScanPartitioningAndOrdering fails to resolve the transform
      // against the rewritten output — found live, noted in the query)
      df.filter(df("key") =!= "_meta").select(df("pot_file"), df("key"))
        .join(df.filter(df("key") === "_meta").select(df("pot_file"),
          org.apache.spark.sql.functions
            .get_json_object(df("doc_json"), "$.n").cast("long").as("n")),
          "pot_file")
    }
    val on = spark.newSession()
    on.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    on.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val spj = joined(on)
    val plan = spj.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"storage-partitioned join still shuffles:\n$plan")
    val got = spj.collect().map(r => (r.getString(1), r.getLong(2))).toSet
    val expected = (1 to 4).flatMap(i =>
      (1 to i).map(j => (s"k${i}_$j", i.toLong))).toSet
    assert(got === expected)
    // with v2 bucketing DISABLED (it is default-ON in Spark 4 — even
    // better for users): same answer, but the join pays its exchanges
    val off = spark.newSession()
    off.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
    off.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val plain = joined(off)
    assert(plain.queryExecution.executedPlan.toString.contains("Exchange"),
      "expected the shuffle back with v2 bucketing disabled")
    assert(plain.collect().map(r => (r.getString(1), r.getLong(2))).toSet
      === expected)
  }

  test("Bucketed key-grain SPJ (u54, r18): same-modulus stores join on " +
    "key with ZERO exchange via the catalog; different moduli and " +
    "path-based reads shuffle; the V2 bucket fn == the write router") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("potv2kspj").toString
    val fmt = classOf[graft.sources.BucketedPotV2Source].getName
    def write(sub: String, buckets: Int, doc: Int => String): String = {
      val root = s"$dir/$sub"
      (1 to 40).map(i => ("", s"k$i", doc(i)))
        .toDF("pot_file", "key", "doc_json")
        .write.format(fmt).option("path", root)
        .option("buckets", buckets.toString).mode("append").save()
      root
    }
    val a = write("a", 4, i => s"""{"v": $i}""")
    val b = write("b", 4, i => s"""{"w": ${i * 10}}""")
    val c = write("c", 8, i => s"""{"w": ${i * 10}}""")
    val ss = spark.newSession()
    ss.conf.set("spark.sql.catalog.graft_fns",
      classOf[graft.sources.GraftFunctionCatalog].getName)
    ss.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    def readStore(root: String) = ss.read.table(s"graft_fns.store.`$root`")
    def joined(l: org.apache.spark.sql.DataFrame,
        r: org.apache.spark.sql.DataFrame) =
      l.select(l("key"), org.apache.spark.sql.functions
          .get_json_object(l("doc_json"), "$.v").cast("long").as("v"))
        .join(r.select(r("key"), org.apache.spark.sql.functions
          .get_json_object(r("doc_json"), "$.w").cast("long").as("w")),
          "key")
    val expected = (1 to 40).map(i => (s"k$i", i.toLong, i * 10L)).toSet
    // SAME modulus through the catalog: zero exchange on either side
    val spj = joined(readStore(a), readStore(b))
    val plan = spj.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"same-modulus key join still shuffles:\n$plan")
    assert(spj.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2))).toSet === expected)
    // DIFFERENT modulus: incompatible transforms — the shuffle is back,
    // the answer identical
    val mixed = joined(readStore(a), readStore(c))
    assert(mixed.queryExecution.executedPlan.toString.contains("Exchange"),
      "expected a shuffle joining 4-bucket x 8-bucket stores")
    assert(mixed.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2))).toSet === expected)
    // PATH-BASED read (no catalog => no FunctionCatalog): the bucket
    // transform cannot resolve, partitioning degrades to Unknown — the
    // join shuffles, never a wrong co-partitioning assumption
    def readPath(root: String) = ss.read.format(fmt)
      .option("path", root).option("buckets", "4").load()
    val pathJoin = joined(readPath(a), readPath(b))
    assert(pathJoin.queryExecution.executedPlan.toString.contains("Exchange"),
      "expected path-based reads to shuffle (no function catalog)")
    assert(pathJoin.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2))).toSet === expected)
    // the catalog fn IS the write router: same bucket for every key
    val viaSql = ss.sql(
      s"SELECT graft_fns.ops.bucket(4, key) AS b, key FROM " +
        s"graft_fns.store.`$a`").collect()
      .map(r => r.getString(1) -> r.getInt(0)).toMap
    (1 to 40).foreach { i =>
      assert(viaSql(s"k$i") ===
        graft.kv.BucketMeta.bucketOf(s"k$i", 4))
    }
    // r19 ADVICE: a NULL key returns NULL (SQL semantics), never an NPE —
    // covers both the literal and the nullable-column path
    val nullRow = ss.sql(
      "SELECT graft_fns.ops.bucket(4, CAST(NULL AS STRING)) AS b, " +
        "graft_fns.ops.bucket(4, k) AS bc " +
        "FROM VALUES (CAST(NULL AS STRING)) AS t(k)").collect()(0)
    assert(nullRow.isNullAt(0) && nullRow.isNullAt(1))
    new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("PotV2Source runtime filtering prunes pot files from a join's resolved values") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("potv2dpp")
    (1 to 4).foreach(i => writePot(dir, s"p$i", s"""{"k$i": {"id": "k$i"}}"""))
    val df = spark.read
      .format(classOf[graft.sources.PotV2Source].getName)
      .option("path", s"$dir/*/data.json").load()
    // direct contract: a runtime In(pot_file, ...) delivered after
    // planning re-plans partitions to exactly the surviving files —
    // static and runtime pruning share PotV2Filters.accepts
    val scan = new graft.sources.PotV2ScanBuilder(s"$dir/*/data.json")
      .build().asInstanceOf[org.apache.spark.sql.connector.read.SupportsRuntimeFiltering]
    val batch = scan.asInstanceOf[org.apache.spark.sql.connector.read.Batch]
    assert(batch.planInputPartitions().length === 4)
    assert(scan.filterAttributes().map(_.describe()).toSeq
      === Seq("pot_file", "key"))
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("pot_file",
        Array(s"file:$dir/p2/data.json", s"file:$dir/p4/data.json"))))
    assert(batch.planInputPartitions().length === 2,
      "runtime In(pot_file) must re-plan to the surviving files")
    // end to end: joining on pot_file against a tiny dim stays correct
    // (and benefits from the runtime prune whenever Spark plants a DPP
    // subquery — behavior-identical either way)
    val dim = Seq((s"file:$dir/p2/data.json", "keep")).toDF("pf", "tag")
    val j = df.join(org.apache.spark.sql.functions.broadcast(dim),
      df("pot_file") === dim("pf"))
    assert(j.select($"key").as[String].collect().toSeq === Seq("k2"))
  }

  test("PotV2Source runtime KEY filtering (u72, r19): a runtime In(key) " +
    "prunes objects through zone maps; sidecar-less pots admit") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("potv2dppk").toString
    val fmt = classOf[graft.sources.PotV2Source].getName
    // range-clustered COMMITTED pots (sidecars stamp on the write path)
    (0 to 3).foreach { g =>
      (g * 5 until g * 5 + 5).map(i => ("", f"k$i%02d", s"""{"v": $i}"""))
        .toDF("pot_file", "key", "doc_json")
        .write.format(fmt).option("path", s"$dir/range_$g/data.json")
        .mode("overwrite").save()
    }
    val scan = new graft.sources.PotV2ScanBuilder(s"$dir/*/data.json")
      .build().asInstanceOf[
        org.apache.spark.sql.connector.read.SupportsRuntimeFiltering]
    val batch = scan.asInstanceOf[org.apache.spark.sql.connector.read.Batch]
    assert(batch.planInputPartitions().length === 4)
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("key", Array("k03", "k17"))))
    assert(batch.planInputPartitions().length === 2,
      "runtime In(key) must zone-map-prune to the two covering objects")
    // a sidecar-less pot admits under the same runtime filter
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/range_1"))
      .map(_.getPath).filter(_.getName.startsWith(".zmap-"))
      .foreach(z => fs.delete(z, false))
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("key", Array("k03", "k17"))))
    assert(batch.planInputPartitions().length === 3,
      "a sidecar-less pot must keep its partition under runtime pruning")
    // end to end: the broadcast key-dim join stays correct
    val df = spark.read.format(fmt).option("path", s"$dir/*/data.json")
      .load()
    val dim = Seq(("k03", 1), ("k17", 2)).toDF("dk", "tag")
    val j = df.join(org.apache.spark.sql.functions.broadcast(dim),
      df("key") === dim("dk"))
    assert(j.select($"key").as[String].collect().sorted.toSeq
      === Seq("k03", "k17"))
    new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("PotV2Source pushed counts: no phantom zero groups, pruned-empty global count is 0") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{count, lit}
    val dir = java.nio.file.Files.createTempDirectory("potv2agg0")
    writePot(dir, "p1", """{"k1": {"id": "k1"}, "k2": {"id": "k2"}}""")
    writePot(dir, "p2", """{"other": {"id": "other"}}""")
    writePot(dir, "p3", "{}")
    val df = spark.read
      .format(classOf[graft.sources.PotV2Source].getName)
      .option("path", s"$dir/*/data.json").load()
    // grouped count under a pushed key filter: files whose entries all
    // fail the filter (p2) or are empty (p3) must NOT surface as
    // phantom (pot_file, 0) groups — a non-pushed aggregate never would
    val grouped = df.filter($"key".startsWith("k"))
      .groupBy($"pot_file").agg(count(lit(1)).as("n"))
    assert(grouped.queryExecution.executedPlan.toString
      .contains("PushedAggregation: count group=[pot_file]"))
    assert(grouped.select($"n").as[Long].collect().toSeq === Seq(2L))
    // global count with every file pruned by a pot_file predicate:
    // 0 (via the planned no-file partition's partial), never NULL
    val none = df.filter($"pot_file" === "no/such/file")
      .agg(count(lit(1)).as("n"))
    assert(none.as[Long].head() === 0L)
  }

  test("PotV2Source write round-trips and append is whole-doc LWW by key") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("potv2w").toString
    val pot = s"$dir/t/data.json"
    val fmt = classOf[graft.sources.PotV2Source].getName
    Seq(("", "a", """{"v": 1}"""), ("", "b", """{"v": 2}"""))
      .toDF("pot_file", "key", "doc_json")
      .write.format(fmt).option("path", pot).mode("overwrite").save()
    // append: key b replaced wholesale (LWW, kv14's contract), c added
    Seq(("", "b", """{"w": 9}"""), ("", "c", """{"v": 3}"""))
      .toDF("pot_file", "key", "doc_json")
      .write.format(fmt).option("path", pot).mode("append").save()
    val back = spark.read.format(fmt).option("path", pot).load()
      .select($"key", $"doc_json").as[(String, String)].collect().toMap
    assert(back.keySet === Set("a", "b", "c"))
    assert(back("b") === """{"w":9}""", "append must replace whole docs")
    assert(!back("b").contains("\"v\""), "LWW must not column-merge")
    // a malformed doc_json fails the WRITE, never lands in the object
    val bad = intercept[Throwable] {
      Seq(("", "x", """[1, 2]""")).toDF("pot_file", "key", "doc_json")
        .write.format(fmt).option("path", pot).mode("append").save()
    }
    assert(Iterator.iterate(bad)(_.getCause).takeWhile(_ != null).take(8)
      .exists(_.getMessage.contains("must be a JSON object")))
    assert(spark.read.format(fmt).option("path", pot).load().count() === 3)
    // glob targets are rejected for writes
    val g = intercept[Throwable] {
      Seq(("", "x", "{}")).toDF("pot_file", "key", "doc_json")
        .write.format(fmt).option("path", s"$dir/*/data.json")
        .mode("append").save()
    }
    assert(Iterator.iterate(g)(_.getCause).takeWhile(_ != null).take(8)
      .exists(_.getMessage.contains("not a glob")))
  }

  test("PotV2Source snapshot vacuum keeps only the chain head; writes continue after") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("potv2vac").toString
    val pot = s"$dir/t/data.json"
    val fmt = classOf[graft.sources.PotV2Source].getName
    def put(k: String, v: Int, mode: String): Unit =
      Seq(("", k, s"""{"v": $v}""")).toDF("pot_file", "key", "doc_json")
        .write.format(fmt).option("path", pot).mode(mode).save()
    put("a", 1, "overwrite"); put("b", 2, "append"); put("c", 3, "append")
    val potDir = new java.io.File(s"$dir/t")
    def snaps() = potDir.listFiles().count(_.getName.startsWith(".snap-"))
    assert(snaps() === 3)
    val fs = new org.apache.hadoop.fs.Path(pot)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val deleted = graft.sources.PotV2Source.vacuumSnapshots(fs, pot)
    assert(deleted.size === 2 && snaps() === 1)
    // content untouched, and the chain accepts the next generation
    assert(spark.read.format(fmt).option("path", pot).load().count() === 3)
    put("d", 4, "append")
    assert(spark.read.format(fmt).option("path", pot).load()
      .select($"key").as[String].collect().toSet === Set("a", "b", "c", "d"))
  }

  test("PotV2 vacuum fence: vacuum racing live commits loses cleanly — no lost update, no dangling marker") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val dir = java.nio.file.Files.createTempDirectory("potv2fence").toString
    val pot = s"$dir/t/data.json"
    val fs = new org.apache.hadoop.fs.Path(pot)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val nWriters = 4
    val perWriter = 5
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val writers = (1 to nWriters).map { w =>
      new Thread(() => {
        try {
          for (i <- 1 to perWriter) {
            // one streaming write per (writer, epoch): distinct query ids
            // so tags never collide; the retry loop absorbs CAS losses
            // AND the vacuumed-merge-base FileNotFound retry
            val write = new graft.sources.PotV2Write(
              pot, graft.sources.PotV2Source.Schema, s"q-$w",
              truncateFirst = false)
            val wr = write.writerFactory.createWriter(0, 0L, i.toLong)
            wr.write(InternalRow(UTF8String.fromString(""),
              UTF8String.fromString(s"k$w-$i"),
              UTF8String.fromString(s"""{"v": $i}""")))
            write.toStreaming.commit(i.toLong, Array(wr.commit()))
          }
        } catch { case t: Throwable => errs.add(t) }
      })
    }
    val vacuums = new Thread(() => {
      try {
        (1 to 40).foreach { _ =>
          graft.sources.PotV2Source.vacuumSnapshots(fs, pot)
          Thread.sleep(3L)
        }
      } catch { case t: Throwable => errs.add(t) }
    })
    (writers :+ vacuums).foreach(_.start())
    (writers :+ vacuums).foreach(_.join(120000))
    assert(errs.isEmpty, s"race surfaced errors: ${errs.peek()}")
    // no lost update: every (writer, epoch) key survived the races
    import spark.implicits._
    val keys = spark.read
      .format(classOf[graft.sources.PotV2Source].getName)
      .option("path", pot).load().select($"key").as[String].collect().toSet
    val expect = (for (w <- 1 to nWriters; i <- 1 to perWriter)
      yield s"k$w-$i").toSet
    assert(keys === expect, s"lost updates: ${expect -- keys}")
    // no dangling marker: the head marker's body exists (below-head
    // bodies may legitimately be vacuumed), and a fresh vacuum followed
    // by a read + write still works
    val commits = new org.apache.hadoop.fs.Path(s"$dir/t/.commits")
    val headGen = graft.kv.CommitMarker.committedGenerations(fs, commits).max
    val headBody = new org.apache.hadoop.fs.Path(graft.kv.CommitMarker
      .read(fs, new org.apache.hadoop.fs.Path(commits, headGen.toString)))
    assert(fs.exists(headBody), s"dangling head marker at gen $headGen")
    graft.sources.PotV2Source.vacuumSnapshots(fs, pot)
    assert(spark.read
      .format(classOf[graft.sources.PotV2Source].getName)
      .option("path", pot).load().count() === expect.size.toLong)
  }

  test("PotV2 write: the size ceiling fails loudly and names the bucketed migration path") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("potv2cap").toString
    val pot = s"$dir/t/data.json"
    val fmt = classOf[graft.sources.PotV2Source].getName
    def put(rows: Seq[(String, String)], cap: Long): Unit =
      rows.map { case (k, v) => ("", k, v) }
        .toDF("pot_file", "key", "doc_json")
        .write.format(fmt).option("path", pot)
        .option("maxObjectBytes", cap.toString).mode("append").save()
    // under the ceiling: fine
    put(Seq("a" -> """{"v": 1}"""), 200L)
    // merged growth past the ceiling: loud PotTooLarge naming the
    // migration path, not a silent driver OOM
    val e = intercept[Exception] {
      put(Seq("b" -> s"""{"v": "${"x" * 400}"}"""), 200L)
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(m => m.contains("BucketedPotTable") &&
      m.contains("ceiling")), s"wrong error: ${msgs(e)}")
    // the pot is untouched by the failed commit
    assert(spark.read.format(fmt).option("path", pot).load()
      .select($"key").as[String].collect().toSeq === Seq("a"))
    // an oversized MERGE BASE also fails loudly (pre-load check)
    val e2 = intercept[Exception] { put(Seq("c" -> """{"v": 2}"""), 10L) }
    assert(msgs(e2).exists(_.contains("merge base")), s"${msgs(e2)}")
  }

  test("PotV2 streaming sink: a replayed epoch adopts its committed generation") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val dir = java.nio.file.Files.createTempDirectory("potv2se").toString
    val pot = s"$dir/t/data.json"
    val write = new graft.sources.PotV2Write(
      pot, graft.sources.PotV2Source.Schema, "q-test", truncateFirst = false)
    val sw = write.toStreaming
    def stage(epoch: Long, key: String, v: Int)
        : org.apache.spark.sql.connector.write.WriterCommitMessage = {
      val w = write.writerFactory.createWriter(0, 0L, epoch)
      w.write(InternalRow(UTF8String.fromString(""),
        UTF8String.fromString(key), UTF8String.fromString(s"""{"v": $v}""")))
      w.commit()
    }
    val fs = new org.apache.hadoop.fs.Path(pot)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val commits = new org.apache.hadoop.fs.Path(s"$dir/t/.commits")
    def gens() = graft.kv.CommitMarker.committedGenerations(fs, commits).sorted
    sw.commit(5L, Array(stage(5L, "k1", 1)))
    assert(gens() === Seq(1L))
    // checkpoint-recovery replay of epoch 5: the committed generation is
    // adopted — no second generation, content unchanged
    sw.commit(5L, Array(stage(5L, "k1", 1)))
    assert(gens() === Seq(1L), "replayed epoch re-committed")
    // a NEW epoch appends the next generation
    sw.commit(6L, Array(stage(6L, "k2", 2)))
    assert(gens() === Seq(1L, 2L))
    // an INDEPENDENT query's epoch 5 must NOT adopt ours: the tag is
    // scoped by the stable streaming query id, so a second writer on the
    // same pot commits its own generation instead of silently dropping
    // its batch
    val write2 = new graft.sources.PotV2Write(
      pot, graft.sources.PotV2Source.Schema, "q-other",
      truncateFirst = false)
    val w2 = write2.writerFactory.createWriter(0, 0L, 5L)
    w2.write(InternalRow(UTF8String.fromString(""),
      UTF8String.fromString("k3"), UTF8String.fromString("""{"v": 3}""")))
    write2.toStreaming.commit(5L, Array(w2.commit()))
    assert(gens() === Seq(1L, 2L, 3L),
      "cross-query epoch collision: second query's batch was adopted away")
    import spark.implicits._
    val back = spark.read
      .format(classOf[graft.sources.PotV2Source].getName)
      .option("path", pot).load()
      .select($"key").as[String].collect().toSet
    assert(back === Set("k1", "k2", "k3"))
  }

  test("PotV2 streaming sink: truncate (complete mode) makes each epoch REPLACE the pot") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val dir = java.nio.file.Files.createTempDirectory("potv2st").toString
    val pot = s"$dir/t/data.json"
    // r12 hardcoded truncate=false in the streaming commit while the
    // builder advertised SupportsTruncate — complete mode silently
    // merge-appended. Pin the fixed semantics: with truncateFirst, epoch
    // N's snapshot holds ONLY epoch N's rows.
    val write = new graft.sources.PotV2Write(
      pot, graft.sources.PotV2Source.Schema, "q-trunc", truncateFirst = true)
    val sw = write.toStreaming
    def stage(epoch: Long, key: String, v: Int)
        : org.apache.spark.sql.connector.write.WriterCommitMessage = {
      val w = write.writerFactory.createWriter(0, 0L, epoch)
      w.write(InternalRow(UTF8String.fromString(""),
        UTF8String.fromString(key), UTF8String.fromString(s"""{"v": $v}""")))
      w.commit()
    }
    sw.commit(1L, Array(stage(1L, "k1", 1)))
    sw.commit(2L, Array(stage(2L, "k2", 2)))
    import spark.implicits._
    val back = spark.read
      .format(classOf[graft.sources.PotV2Source].getName)
      .option("path", pot).load()
      .select($"key").as[String].collect().toSet
    assert(back === Set("k2"),
      "complete-mode epoch merge-appended instead of replacing")
  }

  test("PotV2 streaming APPEND epochs are O(change-set) delta generations; reads fold; compaction every Nth epoch") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("potv2dg").toString
    val pot = s"$dir/t/data.json"
    val fmt = classOf[graft.sources.PotV2Source].getName
    val fs = new org.apache.hadoop.fs.Path(pot)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val commits = new org.apache.hadoop.fs.Path(s"$dir/t/.commits")
    def artifact(g: Long) =
      graft.kv.CommitMarker.read(fs,
        new org.apache.hadoop.fs.Path(commits, g.toString))
    def gens() = graft.kv.CommitMarker.committedGenerations(fs, commits).sorted
    // gen 1: a LARGE pot via the batch path (full snapshot)
    (1 to 2000).map(i => ("", f"seed$i%04d", s"""{"v": $i}"""))
      .toDF("pot_file", "key", "doc_json")
      .write.format(fmt).option("path", pot).mode("overwrite").save()
    val potBytes = fs.getFileStatus(
      new org.apache.hadoop.fs.Path(pot)).getLen
    assert(potBytes > 20000, s"seed pot unexpectedly small: $potBytes")
    // stream small epochs with compactEvery=4
    val write = new graft.sources.PotV2Write(
      pot, graft.sources.PotV2Source.Schema, "q-dgen",
      truncateFirst = false, compactEvery = 4)
    val sw = write.toStreaming
    def stage(epoch: Long, key: String, v: Int)
        : org.apache.spark.sql.connector.write.WriterCommitMessage = {
      val w = write.writerFactory.createWriter(0, 0L, epoch)
      w.write(InternalRow(UTF8String.fromString(""),
        UTF8String.fromString(key), UTF8String.fromString(s"""{"v": $v}""")))
      w.commit()
    }
    sw.commit(1L, Array(stage(1L, "e1", 1)))
    sw.commit(2L, Array(stage(2L, "e2", 2)))
    sw.commit(3L, Array(stage(3L, "seed0001", 99))) // update a seeded key
    assert(gens() === Seq(1L, 2L, 3L, 4L))
    // epochs 1-3 are DELTA generations: change-set-sized artifacts, no
    // snapshot write, data.json untouched (still the gen-1 bytes)
    (2L to 4L).foreach { g =>
      val a = artifact(g)
      assert(a.contains(".dgen-"), s"gen $g is not a delta: $a")
      val len = fs.getFileStatus(new org.apache.hadoop.fs.Path(a)).getLen
      assert(len < 200,
        s"delta generation $g is $len bytes — not change-set-sized")
    }
    assert(fs.getFileStatus(
      new org.apache.hadoop.fs.Path(pot)).getLen === potBytes,
      "a delta epoch re-materialized data.json (O(pot) write)")
    // a replayed delta epoch ADOPTS its generation (exactly-once)
    sw.commit(2L, Array(stage(2L, "e2", 2)))
    assert(gens() === Seq(1L, 2L, 3L, 4L), "replayed delta epoch re-committed")
    // batch reads FOLD the delta-headed chain: all epochs visible
    def readBack() = spark.read.format(fmt).option("path", pot).load()
      .select($"key", $"doc_json").as[(String, String)].collect().toMap
    val folded = readBack()
    assert(folded.size === 2002)
    assert(folded("e1") === """{"v":1}""")
    assert(folded("seed0001") === """{"v":99}""")
    // pushed COUNT over the folded chain stays correct
    assert(spark.read.format(fmt).option("path", pot).load().count() === 2002L)
    // generation pins onto a DELTA generation fold state at that point
    val atGen3 = spark.read.format(fmt).option("path", pot)
      .option("generation", "3").load()
      .select($"key", $"doc_json").as[(String, String)].collect().toMap
    assert(atGen3.size === 2002 && atGen3("seed0001") === """{"v":1}""" &&
      atGen3("e2") === """{"v":2}""")
    // 4th delta-run epoch hits the compaction threshold: full snapshot,
    // data.json re-materializes with everything
    sw.commit(4L, Array(stage(4L, "e4", 4)))
    assert(gens() === Seq(1L, 2L, 3L, 4L, 5L))
    assert(artifact(5L).contains(".snap-"),
      s"compaction epoch did not snapshot: ${artifact(5L)}")
    val mat = spark.read.format(fmt).option("path", pot).load().count()
    assert(mat === 2003L)
    assert(fs.getFileStatus(
      new org.apache.hadoop.fs.Path(pot)).getLen > potBytes,
      "compaction did not refresh data.json")
    // the change feed delivers delta generations from their own artifact
    // and the compaction epoch as its sidecar diff — batch CDC sees
    // exactly the applied per-epoch change sets
    val changes = spark.read.format(fmt).option("path", pot)
      .option("changesFrom", "1").load()
      .select($"pot_file", $"key", $"doc_json")
      .as[(String, String, String)].collect()
      .map(t => (t._1.split("@")(1).toLong, t._2, t._3)).toSet
    assert(changes === Set(
      (2L, "e1", """{"v":1}"""), (3L, "e2", """{"v":2}"""),
      (4L, "seed0001", """{"v":99}"""), (5L, "e4", """{"v":4}""")))
    // vacuum keeps the covering snapshot of a delta-headed chain: append
    // two more delta epochs (head = dgen), vacuum, and the fold survives
    sw.commit(5L, Array(stage(5L, "e5", 5)))
    sw.commit(6L, Array(stage(6L, "e6", 6)))
    assert(artifact(7L).contains(".dgen-"))
    val deleted = graft.sources.PotV2Source.vacuumSnapshots(fs, pot)
    assert(deleted.forall(_.contains(".snap-")))
    assert(!deleted.exists(_ == artifact(5L)),
      "vacuum deleted the covering snapshot of a delta-headed chain")
    assert(readBack().size === 2005)
  }

  test("PotV2 delta epochs are not gated by the pot-size ceiling; compaction (true snapshot materialization) is") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("potv2dgc").toString
    val pot = s"$dir/t/data.json"
    val fmt = classOf[graft.sources.PotV2Source].getName
    (1 to 500).map(i => ("", f"seed$i%04d", s"""{"v": $i}"""))
      .toDF("pot_file", "key", "doc_json")
      .write.format(fmt).option("path", pot).mode("overwrite").save()
    // ceiling far below the pot size, compaction far away: APPEND epochs
    // flow at change-set cost — the ceiling no longer gates stream
    // throughput between compactions
    val write = new graft.sources.PotV2Write(
      pot, graft.sources.PotV2Source.Schema, "q-ceil",
      truncateFirst = false, maxObjectBytes = 1000L, compactEvery = 100)
    val sw = write.toStreaming
    def stage(w: graft.sources.PotV2Write, epoch: Long, key: String)
        : org.apache.spark.sql.connector.write.WriterCommitMessage = {
      val dw = w.writerFactory.createWriter(0, 0L, epoch)
      dw.write(InternalRow(UTF8String.fromString(""),
        UTF8String.fromString(key), UTF8String.fromString("""{"v": 0}""")))
      dw.commit()
    }
    (1L to 5L).foreach(e => sw.commit(e, Array(stage(write, e, s"e$e"))))
    assert(spark.read.format(fmt).option("path", pot).load().count() === 505L)
    // a compaction epoch IS true snapshot materialization: the ceiling
    // applies there, loudly, with the migration path named
    val write2 = new graft.sources.PotV2Write(
      pot, graft.sources.PotV2Source.Schema, "q-ceil2",
      truncateFirst = false, maxObjectBytes = 1000L, compactEvery = 2)
    val e = intercept[graft.sources.PotTooLarge] {
      write2.toStreaming.commit(1L, Array(stage(write2, 1L, "x")))
    }
    assert(e.getMessage.contains("BucketedPotTable"))
  }

  test("PotV2 size-based dgen compaction (r15): a FAT epoch triggers the snapshot path long before the count threshold") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val dir = java.nio.file.Files.createTempDirectory("potv2szc").toString
    val pot = s"$dir/t/data.json"
    val fmt = classOf[graft.sources.PotV2Source].getName
    val fs = new org.apache.hadoop.fs.Path(pot)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val commits = new org.apache.hadoop.fs.Path(s"$dir/t/.commits")
    def artifact(g: Long) = graft.kv.CommitMarker.read(fs,
      new org.apache.hadoop.fs.Path(commits, g.toString))
    // tiny base snapshot (gen 1)
    Seq(("", "base", """{"v": 0}""")).toDF("pot_file", "key", "doc_json")
      .write.format(fmt).option("path", pot).mode("overwrite").save()
    // count threshold far away; size factor 4 (the default) active
    val write = new graft.sources.PotV2Write(
      pot, graft.sources.PotV2Source.Schema, "q-szc",
      truncateFirst = false, compactEvery = 100)
    val sw = write.toStreaming
    def stage(epoch: Long, rows: Seq[(String, String)])
        : org.apache.spark.sql.connector.write.WriterCommitMessage = {
      val w = write.writerFactory.createWriter(0, 0L, epoch)
      rows.foreach { case (k, d) => w.write(InternalRow(
        UTF8String.fromString(""), UTF8String.fromString(k),
        UTF8String.fromString(d))) }
      w.commit()
    }
    // epoch 1: FAT (bytes >> 4 x base snapshot) — still a delta (the run
    // was empty when it committed; the trigger looks at the EXISTING run)
    sw.commit(1L, Array(stage(1L, (1 to 500).map(i =>
      f"fat$i%04d" -> s"""{"pad": "${"x" * 40}"}"""))))
    assert(artifact(2L).contains(".dgen-"),
      s"first epoch over an empty run must stay a delta: ${artifact(2L)}")
    // epoch 2: the run's bytes now dwarf the covering snapshot — SIZE
    // trigger compacts (count threshold is 99 epochs away)
    sw.commit(2L, Array(stage(2L, Seq("tiny" -> """{"v": 1}"""))))
    assert(artifact(3L).contains(".snap-"),
      s"fat dgen run did not size-trigger compaction: ${artifact(3L)}")
    // the compacted read is complete and data.json re-materialized
    val back = spark.read.format(fmt).option("path", pot).load()
    assert(back.count() === 502L)
    assert(fs.getFileStatus(
      new org.apache.hadoop.fs.Path(pot)).getLen > 20000,
      "compaction epoch did not re-materialize data.json")
    // factor <= 0 disables: same shape stays on the delta path
    val dir2 = java.nio.file.Files.createTempDirectory("potv2szc2").toString
    val pot2 = s"$dir2/t/data.json"
    Seq(("", "base", """{"v": 0}""")).toDF("pot_file", "key", "doc_json")
      .write.format(fmt).option("path", pot2).mode("overwrite").save()
    val write2 = new graft.sources.PotV2Write(
      pot2, graft.sources.PotV2Source.Schema, "q-szc2",
      truncateFirst = false, compactEvery = 100,
      compactBytesFactor = 0.0)
    val sw2 = write2.toStreaming
    def stage2(epoch: Long, rows: Seq[(String, String)])
        : org.apache.spark.sql.connector.write.WriterCommitMessage = {
      val w = write2.writerFactory.createWriter(0, 0L, epoch)
      rows.foreach { case (k, d) => w.write(InternalRow(
        UTF8String.fromString(""), UTF8String.fromString(k),
        UTF8String.fromString(d))) }
      w.commit()
    }
    sw2.commit(1L, Array(stage2(1L, (1 to 500).map(i =>
      f"fat$i%04d" -> s"""{"pad": "${"x" * 40}"}"""))))
    sw2.commit(2L, Array(stage2(2L, Seq("tiny" -> """{"v": 1}"""))))
    val commits2 = new org.apache.hadoop.fs.Path(s"$dir2/t/.commits")
    assert(graft.kv.CommitMarker.read(fs,
      new org.apache.hadoop.fs.Path(commits2, "3")).contains(".dgen-"),
      "disabled size trigger still compacted")
  }

  test("PotV2Source streaming read rejects a generation pin loudly") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("potv2sg").toString
    val pot = s"$root/t/data.json"
    val fmt = classOf[graft.sources.PotV2Source].getName
    Seq(("", "a", """{"v": 1}"""))
      .toDF("pot_file", "key", "doc_json")
      .write.format(fmt).option("path", pot).mode("overwrite").save()
    // generation pinning is batch-only: a streaming read's offsets ARE
    // the generation chain, so the option must fail loudly instead of
    // silently streaming the full feed from 0
    val e = intercept[Exception] {
      val q = spark.readStream.format(fmt).option("path", pot)
        .option("generation", "1").load()
        .writeStream.format("noop")
        .option("checkpointLocation", s"$root/chk").start()
      try { q.processAllAvailable(); q.stop() }
      finally { if (q.isActive) q.stop() }
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("batch-only")),
      s"expected the batch-only generation error, got: ${messages(e)}")
  }

  test("shred is batch-only (r18 ADVICE): streaming and changes reads " +
    "decline by name at planning, never 'unknown column' at runtime") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("potv2shredst").toString
    val pot = s"$root/t/data.json"
    val fmt = classOf[graft.sources.PotV2Source].getName
    Seq(("", "a", """{"v": 1}"""))
      .toDF("pot_file", "key", "doc_json")
      .write.format(fmt).option("path", pot).mode("overwrite").save()
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    // readStream + shred: the micro-batch reader emits change rows only
    val e = intercept[Exception] {
      val q = spark.readStream.format(fmt).option("path", pot)
        .option("shred", "v:bigint").load()
        .writeStream.format("noop")
        .option("checkpointLocation", s"$root/chk").start()
      try { q.processAllAvailable(); q.stop() }
      finally { if (q.isActive) q.stop() }
    }
    assert(messages(e).exists(m => m.contains("batch-only") &&
      m.contains("shred")),
      s"expected the batch-only shred error, got: ${messages(e)}")
    // batch changes read + shred: same decline, mutual-exclusion style
    Seq("changesFrom" -> "0",
        "changesFromVector" -> s"""{"$pot":0}""").foreach { case (opt, v) =>
      val c = intercept[Exception] {
        spark.read.format(fmt).option("path", pot)
          .option(opt, v).option("shred", "v:bigint").load().collect()
      }
      assert(messages(c).exists(m => m.contains("mutually exclusive") &&
        m.contains("shred")),
        s"expected the shred/$opt decline, got: ${messages(c)}")
    }
  }

  test("PotV2Source generation reads pin the chain; uncommitted/glob reads fail loudly") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("potv2tt").toString
    val pot = s"$dir/t/data.json"
    val fmt = classOf[graft.sources.PotV2Source].getName
    def put(k: String, v: Int, mode: String): Unit =
      Seq(("", k, s"""{"v": $v}""")).toDF("pot_file", "key", "doc_json")
        .write.format(fmt).option("path", pot).mode(mode).save()
    put("a", 1, "overwrite"); put("a", 2, "append"); put("b", 3, "append")
    def keysAt(gen: Long) = spark.read.format(fmt)
      .option("path", pot).option("generation", gen.toString).load()
      .select($"key", $"doc_json").as[(String, String)].collect().toMap
    assert(keysAt(1L) === Map("a" -> """{"v":1}"""))
    assert(keysAt(2L) === Map("a" -> """{"v":2}"""))
    assert(keysAt(3L) === Map("a" -> """{"v":2}""", "b" -> """{"v":3}"""))
    // the Generation marker is visible in the plan description
    val p = spark.read.format(fmt).option("path", pot)
      .option("generation", "2").load().queryExecution.executedPlan.toString
    assert(p.contains("Generation: 2"), p)
    // uncommitted generation: loud failure, never a stale fallback
    val e = intercept[Throwable] { keysAt(9L) }
    assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
      .exists(_.getMessage.contains("not committed")))
    // glob + generation is rejected (no shared generation counter)
    val g = intercept[Throwable] {
      spark.read.format(fmt).option("path", s"$dir/*/data.json")
        .option("generation", "1").load().collect()
    }
    assert(Iterator.iterate(g)(_.getCause).takeWhile(_ != null).take(8)
      .exists(_.getMessage.contains("ONE pot object")))
  }

  test("PotV2Source generation read of a vacuumed snapshot fails RetentionViolated, not FileNotFound") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("potv2rv").toString
    val pot = s"$dir/t/data.json"
    val fmt = classOf[graft.sources.PotV2Source].getName
    def put(k: String, v: Int, mode: String): Unit =
      Seq(("", k, s"""{"v": $v}""")).toDF("pot_file", "key", "doc_json")
        .write.format(fmt).option("path", pot).mode(mode).save()
    put("a", 1, "overwrite"); put("a", 2, "append"); put("b", 3, "append")
    val fs = new org.apache.hadoop.fs.Path(pot)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val deleted = graft.sources.PotV2Source.vacuumSnapshots(fs, pot)
    assert(deleted.nonEmpty, "vacuum should reclaim the superseded bodies")
    // the SQL path gets the PotTable.getAt contract: loud and NAMED
    val e = intercept[Throwable] {
      spark.read.format(fmt).option("path", pot)
        .option("generation", "1").load().collect()
    }
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
      .flatMap(t => Option(t.getMessage)).toSeq
    assert(msgs.exists(_.contains("vacuumed")),
      s"expected the retention message, got: $msgs")
    assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
      .exists(_.isInstanceOf[graft.kv.PotTable.RetentionViolated]),
      s"expected RetentionViolated, got: $e")
    // the head generation still reads fine
    val head = spark.read.format(fmt).option("path", pot)
      .option("generation", "3").load()
      .select($"key").as[String].collect().sorted
    assert(head === Array("a", "b"))
  }

  test("PotV2Source streaming read resumes from its generation offset, no re-delivery") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("potv2src").toString
    val pot = s"$root/t/data.json"
    val fmt = classOf[graft.sources.PotV2Source].getName
    def put(rows: Seq[(String, Int)], mode: String): Unit =
      rows.map { case (k, v) => ("", k, s"""{"v": $v}""") }
        .toDF("pot_file", "key", "doc_json")
        .write.format(fmt).option("path", pot).mode(mode).save()
    put(Seq("a" -> 1, "b" -> 2), "overwrite")
    val feed = s"$root/feed"
    def drain(): Unit = {
      val q = spark.readStream.format(fmt).option("path", pot).load()
        .writeStream.format("parquet").option("path", feed)
        .option("checkpointLocation", s"$root/chk").start()
      q.processAllAvailable(); q.stop()
    }
    drain()
    def feedRows() = spark.read.parquet(feed)
      .select($"key", $"doc_json").as[(String, String)].collect().toSeq.sorted
    assert(feedRows() === Seq(
      "a" -> """{"v":1}""", "b" -> """{"v":2}"""))
    // two more generations land while the stream is DOWN; the restarted
    // query resumes from its committed generation offset — exactly the
    // new deltas flow, generation-1 rows are NOT re-delivered
    put(Seq("b" -> 9), "append")
    put(Seq("c" -> 3), "append")
    drain()
    assert(feedRows() === Seq(
      "a" -> """{"v":1}""", "b" -> """{"v":2}""",
      "b" -> """{"v":9}""", "c" -> """{"v":3}"""))
    // a truncate-mode rewrite that DROPS keys emits delete tombstones
    // (doc_json = 'null', the Kafka null-body convention) for the
    // vanished keys, alongside the survivor's upsert
    put(Seq("c" -> 4), "overwrite")
    drain()
    assert(feedRows() === Seq(
      "a" -> "null", "a" -> """{"v":1}""",
      "b" -> "null", "b" -> """{"v":2}""",
      "b" -> """{"v":9}""", "c" -> """{"v":3}""", "c" -> """{"v":4}"""))
  }

  test("PotV2 change feed: delta sidecars match the snapshot diff and survive snapshot vacuum") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("potv2delta").toString
    val pot = s"$root/t/data.json"
    val fmt = classOf[graft.sources.PotV2Source].getName
    def put(rows: Seq[(String, Int)], mode: String): Unit =
      rows.map { case (k, v) => ("", k, s"""{"v": $v}""") }
        .toDF("pot_file", "key", "doc_json")
        .write.format(fmt).option("path", pot).mode(mode).save()
    // 3-generation chain incl. a truncate rewrite (tombstone coverage)
    put(Seq("a" -> 1, "b" -> 2), "overwrite")
    put(Seq("b" -> 9), "append")
    put(Seq("c" -> 3), "overwrite")
    val potDir = new org.apache.hadoop.fs.Path(s"$root/t")
    val fs = potDir.getFileSystem(spark.sessionState.newHadoopConf())
    def ls(prefix: String) = fs.listStatus(potDir).map(_.getPath.getName)
      .filter(_.startsWith(prefix)).toSeq
    assert(ls(".delta-").size === 3, s"expected 3 sidecars, got ${ls(".delta-")}")
    var n = 0
    def drain(): Seq[(String, String, String)] = {
      n += 1
      val feed = s"$root/feed$n"
      val q = spark.readStream.format(fmt).option("path", pot).load()
        .writeStream.format("parquet").option("path", feed)
        .option("checkpointLocation", s"$root/chk$n").start()
      q.processAllAvailable(); q.stop()
      spark.read.parquet(feed)
        .select($"pot_file", $"key", $"doc_json")
        .as[(String, String, String)].collect().toSeq.sorted
    }
    val viaSidecar = drain()
    assert(viaSidecar.map(t => (t._2, t._3)).sorted === Seq(
      "a" -> "null", "a" -> """{"v":1}""", "b" -> "null",
      "b" -> """{"v":2}""", "b" -> """{"v":9}""", "c" -> """{"v":3}"""))
    // legacy chain: remove every sidecar — the snapshot-diff fallback
    // must produce bit-identical rows
    ls(".delta-").foreach(d => fs.delete(
      new org.apache.hadoop.fs.Path(potDir, d), false))
    val viaDiff = drain()
    assert(viaDiff === viaSidecar,
      "snapshot-diff fallback diverged from the sidecar rows")
    // sidecar retention decouples CDC from snapshot vacuum: rebuild the
    // sidecars by... they're gone, so rebuild the whole chain in a fresh
    // pot, vacuum the non-head snapshots, and replay the feed from 0 —
    // vacuumed generations must stream from their sidecars alone
    val pot2 = s"$root/t2/data.json"
    def put2(rows: Seq[(String, Int)], mode: String): Unit =
      rows.map { case (k, v) => ("", k, s"""{"v": $v}""") }
        .toDF("pot_file", "key", "doc_json")
        .write.format(fmt).option("path", pot2).mode(mode).save()
    put2(Seq("a" -> 1, "b" -> 2), "overwrite")
    put2(Seq("b" -> 9), "append")
    put2(Seq("c" -> 3), "overwrite")
    val deleted = graft.sources.PotV2Source.vacuumSnapshots(fs, pot2)
    assert(deleted.size === 2, s"vacuum should drop 2 non-head snaps: $deleted")
    assert(deleted.forall(_.contains(".snap-")), s"vacuum touched a sidecar: $deleted")
    val feed2 = s"$root/feed-v"
    val q2 = spark.readStream.format(fmt).option("path", pot2).load()
      .writeStream.format("parquet").option("path", feed2)
      .option("checkpointLocation", s"$root/chk-v").start()
    q2.processAllAvailable(); q2.stop()
    val afterVacuum = spark.read.parquet(feed2)
      .select($"key", $"doc_json").as[(String, String)].collect().toSeq.sorted
    assert(afterVacuum === viaSidecar.map(t => (t._2, t._3)).sorted,
      "vacuumed generations did not replay from sidecars")
  }

  test("PotV2 multi-pot feed: per-pot vector offsets resume exactly; new pots replay from 0") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("potv2mp").toString
    val fmt = classOf[graft.sources.PotV2Source].getName
    def put(pot: String, rows: Seq[(String, Int)], mode: String): Unit =
      rows.map { case (k, v) => ("", k, s"""{"v": $v}""") }
        .toDF("pot_file", "key", "doc_json")
        .write.format(fmt).option("path", s"$root/pots/$pot/data.json")
        .mode(mode).save()
    put("a", Seq("a1" -> 1), "overwrite")
    put("b", Seq("b1" -> 1), "overwrite")
    val feed = s"$root/feed"
    def drain(): Seq[(String, String)] = {
      val q = spark.readStream.format(fmt)
        .option("path", s"$root/pots/*/data.json").load()
        .writeStream.format("parquet").option("path", feed)
        .option("checkpointLocation", s"$root/chk").start()
      q.processAllAvailable(); q.stop()
      spark.read.parquet(feed).select($"key", $"doc_json")
        .as[(String, String)].collect().toSeq.sorted
    }
    assert(drain() === Seq(
      "a1" -> """{"v":1}""", "b1" -> """{"v":1}"""))
    // while the stream is DOWN: pot a advances two generations, pot b is
    // idle, pot c APPEARS under the glob. The restarted query must resume
    // each pot from its own vector entry — a's two new deltas and c's
    // full chain flow; b re-delivers NOTHING.
    put("a", Seq("a2" -> 2), "append")
    put("a", Seq("a1" -> 9), "append")
    put("c", Seq("c1" -> 3), "overwrite")
    assert(drain() === Seq(
      "a1" -> """{"v":1}""", "a1" -> """{"v":9}""", "a2" -> """{"v":2}""",
      "b1" -> """{"v":1}""", "c1" -> """{"v":3}"""))
    // offset JSON is deterministic (sorted keys) and round-trips
    val off = graft.sources.PotMultiGenOffset(
      Map("z/p" -> 2L, "a/p" -> 5L))
    assert(graft.sources.PotMultiGenOffset.fromJson(off.json) === off)
    assert(off.json.indexOf("a/p") < off.json.indexOf("z/p"))
  }

  test("PotV2Source write: concurrent appends never lose an update or tear data.json") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("potv2race").toString
    val pot = s"$dir/t/data.json"
    val fmt = classOf[graft.sources.PotV2Source].getName
    Seq(("", "seed", """{"v": 0}"""))
      .toDF("pot_file", "key", "doc_json")
      .write.format(fmt).option("path", pot).mode("overwrite").save()
    def isConflict(t: Throwable): Boolean =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .exists(_.isInstanceOf[graft.kv.PotTable.CommitConflict])
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val results = Seq("a", "b").map { tag =>
      pool.submit(new java.util.concurrent.Callable[Option[Throwable]] {
        override def call(): Option[Throwable] = {
          barrier.await()
          try {
            (1 to 20).map(i => ("", s"$tag$i", s"""{"t": "$tag"}"""))
              .toDF("pot_file", "key", "doc_json")
              .write.format(fmt).option("path", pot).mode("append").save()
            None
          } catch { case t: Throwable => Some(t) }
        }
      })
    }.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    pool.shutdown()
    val failures = results.flatten
    // every failure must be the clean conflict (loser retries), and at
    // least one writer must have won its generation
    assert(failures.forall(isConflict), s"non-conflict failure: $failures")
    assert(failures.size < 2, "both writers lost")
    // data.json is a valid JSON map whose content is exactly the chain
    // head's merge: seed + every SUCCESSFUL writer's keys, no torn bytes
    val back = spark.read.format(fmt).option("path", pot).load()
      .select($"key").as[String].collect().toSet
    val winners = Seq("a", "b").zip(results).filter(_._2.isEmpty).map(_._1)
    val expected = Set("seed") ++
      winners.flatMap(t => (1 to 20).map(i => s"$t$i"))
    assert(back === expected, s"lost update: winners=$winners")
  }

  test("PotV2 SQL DELETE: key predicates rewrite the pot, dropped keys become sidecar tombstones, non-exact shapes decline") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("potv2sqldel").toString
    val pot = s"$root/t/data.json"
    val fmt = classOf[graft.sources.PotV2Source].getName
    val tbl = "graft_spec_del"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (pot_file STRING, key STRING, " +
      s"doc_json STRING) USING $fmt OPTIONS (path '$pot')")
    Seq(("", "a1", """{"v": 1}"""), ("", "a2", """{"v": 2}"""),
        ("", "b1", """{"v": 3}"""))
      .toDF("pot_file", "key", "doc_json")
      .write.format(fmt).option("path", pot).mode("overwrite").save()
    spark.sql(s"DELETE FROM $tbl WHERE key LIKE 'a%'")
    assert(spark.sql(s"SELECT key FROM $tbl").as[String].collect().toSeq
      === Seq("b1"))
    // the delete generation's sidecar carries the dropped keys as
    // tombstones — the change feed (and st19's mirror) sees the DELETE
    val potDir = new org.apache.hadoop.fs.Path(s"$root/t")
    val fs = potDir.getFileSystem(spark.sessionState.newHadoopConf())
    val deltas = fs.listStatus(potDir).map(_.getPath)
      .filter(_.getName.startsWith(".delta-"))
    val bodies = deltas.map { p =>
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    assert(bodies.exists(b => b.contains(""""k":"a1","d":null""") &&
      b.contains(""""k":"a2","d":null""")),
      s"delete generation wrote no tombstone sidecar: ${bodies.mkString("|")}")
    // a predicate the metadata path cannot evaluate exactly against
    // (pot_file, key) — canDeleteWhere declines it — routes through the
    // row-level (SupportsDelta) rewrite instead: delete by CONTENT,
    // still one LWW generation
    spark.sql(s"DELETE FROM $tbl WHERE doc_json LIKE '%3%'")
    assert(spark.sql(s"SELECT key FROM $tbl").as[String].collect().isEmpty,
      "row-level DELETE by content did not apply")
    spark.sql(s"DROP TABLE $tbl")
  }

  test("PotV2 SQL UPDATE rewrites the targeted docs as one delta generation") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("potv2squp").toString
    val pot = s"$root/t/data.json"
    val fmt = classOf[graft.sources.PotV2Source].getName
    val tbl = "graft_spec_upd"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (pot_file STRING, key STRING, " +
      s"doc_json STRING) USING $fmt OPTIONS (path '$pot')")
    Seq(("", "a1", """{"v": 1}"""), ("", "a2", """{"v": 2}"""))
      .toDF("pot_file", "key", "doc_json")
      .write.format(fmt).option("path", pot).mode("overwrite").save()
    spark.sql(s"""UPDATE $tbl SET doc_json = '{"v": 9}' WHERE key = 'a2'""")
    assert(spark.sql(s"SELECT key, doc_json FROM $tbl ORDER BY key")
      .as[(String, String)].collect().toSeq
      === Seq("a1" -> """{"v":1}""", "a2" -> """{"v":9}"""))
    // the whole statement is ONE generation on the chain
    val commits = new org.apache.hadoop.fs.Path(s"$root/t/.commits")
    val fs = commits.getFileSystem(spark.sessionState.newHadoopConf())
    assert(graft.kv.CommitMarker.committedGenerations(fs, commits).max === 2L)
    spark.sql(s"DROP TABLE $tbl")
  }

  test("PotV2 batch changes read equals the streaming feed and rejects out-of-range starts") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("potv2chg").toString
    val pot = s"$root/t/data.json"
    val fmt = classOf[graft.sources.PotV2Source].getName
    def put(rows: Seq[(String, Int)], mode: String): Unit =
      rows.map { case (k, v) => ("", k, s"""{"v": $v}""") }
        .toDF("pot_file", "key", "doc_json")
        .write.format(fmt).option("path", pot).mode(mode).save()
    put(Seq("a" -> 1, "b" -> 2), "overwrite")
    put(Seq("b" -> 9), "append")
    put(Seq("c" -> 3), "overwrite")
    def batchFrom(g: Long) = spark.read.format(fmt)
      .option("path", pot).option("changesFrom", g.toString).load()
      .select($"pot_file", $"key", $"doc_json")
      .as[(String, String, String)].collect().toSeq.sorted
    // full-range batch read ≡ a full streaming drain (same reader)
    val feedDir = s"$root/feed"
    val q = spark.readStream.format(fmt).option("path", pot).load()
      .writeStream.format("parquet").option("path", feedDir)
      .option("checkpointLocation", s"$root/chk").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.read.parquet(feedDir)
      .select($"pot_file", $"key", $"doc_json")
      .as[(String, String, String)].collect().toSeq.sorted
    assert(batchFrom(0) === streamed, "batch changes diverged from the feed")
    // suffix range: only generations > 2
    assert(batchFrom(2).map(t => (t._2, t._3)) ===
      Seq("a" -> "null", "b" -> "null", "c" -> """{"v":3}""").sorted)
    // the generation-pin discipline: out-of-range start fails loudly
    val e = intercept[Exception] { batchFrom(9) }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("out of range")), e)
  }

  test("PotV2 SQL UPDATE reassigning the key MOVES the doc; a key swap round-trips") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("potv2ren").toString
    val pot = s"$root/t/data.json"
    val fmt = classOf[graft.sources.PotV2Source].getName
    val tbl = "graft_spec_ren"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (pot_file STRING, key STRING, " +
      s"doc_json STRING) USING $fmt OPTIONS (path '$pot')")
    Seq(("", "a", """{"v": 1}"""), ("", "b", """{"v": 2}"""),
        ("", "c", """{"v": 3}"""))
      .toDF("pot_file", "key", "doc_json")
      .write.format(fmt).option("path", pot).mode("overwrite").save()
    // rename: the old identity must die (key IS the row identity)
    spark.sql(s"UPDATE $tbl SET key = 'c2' WHERE key = 'c'")
    assert(spark.sql(s"SELECT key FROM $tbl ORDER BY key")
      .as[String].collect().toSeq === Seq("a", "b", "c2"),
      "rename left the old key behind")
    // key SWAP in one statement: removals-first folding makes it exact
    // however the rows land across partitions
    spark.sql(s"""UPDATE $tbl SET key = CASE key WHEN 'a' THEN 'b'
                 |  WHEN 'b' THEN 'a' END WHERE key IN ('a', 'b')"""
      .stripMargin)
    assert(spark.sql(s"SELECT key, doc_json FROM $tbl ORDER BY key")
      .as[(String, String)].collect().toSeq ===
      Seq("a" -> """{"v":2}""", "b" -> """{"v":1}""",
        "c2" -> """{"v":3}"""),
      "key swap lost a row")
    spark.sql(s"DROP TABLE $tbl")
  }

  test("PotV2 glob changes read is the full-history bucket audit; nonzero start declines") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("potv2gchg").toString
    val fmt = classOf[graft.sources.PotV2Source].getName
    def put(pot: String, rows: Seq[(String, Int)], mode: String): Unit =
      rows.map { case (k, v) => ("", k, s"""{"v": $v}""") }
        .toDF("pot_file", "key", "doc_json")
        .write.format(fmt).option("path", s"$root/$pot/data.json")
        .mode(mode).save()
    put("p1", Seq("a" -> 1), "overwrite"); put("p1", Seq("a" -> 2), "append")
    put("p2", Seq("x" -> 7), "overwrite")
    val glob = s"$root/*/data.json"
    val rows = spark.read.format(fmt).option("path", glob)
      .option("changesFrom", "0").load()
      .select($"key", $"doc_json").as[(String, String)]
      .collect().toSeq.sorted
    assert(rows === Seq("a" -> """{"v":1}""", "a" -> """{"v":2}""",
      "x" -> """{"v":7}"""), rows.toString)
    // per-pot generation counters make a nonzero glob start meaningless —
    // that consumer is the multi-pot stream (st18)
    intercept[Exception] {
      spark.read.format(fmt).option("path", glob)
        .option("changesFrom", "1").load().collect()
    }
  }

  test("PotV2 row-level op pins its SCAN to the captured generation (never the lagging data.json)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("potv2pin").toString
    val pot = s"$root/t/data.json"
    val fmt = classOf[graft.sources.PotV2Source].getName
    def put(rows: Seq[(String, Int)], mode: String): Unit =
      rows.map { case (k, v) => ("", k, s"""{"v": $v}""") }
        .toDF("pot_file", "key", "doc_json")
        .write.format(fmt).option("path", pot).mode(mode).save()
    put(Seq("a" -> 1), "overwrite") // generation 1
    // the operation is BUILT at head=1 (captures observedHeadGen)...
    val op = new graft.sources.PotRowLevelOperation(pot,
      org.apache.spark.sql.connector.write.RowLevelOperation.Command.UPDATE)
    // ...then a concurrent writer lands generation 2
    put(Seq("a" -> 2), "append")
    val scan = op.newScanBuilder(
      org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
      .build()
    assert(scan.description().contains("Generation: 1"),
      s"scan is not pinned to the captured generation: ${scan.description()}")
    // reading the pinned scan yields generation-1 CONTENT — the state the
    // commit's expectedHeadGen check protects, not whatever data.json
    // (which may lag or lead the chain) holds at scan time
    val parts = scan.toBatch.planInputPartitions()
    assert(parts.length === 1)
    val r = scan.toBatch.createReaderFactory().createReader(parts.head)
    val docs = scala.collection.mutable.Map.empty[String, String]
    while (r.next()) {
      val row = r.get()
      docs(row.getUTF8String(1).toString) = row.getUTF8String(2).toString
    }
    r.close()
    assert(docs.toMap === Map("a" -> """{"v":1}"""),
      "row-level scan read state other than the pinned generation")
  }

  test("PotV2 multi-pot feed: a pot transiently absent from the glob keeps its committed coordinate") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("potv2mpabs").toString
    val fmt = classOf[graft.sources.PotV2Source].getName
    def put(pot: String, rows: Seq[(String, Int)]): Unit =
      rows.map { case (k, v) => ("", k, s"""{"v": $v}""") }
        .toDF("pot_file", "key", "doc_json")
        .write.format(fmt).option("path", s"$root/pots/$pot/data.json")
        .mode("overwrite").save()
    put("a", Seq("a1" -> 1)); put("b", Seq("b1" -> 1))
    val stream = new graft.sources.PotV2MultiPotStream(
      s"$root/pots/*/data.json", graft.sources.PotV2Source.Schema)
    val o1 = stream.latestOffset()
      .asInstanceOf[graft.sources.PotMultiGenOffset]
    assert(o1.gens.size === 2 && o1.gens.values.forall(_ === 1L), o1.json)
    // simulate the materialize delete+rename window: b's data.json is
    // transiently absent from globStatus while its chain is intact
    val bData = java.nio.file.Paths.get(s"$root/pots/b/data.json")
    val bytes = java.nio.file.Files.readAllBytes(bData)
    java.nio.file.Files.delete(bData)
    val o2 = stream.latestOffset()
      .asInstanceOf[graft.sources.PotMultiGenOffset]
    assert(o2.gens === o1.gens,
      s"absent pot dropped its committed coordinate: ${o2.json}")
    // on reappearance nothing replays: the carried coordinate means the
    // batch between the two offsets has NO partitions for b
    java.nio.file.Files.write(bData, bytes)
    val o3 = stream.latestOffset()
      .asInstanceOf[graft.sources.PotMultiGenOffset]
    assert(o3.gens === o1.gens, o3.json)
    assert(stream.planInputPartitions(o2, o3).isEmpty,
      "reappearing pot replayed its chain")
  }

  test("PotV2 multi-pot feed: a RECREATED pot (chain regression) fails loudly, never pins silently (r15)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("potv2mprec").toString
    val fmt = classOf[graft.sources.PotV2Source].getName
    def put(pot: String, rows: Seq[(String, Int)], mode: String): Unit =
      rows.map { case (k, v) => ("", k, s"""{"v": $v}""") }
        .toDF("pot_file", "key", "doc_json")
        .write.format(fmt).option("path", s"$root/pots/$pot/data.json")
        .mode(mode).save()
    put("a", Seq("a1" -> 1), "overwrite")
    put("a", Seq("a2" -> 2), "append") // chain head = 2
    val stream = new graft.sources.PotV2MultiPotStream(
      s"$root/pots/*/data.json", graft.sources.PotV2Source.Schema)
    val o1 = stream.latestOffset()
      .asInstanceOf[graft.sources.PotMultiGenOffset]
    assert(o1.gens.values.toSeq === Seq(2L), o1.json)
    // the pot is deleted and RECREATED from scratch: a fresh chain
    // restarting at generation 1 — its head is now BELOW the stream's
    // carried coordinate. Silence here would swallow the new chain's
    // rows forever; the contract is a loud failure.
    val dir = new java.io.File(s"$root/pots/a")
    new scala.reflect.io.Directory(dir).deleteRecursively()
    put("a", Seq("fresh" -> 9), "overwrite") // new chain, head = 1
    val e = intercept[IllegalStateException] { stream.latestOffset() }
    assert(e.getMessage.contains("regressed"), e.getMessage)
  }

  test("PotV2 MERGE/UPDATE/DELETE honors the maxObjectBytes option like the batch write path") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("potv2dcap").toString
    val pot = s"$root/t/data.json"
    val fmt = classOf[graft.sources.PotV2Source].getName
    Seq(("", "a", """{"v": 1}"""), ("", "b", """{"v": 2}"""))
      .toDF("pot_file", "key", "doc_json")
      .write.format(fmt).option("path", pot).mode("overwrite").save()
    def infoWith(opts: java.util.Map[String, String]) =
      new org.apache.spark.sql.connector.write.LogicalWriteInfo {
        override def options() =
          new org.apache.spark.sql.util.CaseInsensitiveStringMap(opts)
        override def queryId() = java.util.UUID.randomUUID().toString
        override def schema() = graft.sources.PotV2Source.Schema
        override def rowIdSchema() = java.util.Optional.of(
          StructType(Seq(StructField("key", StringType))))
        override def metadataSchema() =
          java.util.Optional.empty[StructType]()
      }
    // a 10-byte ceiling through the DELTA path: the head merge base is
    // over it, so the commit fails loudly with the migration message —
    // the same contract .option("maxObjectBytes", n) gives batch INSERT
    val capped = new graft.sources.PotV2DeltaWrite(pot,
      infoWith(java.util.Map.of("maxObjectBytes", "10")), 1L)
    val e = intercept[graft.sources.PotTooLarge] {
      capped.commit(Array.empty)
    }
    assert(e.getMessage.contains("BucketedPotTable"))
    // default ceiling: the same empty delta commits fine (generation 2)
    new graft.sources.PotV2DeltaWrite(pot,
      infoWith(java.util.Map.of()), 1L).commit(Array.empty)
    val commits = new org.apache.hadoop.fs.Path(s"$root/t/.commits")
    val fs = commits.getFileSystem(spark.sessionState.newHadoopConf())
    assert(graft.kv.CommitMarker.committedGenerations(fs, commits).max === 2L)
  }

  test("PotV2 SQL DELETE surfaces a vacuumed head as a clean conflict, not a raw FileNotFound") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("potv2delfnf").toString
    val pot = s"$root/t/data.json"
    val fmt = classOf[graft.sources.PotV2Source].getName
    val tbl = "graft_spec_del_fnf"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (pot_file STRING, key STRING, " +
      s"doc_json STRING) USING $fmt OPTIONS (path '$pot')")
    Seq(("", "a", """{"v": 1}"""))
      .toDF("pot_file", "key", "doc_json")
      .write.format(fmt).option("path", pot).mode("overwrite").save()
    // simulate the vacuum window: the head marker stands but its body is
    // gone (in a real race a newer head exists and the retry adopts it;
    // here the chain stays corrupt, so the loop must end in the loud
    // re-run contract — never a raw FileNotFoundException)
    val dirP = new org.apache.hadoop.fs.Path(s"$root/t")
    val fs = dirP.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(dirP).map(_.getPath)
      .filter(_.getName.startsWith(".snap-")).foreach(fs.delete(_, false))
    val e = intercept[Exception] { spark.sql(s"DELETE FROM $tbl WHERE key = 'a'") }
    def chain(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(x => x +: chain(x.getCause))
    assert(chain(e).exists(_.isInstanceOf[graft.kv.PotTable.CommitConflict]),
      s"expected CommitConflict, got: $e")
    assert(!chain(e).exists(_.isInstanceOf[java.io.FileNotFoundException]),
      "raw FileNotFoundException leaked out of SQL DELETE")
    spark.sql(s"DROP TABLE $tbl")
  }

  test("BucketedPotV2 SQL store: INSERT routes by bucket, point reads prune to one object, MERGE/DELETE rewrite only touched buckets") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("bpotv2").toString
    val fmt = classOf[graft.sources.BucketedPotV2Source].getName
    val tbl = "graft_spec_bpot"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (pot_file STRING, key STRING, " +
      s"doc_json STRING) USING $fmt OPTIONS (path '$root', buckets '8')")
    // seed 40 keys: rows hash-route to per-bucket pot objects
    val seed = (1 to 40).map(i => ("", f"c$i%03d", s"""{"v": $i}"""))
    seed.toDF("pot_file", "key", "doc_json").createOrReplaceTempView("bpot_seed")
    spark.sql(s"INSERT INTO $tbl SELECT * FROM bpot_seed")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val bucketDirs = fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .map(_.getPath.getName).filter(_.startsWith("_b=")).toSeq
    assert(bucketDirs.size > 1 && bucketDirs.size <= 8,
      s"keys did not spread across buckets: $bucketDirs")
    assert(spark.sql(s"SELECT count(*) FROM $tbl").as[Long].head() === 40L)
    // LWW: re-insert overwrites by key within its bucket
    spark.sql(s"""INSERT INTO $tbl VALUES ('', 'c005', '{"v": 500}')""")
    assert(spark.sql(s"SELECT doc_json FROM $tbl WHERE key = 'c005'")
      .as[String].head() === """{"v":500}""")
    // the point read above — and this one — prunes to ONE bucket object
    val point = spark.sql(s"SELECT key FROM $tbl WHERE key = 'c007'")
    assert(point.rdd.getNumPartitions === 1,
      "exact key predicate did not prune to its bucket")
    assert(point.as[String].collect().toSeq === Seq("c007"))
    val multi = spark.sql(
      s"SELECT key FROM $tbl WHERE key IN ('c001','c002','c003')")
    assert(multi.rdd.getNumPartitions <= 3)
    assert(multi.as[String].collect().sorted.toSeq === Seq("c001", "c002", "c003"))
    // MERGE: update c001, delete c002, insert n001 — buckets commit with
    // the captured generation vector (pinned scan, loud conflicts)
    Seq(("c001", """{"v": -1}""", "u"), ("c002", "null", "d"),
        ("n001", """{"v": 1000}""", "i"))
      .toDF("key", "doc", "op").createOrReplaceTempView("bpot_src")
    spark.sql(
      s"""MERGE INTO $tbl t USING bpot_src s ON t.key = s.key
         |WHEN MATCHED AND s.op = 'd' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET doc_json = s.doc
         |WHEN NOT MATCHED THEN INSERT (pot_file, key, doc_json)
         |  VALUES ('', s.key, s.doc)""".stripMargin)
    assert(spark.sql(s"SELECT doc_json FROM $tbl WHERE key = 'c001'")
      .as[String].head() === """{"v":-1}""")
    assert(spark.sql(s"SELECT count(*) FROM $tbl WHERE key = 'c002'")
      .as[Long].head() === 0L)
    assert(spark.sql(s"SELECT doc_json FROM $tbl WHERE key = 'n001'")
      .as[String].head() === """{"v":1000}""")
    assert(spark.sql(s"SELECT count(*) FROM $tbl").as[Long].head() === 40L)
    // metadata DELETE rewrites only the touched buckets
    val gensBefore = graft.sources.BucketedPotV2Source.headVector(storeFs(root), root, 8)
    spark.sql(s"DELETE FROM $tbl WHERE key IN ('c010', 'c011')")
    val gensAfter = graft.sources.BucketedPotV2Source.headVector(storeFs(root), root, 8)
    val moved = gensAfter.count { case (b, g) => gensBefore.getOrElse(b, 0L) != g }
    val expectTouched = Set("c010", "c011")
      .map(graft.kv.BucketMeta.bucketOf(_, 8)).size
    assert(moved === expectTouched,
      s"DELETE rewrote $moved buckets, expected $expectTouched")
    assert(spark.sql(s"SELECT count(*) FROM $tbl").as[Long].head() === 38L)
    // INSERT OVERWRITE replaces the WHOLE table: untouched buckets empty
    spark.sql(s"""INSERT OVERWRITE $tbl VALUES ('', 'only', '{"v": 1}')""")
    assert(spark.sql(s"SELECT key FROM $tbl").as[String].collect().toSeq
      === Seq("only"))
    spark.sql(s"DROP TABLE $tbl")
  }

  test("BucketedPotV2 SQL store: two concurrent INSERT statements both land — per-bucket serialization, no lost update") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("bpotv2race").toString
    val fmt = classOf[graft.sources.BucketedPotV2Source].getName
    val tbl = "graft_spec_bpot_race"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (pot_file STRING, key STRING, " +
      s"doc_json STRING) USING $fmt OPTIONS (path '$root', buckets '4')")
    spark.sql(s"""INSERT INTO $tbl VALUES ('', 'seed', '{"v": 0}')""")
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val results = Seq("a", "b").map { tag =>
      pool.submit(new java.util.concurrent.Callable[Option[Throwable]] {
        override def call(): Option[Throwable] = {
          barrier.await()
          try {
            val rows = (1 to 12)
              .map(i => s"('', '$tag$i', '{\"t\": \"$tag\"}')")
              .mkString(", ")
            spark.sql(s"INSERT INTO $tbl VALUES $rows")
            None
          } catch { case t: Throwable => Some(t) }
        }
      })
    }.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    pool.shutdown()
    assert(results.forall(_.isEmpty),
      s"concurrent bucketed INSERT failed: ${results.flatten}")
    val back = spark.sql(s"SELECT key FROM $tbl").as[String].collect().toSet
    val expected = Set("seed") ++
      Seq("a", "b").flatMap(t => (1 to 12).map(i => s"$t$i"))
    assert(back === expected, s"lost update: ${expected -- back}")
    spark.sql(s"DROP TABLE $tbl")
  }

  test("BucketedPotV2 SQL store is self-describing (r15): stamped modulus, wrong-count open loud, count-free open resolves") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("bpotv2meta").toString
    val fmt = classOf[graft.sources.BucketedPotV2Source].getName
    val tbl = "graft_spec_bpot_meta"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (pot_file STRING, key STRING, " +
      s"doc_json STRING) USING $fmt OPTIONS (path '$root', buckets '4')")
    val rows = (1 to 30).map(i => s"('', 'k$i', '{\"v\": $i}')").mkString(", ")
    spark.sql(s"INSERT INTO $tbl VALUES $rows")
    // the INSERT stamped the routing modulus
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$root/_meta/buckets")).trim === "4")
    // count-free open: the stored modulus drives planning-time bucket
    // pruning — the point read opens ONE object and finds the live key
    val free = spark.read.format(fmt).option("path", root).load()
    val point = free.filter($"key" === "k7").select($"key")
    assert(point.rdd.getNumPartitions === 1,
      "count-free open lost planning-time bucket pruning")
    assert(point.as[String].collect().toSeq === Seq("k7"))
    // wrong-count open fails LOUDLY at planning — the r14 verdict's
    // hazard (silently-empty point read over a mis-derived bucket)
    val e = intercept[Throwable] {
      spark.read.format(fmt).option("path", root)
        .option("buckets", "8").load().collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(x => x +: chain(x.getCause))
    assert(chain(e).exists(
      _.isInstanceOf[graft.kv.BucketMeta.BucketCountMismatch]),
      s"expected BucketCountMismatch, got $e")
    // wrong-count WRITE is equally loud (mis-routed keys never land)
    val e2 = intercept[Throwable] {
      Seq(("", "new", """{"v": 1}""")).toDF("pot_file", "key", "doc_json")
        .write.format(fmt).option("path", root).option("buckets", "8")
        .mode("append").save()
    }
    assert(chain(e2).exists(
      _.isInstanceOf[graft.kv.BucketMeta.BucketCountMismatch]),
      s"expected BucketCountMismatch on write, got $e2")
    spark.sql(s"DROP TABLE $tbl")
  }

  test("PotV2 scan reports statistics (r15): a small pot dim auto-broadcasts in a join plan, a large one does not") {
    // a session of its own: the conf set below reaches no other test
    val spark = TestSpark.spark.newSession()
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("potv2stats").toString
    val fmt = classOf[graft.sources.PotV2Source].getName
    def put(pot: String, rows: Seq[(String, String)]): Unit =
      rows.map { case (k, d) => ("", k, d) }
        .toDF("pot_file", "key", "doc_json")
        .write.format(fmt).option("path", s"$root/$pot/data.json")
        .mode("overwrite").save()
    put("small", (1 to 10).map(i => s"k$i" -> s"""{"v": $i}"""))
    // "large" relative to a lowered threshold — the decision mechanism is
    // identical at the default 10 MB, without writing 10 MB in a test
    put("large", (1 to 200).map(i =>
      s"k$i" -> s"""{"pad": "${"x" * 100}"}"""))
    val facts = (1 to 500).flatMap(i => (1 to 10).map(k => (s"k$k", i)))
      .toDF("key", "amt")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "4096")
    def planOf(pot: String): String = {
      val dim = spark.read.format(fmt)
        .option("path", s"$root/$pot/data.json").load()
      facts.join(dim, "key").queryExecution.executedPlan.toString
    }
    // the small pot's reported sizeInBytes is under the threshold: Spark
    // PLANS the broadcast (no stats -> defaultSizeInBytes -> never)
    assert(planOf("small").contains("BroadcastHashJoin"),
      s"small pot did not auto-broadcast:\n${planOf("small")}")
    // the large pot reports over-threshold bytes: a shuffle join,
    // not an executor-memory-blowing forced broadcast
    assert(!planOf("large").contains("BroadcastHashJoin"),
      s"large pot wrongly auto-broadcast:\n${planOf("large")}")
    // pushed pot_file pruning shrinks the report: the two-object glob is
    // over threshold unfiltered, but an exact pot_file predicate prunes
    // to the small object and the join broadcasts again
    val glob = spark.read.format(fmt)
      .option("path", s"$root/*/data.json").load()
    val smallPath = glob.select($"pot_file").distinct().as[String]
      .collect().find(_.contains("small")).get
    val prunedPlan = facts
      .join(glob.filter($"pot_file" === smallPath), "key")
      .queryExecution.executedPlan.toString
    assert(prunedPlan.contains("BroadcastHashJoin"),
      s"pruned scan did not shrink the stats report:\n$prunedPlan")
  }

  test("PotV2 limit/TopN pushdown (r15): the reader stops parsing at k, top-k by key is k-bounded per object") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("potv2lim").toString
    val fmt = classOf[graft.sources.PotV2Source].getName
    Seq("a", "b").foreach { pot =>
      val dir = java.nio.file.Paths.get(root, pot)
      java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.writeString(dir.resolve("data.json"),
        (1 to 50).map(i => s""""$pot${"%03d".format(i)}": {"v": $i}""")
          .mkString("{", ", ", "}"))
    }
    def read() = spark.read.format(fmt)
      .option("path", s"$root/*/data.json").load()
    // LIMIT pushes (partial): plan advertises it, result honors it
    val lim = read().limit(5)
    assert(lim.queryExecution.executedPlan.toString.contains(
      "PushedLimit: 5"),
      s"limit not pushed:\n${lim.queryExecution.executedPlan}")
    assert(lim.count() === 5L)
    // ORDER BY key LIMIT k pushes as TopN; the global result is the true
    // top-k across objects (per-object k-bounded partials, Spark merges)
    val top = read().orderBy($"key").limit(3).select($"key")
    assert(top.queryExecution.executedPlan.toString.contains(
      "PushedTopN: key ASC limit 3"),
      s"TopN not pushed:\n${top.queryExecution.executedPlan}")
    assert(top.as[String].collect().toSeq === Seq("a001", "a002", "a003"))
    val bot = read().orderBy($"key".desc).limit(2).select($"key")
    assert(bot.queryExecution.executedPlan.toString.contains(
      "PushedTopN: key DESC limit 2"), bot.queryExecution.toString())
    assert(bot.as[String].collect().toSeq === Seq("b050", "b049"))
    // O(k)-parse proof: a pot whose tail is GARBAGE after the first
    // entries — a pushed-limit read of the valid prefix succeeds (the
    // streaming parser never reaches the tail), the full read fails
    val g = java.nio.file.Paths.get(root, "garbage")
    java.nio.file.Files.createDirectories(g)
    java.nio.file.Files.writeString(g.resolve("data.json"),
      """{"g1": {"v": 1}, "g2": {"v": 2}, "g3": {"v": 3}, THIS IS NOT JSON""")
    val gpot = spark.read.format(fmt)
      .option("path", s"$root/garbage/data.json").load()
    assert(gpot.limit(2).select($"key").as[String].collect().toSeq
      === Seq("g1", "g2"),
      "pushed limit did not stop the parse before the malformed tail")
    intercept[org.apache.spark.SparkException] { gpot.count() }
  }

  test("PotV2 numRows statistics (r16): commit-stamped counts reach the logical stats; key filters cap them; CBO reorders a 3-way join") {
    // a session of its own: the conf set below reaches no other test
    val spark = TestSpark.spark.newSession()
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("potv2rows").toString
    val fmt = classOf[graft.sources.PotV2Source].getName
    def put(pot: String, n: Int): Unit =
      (1 to n).map(i => ("", s"$pot$i", s"""{"v": $i}"""))
        .toDF("pot_file", "key", "doc_json")
        .write.format(fmt).option("path", s"$root/$pot/data.json")
        .mode("overwrite").save()
    put("a", 1000); put("b", 50); put("c", 5)
    def pot(p: String) = spark.read.format(fmt)
      .option("path", s"$root/$p/data.json").load()
    def rowCount(df: org.apache.spark.sql.DataFrame): Option[BigInt] =
      df.queryExecution.optimizedPlan.stats.rowCount
    // exact count for a snapshot head, through the V2 relation stats
    assert(rowCount(pot("a")) === Some(BigInt(1000)),
      s"snapshot rowCount missing: ${pot("a").queryExecution.optimizedPlan.stats}")
    assert(rowCount(pot("c")) === Some(BigInt(5)))
    // a pushed exact-key predicate caps the estimate at 1 per object
    assert(rowCount(pot("a").filter($"key" === "a5")) === Some(BigInt(1)),
      "key-filtered scan must not report the whole pot's cardinality")
    // delta-headed chain: covering snapshot + dgen fold (2 new upserts,
    // 1 tombstone of an existing key => estimate 5 + 2 - 1 = 6)
    val w = new graft.sources.PotV2Write(
      s"$root/c/data.json", graft.sources.PotV2Source.Schema, "rowsq",
      truncateFirst = false)
    val frag = java.nio.file.Paths.get(root, "c-frag.jsonl")
    java.nio.file.Files.writeString(frag,
      """{"k":"cx1","d":{"v":101}}""" + "\n" +
        """{"k":"cx2","d":{"v":102}}""" + "\n" +
        """{"k":"c1","d":null}""" + "\n")
    w.commitDeltaEpoch(
      Array(graft.sources.PotFragmentMessage(0, frag.toString)),
      "qrowsqe1", new org.apache.hadoop.fs.Path(root, ".spec-scratch"))
    assert(rowCount(pot("c")) === Some(BigInt(6)),
      s"delta-head estimate wrong: ${pot("c").queryExecution.optimizedPlan.stats}")
    // CBO join reorder: with rowCount flowing, the DP reorder joins the
    // two SMALL pots before touching the 1000-row one — declared order
    // deliberately puts the big pot first
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val a = pot("a").select($"key".as("k"), $"doc_json".as("da"))
    val b = pot("b").select($"key".as("k"), $"doc_json".as("db"))
    val c = pot("c").select($"key".as("k"), $"doc_json".as("dc"))
    val opt = a.join(b, "k").join(c, "k")
      .queryExecution.optimizedPlan
    // the innermost (first-executed) join must NOT be the declared
    // a-join-b pair: the DP reorder pulls the SMALLEST relation into
    // it (observed plan: (a JOIN c) JOIN b — the 50-row mid moves out)
    val leafRows = opt.collectLeaves().map(_.stats.rowCount)
    info(s"leaf order after reorder: $leafRows")
    assert(leafRows !== List(Some(BigInt(1000)), Some(BigInt(50)),
      Some(BigInt(6))),
      s"CBO kept the declared join order; leaves: $leafRows\n$opt")
    assert(leafRows.take(2).flatten.exists(_ <= BigInt(6)),
      s"smallest pot not in the innermost join; leaves: $leafRows\n$opt")
  }

  test("PotV2 TopN pushdown (r16): UTF-8 byte order — supplementary-char keys never evicted by a BMP key >= U+E000") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("potv2utf8").toString
    val fmt = classOf[graft.sources.PotV2Source].getName
    // one object mixing an emoji key (U+1F600, UTF-16 surrogates
    // 0xD83D 0xDE00; UTF-8 F0 9F 98 80) with BMP keys >= U+E000
    // (UTF-16 sorts them ABOVE the surrogate pair, UTF-8/Spark BELOW):
    // under the old java-String comparator a DESC top-1 returned the
    // private-use key; Spark's own sort returns the emoji
    val dir = java.nio.file.Paths.get(root, "u")
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.writeString(dir.resolve("data.json"),
      "{\"a\": {\"v\": 1}, \"x\": {\"v\": 2}, " +
        "\"\uD83D\uDE00\": {\"v\": 3}, \"\uE000y\": {\"v\": 4}}")
    def read() = spark.read.format(fmt)
      .option("path", s"$root/u/data.json").load()
    val top = read().orderBy($"key".desc).limit(1).select($"key")
    assert(top.queryExecution.executedPlan.toString
      .contains("PushedTopN: key DESC limit 1"))
    val expected = read().select($"key").as[String].collect()
      .sorted(Ordering.comparatorToOrdering(
        (x: String, y: String) => java.util.Arrays.compareUnsigned(
          x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          y.getBytes(java.nio.charset.StandardCharsets.UTF_8)))).last
    assert(top.as[String].head() === expected,
      "pushed DESC top-1 diverged from Spark's UTF8 binary sort order")
    assert(top.as[String].head() === "\uD83D\uDE00")
    // ASC end of the matrix stays correct too
    val asc3 = read().orderBy($"key").limit(3).select($"key")
      .as[String].collect().toSeq
    assert(asc3 === Seq("a", "x", "\uE000y"))
  }

  test("PotV2 TopN pushdown declination matrix (r16): served and declined sort shapes are plan-pinned") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("potv2topnm").toString
    val fmt = classOf[graft.sources.PotV2Source].getName
    Seq("a", "b").foreach { pot =>
      val dir = java.nio.file.Paths.get(root, pot)
      java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.writeString(dir.resolve("data.json"),
        (1 to 20).map(i => s""""$pot${"%03d".format(i)}": {"v": $i}""")
          .mkString("{", ", ", "}"))
    }
    def read() = spark.read.format(fmt)
      .option("path", s"$root/*/data.json").load()
    def plan(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    // SERVED: pot_file prefix + key — per-partition pot_file is constant
    val pfk = read().orderBy($"pot_file", $"key").limit(3)
    assert(plan(pfk).contains("PushedTopN: key ASC limit 3"),
      s"pot_file-prefixed key sort lost the pushdown:\n${plan(pfk)}")
    assert(pfk.select($"key").as[String].collect().toSeq
      === Seq("a001", "a002", "a003"))
    // SERVED: mixed directions on the prefix
    val pfdk = read().orderBy($"pot_file".desc, $"key".desc).limit(2)
    assert(plan(pfdk).contains("PushedTopN: key DESC limit 2"))
    assert(pfdk.select($"key").as[String].collect().toSeq
      === Seq("b020", "b019"))
    // SERVED: key with a trailing term (keys unique per object)
    val kd = read().orderBy($"key", $"doc_json").limit(2)
    assert(plan(kd).contains("PushedTopN: key ASC limit 2"))
    assert(kd.select($"key").as[String].collect().toSeq
      === Seq("a001", "a002"))
    // SERVED as LIMIT: pot_file alone (all rows tie per partition)
    val pf = read().orderBy($"pot_file").limit(4)
    assert(plan(pf).contains("PushedLimit: 4"),
      s"pot_file-only sort should degrade to a pushed limit:\n${plan(pf)}")
    assert(pf.count() === 4L)
    // DECLINED: doc_json leads — Spark runs its own full TopN
    val dj = read().orderBy($"doc_json", $"key").limit(2)
    assert(!plan(dj).contains("PushedTopN"),
      s"doc_json sort must decline the pushdown:\n${plan(dj)}")
    // string order: `{"v": 10}` < `{"v": 1}` ('0' < '}')
    assert(dj.select($"key").as[String].collect().toSeq
      === Seq("a010", "b010"))
    // DECLINED: doc_json directly after the pot_file prefix
    val pfdj = read().orderBy($"pot_file", $"doc_json").limit(2)
    assert(!plan(pfdj).contains("PushedTopN"))
  }

  test("BucketedPotV2 statement barrier (r15): a reader mid-statement sees NONE of it; done flips it whole") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("bpotv2stmt").toString
    val fmt = classOf[graft.sources.BucketedPotV2Source].getName
    def readKeys(): Set[String] = spark.read.format(fmt)
      .option("path", root).option("buckets", "4").load()
      .select($"key").as[String].collect().toSet
    // seed through the SQL front door (its own statement, completed)
    val seed = (1 to 20).map(i => ("", s"s$i", s"""{"v": $i}"""))
    seed.toDF("pot_file", "key", "doc_json")
      .write.format(fmt).option("path", root).option("buckets", "4")
      .mode("append").save()
    assert(readKeys() === (1 to 20).map(i => s"s$i").toSet)
    // simulate a statement caught MID-FLIGHT: intent up (base = current
    // heads), then exactly one bucket's chain commits (the prefix)
    val base = graft.sources.BucketedPotV2Source.headVector(storeFs(root), root, 4)
    graft.sources.BucketedStmtLog.begin(storeFs(root), root, "test-stmt-1",
      graft.sources.BucketedStmtLog.intentBody(
        "insert", "test-stmt-1", truncate = false,
        Long.MaxValue, Seq(0, 1, 2, 3),
        (0 to 3).map(b => b -> base.getOrElse(b, 0L)).toMap, Map.empty))
    Seq(("", "prefix-row", """{"v": 999}"""))
      .toDF("pot_file", "key", "doc_json")
      .write.format(classOf[graft.sources.PotV2Source].getName)
      .option("path", graft.sources.BucketedPotV2Source.bucketPot(root,
        graft.kv.BucketMeta.bucketOf("prefix-row", 4)))
      .mode("append").save()
    // NONE: the committed prefix is invisible — readers hold the base
    assert(readKeys() === (1 to 20).map(i => s"s$i").toSet,
      "reader observed a prefix-applied statement")
    // ALL: completing the statement flips it visible atomically
    graft.sources.BucketedStmtLog.complete(storeFs(root), root, "test-stmt-1", Seq.empty)
    assert(readKeys().contains("prefix-row"))
  }

  test("BucketedPotV2 statement recovery (r15): a crashed multi-bucket INSERT rolls forward from its staged fragments") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("bpotv2rec").toString
    val fmt = classOf[graft.sources.BucketedPotV2Source].getName
    def readKeys(): Set[String] = spark.read.format(fmt)
      .option("path", root).option("buckets", "4").load()
      .select($"key").as[String].collect().toSet
    Seq(("", "seed", """{"v": 0}""")).toDF("pot_file", "key", "doc_json")
      .write.format(fmt).option("path", root).option("buckets", "4")
      .mode("append").save()
    // a statement that CRASHED right after its intent: fragments staged,
    // zero buckets committed
    val keys = Seq("ra", "rb", "rc", "rd")
    val byBucket = keys.groupBy(
      graft.kv.BucketMeta.bucketOf(_, 4))
    val staging = java.nio.file.Paths.get(root, ".staging-crashq")
    java.nio.file.Files.createDirectories(staging)
    val frags = byBucket.map { case (b, ks) =>
      val f = staging.resolve(s"part-b$b.jsonl")
      java.nio.file.Files.writeString(f,
        ks.map(k => s"""{"k":"$k","d":{"v":1}}""").mkString("", "\n", "\n"))
      b -> Seq((0, f.toString))
    }
    val base = graft.sources.BucketedPotV2Source.headVector(storeFs(root), root, 4)
    graft.sources.BucketedStmtLog.begin(storeFs(root), root, "crashq",
      graft.sources.BucketedStmtLog.intentBody(
        "insert", "crashq", truncate = false, Long.MaxValue,
        byBucket.keys.toSeq.sorted,
        byBucket.keys.map(b => b -> base.getOrElse(b, 0L)).toMap, frags))
    // pre-recovery: invisible (none-or-all holds across the crash)
    assert(readKeys() === Set("seed"))
    // roll forward: every bucket commits, the statement flips visible,
    // the barrier and staged fragments are gone
    val done = graft.sources.BucketedPotV2Source.recoverStatements(root)
    assert(done === Seq("crashq"))
    assert(readKeys() === Set("seed") ++ keys)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "_stmts/open/crashq")))
    // recovery is idempotent / no-op when nothing is open
    assert(graft.sources.BucketedPotV2Source.recoverStatements(root).isEmpty)
  }

  test("BucketedPotV2 EPOCH barrier (r15): a mid-epoch reader sees none; recovery rolls the epoch forward as deltas") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("bpotv2ep").toString
    val fmt = classOf[graft.sources.BucketedPotV2Source].getName
    def readKeys(): Set[String] = spark.read.format(fmt)
      .option("path", root).option("buckets", "4").load()
      .select($"key").as[String].collect().toSet
    // seed (its own epoch-like statement, completed)
    Seq(("", "seed", """{"v": 0}""")).toDF("pot_file", "key", "doc_json")
      .write.format(fmt).option("path", root).option("buckets", "4")
      .mode("append").save()
    // an epoch that CRASHED mid-apply: intent up, fragments staged for
    // two buckets, exactly ONE bucket's delta committed
    val keys = Seq("ea", "eb", "ec", "ed")
    val byBucket = keys.groupBy(
      graft.kv.BucketMeta.bucketOf(_, 4))
    assert(byBucket.size > 1, s"fixture keys collapsed: $byBucket")
    val staging = java.nio.file.Paths.get(root, ".staging-epq-e7")
    java.nio.file.Files.createDirectories(staging)
    val frags = byBucket.map { case (b, ks) =>
      val f = staging.resolve(s"part-b$b.jsonl")
      java.nio.file.Files.writeString(f,
        ks.map(k => s"""{"k":"$k","d":{"v":7}}""").mkString("", "\n", "\n"))
      b -> Seq((0, f.toString))
    }
    val base = graft.sources.BucketedPotV2Source.headVector(storeFs(root), root, 4)
    graft.sources.BucketedStmtLog.begin(storeFs(root), root, "epq-e7",
      graft.sources.BucketedStmtLog.intentBody(
        "epoch", "epq", truncate = false, Long.MaxValue,
        byBucket.keys.toSeq.sorted,
        byBucket.keys.map(b => b -> base.getOrElse(b, 0L)).toMap,
        frags, epoch = Some(7L)))
    // the crashed run had committed the FIRST bucket's delta
    val b0 = byBucket.keys.min
    val w0 = new graft.sources.PotV2Write(
      graft.sources.BucketedPotV2Source.bucketPot(root, b0),
      graft.sources.PotV2Source.Schema, s"epq-b$b0",
      truncateFirst = false)
    w0.commitDeltaEpoch(
      Array(graft.sources.PotFragmentMessage(0, frags(b0).head._2)),
      "qepqe7", new org.apache.hadoop.fs.Path(root, ".spec-scratch"))
    // NONE: the committed prefix bucket is capped at its base
    assert(readKeys() === Set("seed"),
      "reader observed a prefix-applied epoch")
    // roll forward: remaining buckets commit as (query, epoch)-tagged
    // deltas (the already-committed bucket adopts), epoch flips visible
    assert(graft.sources.BucketedPotV2Source.recoverStatements(root)
      === Seq("epq-e7"))
    assert(readKeys() === Set("seed") ++ keys)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "_stmts/open/epq-e7")))
  }

  test("BucketedPotV2 AGED statement auto-recovery (r16): an ordinary read rolls a crashed statement forward — no manual recoverStatements") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("bpotv2age").toString
    val fmt = classOf[graft.sources.BucketedPotV2Source].getName
    def readKeys(): Set[String] = spark.read.format(fmt)
      .option("path", root).option("buckets", "4").load()
      .select($"key").as[String].collect().toSet
    Seq(("", "seed", """{"v": 0}""")).toDF("pot_file", "key", "doc_json")
      .write.format(fmt).option("path", root).option("buckets", "4")
      .mode("append").save()
    // crash a writer mid-statement: intent up, fragments staged, nothing
    // committed (the exact r15-verdict hazard — a barrier with no owner)
    val keys = Seq("xa", "xb", "xc", "xd")
    val byBucket = keys.groupBy(
      graft.kv.BucketMeta.bucketOf(_, 4))
    assert(byBucket.size > 1, s"fixture keys collapsed: $byBucket")
    val staging = java.nio.file.Paths.get(root, ".staging-agedq")
    java.nio.file.Files.createDirectories(staging)
    val frags = byBucket.map { case (b, ks) =>
      val f = staging.resolve(s"part-b$b.jsonl")
      java.nio.file.Files.writeString(f,
        ks.map(k => s"""{"k":"$k","d":{"v":1}}""").mkString("", "\n", "\n"))
      b -> Seq((0, f.toString))
    }
    val base = graft.sources.BucketedPotV2Source.headVector(storeFs(root), root, 4)
    graft.sources.BucketedStmtLog.begin(storeFs(root), root, "agedq",
      graft.sources.BucketedStmtLog.intentBody(
        "insert", "agedq", truncate = false, Long.MaxValue,
        byBucket.keys.toSeq.sorted,
        byBucket.keys.map(b => b -> base.getOrElse(b, 0L)).toMap, frags))
    // within the lease the barrier holds: readers keep the base view
    assert(readKeys() === Set("seed"))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "_stmts/open/agedq")))
    // lease expired (the intent's stamp aged past it): the NEXT ordinary
    // read rolls the statement forward at planning — no explicit
    // recoverStatements call
    ageIntent(root, "agedq")
    assert(readKeys() === Set("seed") ++ keys,
      "aged crashed statement did not auto-recover at read planning")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "_stmts/open/agedq")))
  }

  test("BucketedPotV2 AGED statement auto-recovery (r16): the next WRITE on the store rolls a crashed predecessor forward") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("bpotv2agew").toString
    val fmt = classOf[graft.sources.BucketedPotV2Source].getName
    def readKeys(): Set[String] = spark.read.format(fmt)
      .option("path", root).option("buckets", "4").load()
      .select($"key").as[String].collect().toSet
    Seq(("", "seed", """{"v": 0}""")).toDF("pot_file", "key", "doc_json")
      .write.format(fmt).option("path", root).option("buckets", "4")
      .mode("append").save()
    val keys = Seq("wa", "wb", "wc", "wd")
    val byBucket = keys.groupBy(
      graft.kv.BucketMeta.bucketOf(_, 4))
    val staging = java.nio.file.Paths.get(root, ".staging-agedw")
    java.nio.file.Files.createDirectories(staging)
    val frags = byBucket.map { case (b, ks) =>
      val f = staging.resolve(s"part-b$b.jsonl")
      java.nio.file.Files.writeString(f,
        ks.map(k => s"""{"k":"$k","d":{"v":1}}""").mkString("", "\n", "\n"))
      b -> Seq((0, f.toString))
    }
    val base = graft.sources.BucketedPotV2Source.headVector(storeFs(root), root, 4)
    graft.sources.BucketedStmtLog.begin(storeFs(root), root, "agedw",
      graft.sources.BucketedStmtLog.intentBody(
        "insert", "agedw", truncate = false, Long.MaxValue,
        byBucket.keys.toSeq.sorted,
        byBucket.keys.map(b => b -> base.getOrElse(b, 0L)).toMap, frags))
    ageIntent(root, "agedw")
    // an ordinary multi-bucket INSERT: its begin() meets the aged
    // barrier and rolls it forward before publishing its own intent
    Seq(("", "w-new-1", """{"v": 2}"""), ("", "w-new-2", """{"v": 2}"""))
      .toDF("pot_file", "key", "doc_json")
      .write.format(fmt).option("path", root).option("buckets", "4")
      .mode("append").save()
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "_stmts/open/agedw")),
      "write path did not recover the aged crashed statement")
    assert(readKeys() === Set("seed", "w-new-1", "w-new-2") ++ keys)
  }

  test("BucketedPotV2 statement base vector (r16/ADVICE): a commit landing between head read and intent CAS stays reader-visible") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("bpotv2fresh").toString
    val fmt = classOf[graft.sources.BucketedPotV2Source].getName
    Seq(("", "seed", """{"v": 0}""")).toDF("pot_file", "key", "doc_json")
      .write.format(fmt).option("path", root).option("buckets", "4")
      .mode("append").save()
    val b0 = graft.kv.BucketMeta.bucketOf("seed", 4)
    // heads() that simulates the race: the FIRST read returns the stale
    // vector; between it and the post-CAS re-read an independent commit
    // lands on bucket b0 (performed inside the closure's second call)
    var calls = 0
    val stale = graft.sources.BucketedPotV2Source.headVector(storeFs(root), root, 4)
    def heads(): Map[Int, Long] = {
      calls += 1
      if (calls == 1) stale
      else graft.sources.BucketedPotV2Source.headVector(storeFs(root), root, 4)
    }
    // the independent commit (visible to readers BEFORE the barrier)
    Seq(("", "seed", """{"v": 9}""")).toDF("pot_file", "key", "doc_json")
      .write.format(fmt).option("path", root).option("buckets", "4")
      .mode("append").save()
    graft.sources.BucketedStmtLog.beginFresh(storeFs(root), root, "freshq", Seq(0, 1, 2, 3),
      () => heads(),
      base => graft.sources.BucketedStmtLog.intentBody(
        "insert", "freshq", truncate = false, Long.MaxValue,
        Seq(0, 1, 2, 3), base, Map.empty))
    // the published base must reflect the moved head: the v9 commit was
    // reader-visible pre-barrier, so readers must keep seeing it
    val v = spark.read.format(fmt)
      .option("path", root).option("buckets", "4").load()
      .filter($"key" === "seed")
      .select(org.apache.spark.sql.functions
        .get_json_object($"doc_json", "$.v").cast("int"))
      .as[Int].head()
    assert(v === 9,
      "reader snapshot regressed below an independent pre-barrier commit")
    graft.sources.BucketedStmtLog.abort(storeFs(root), root, "freshq", Seq.empty)
  }

  test("PotV2 glob changes with a per-pot vector equals the resumed multi-pot stream; out-of-range entries fail loudly") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("potv2vecb").toString
    val fmt = classOf[graft.sources.PotV2Source].getName
    def put(pot: String, rows: Seq[(String, Int)], mode: String): Unit =
      rows.map { case (k, v) => ("", k, s"""{"v": $v}""") }
        .toDF("pot_file", "key", "doc_json")
        .write.format(fmt).option("path", s"$root/pots/$pot/data.json")
        .mode(mode).save()
    put("a", Seq("a1" -> 1), "overwrite")
    put("b", Seq("b1" -> 1), "overwrite")
    // first stream drain consumes the current heads — capture its vector
    val feed = s"$root/feed"
    def drain(): Set[(String, String, String)] = {
      val q = spark.readStream.format(fmt)
        .option("path", s"$root/pots/*/data.json").load()
        .writeStream.format("parquet").option("path", feed)
        .option("checkpointLocation", s"$root/chk").start()
      q.processAllAvailable(); q.stop()
      spark.read.parquet(feed).select($"pot_file", $"key", $"doc_json")
        .as[(String, String, String)].collect().toSet
    }
    val first = drain()
    val vec = graft.sources.PotMultiGenOffset(Map(
      s"$root/pots/a/data.json" -> 1L,
      s"$root/pots/b/data.json" -> 1L)).json
    // while "down": a advances twice, b idle, c appears
    put("a", Seq("a2" -> 2), "append")
    put("a", Seq("a1" -> 9), "append")
    put("c", Seq("c1" -> 3), "overwrite")
    val second = drain() -- first
    val batch = spark.read.format(fmt)
      .option("path", s"$root/pots/*/data.json")
      .option("changesFromVector", vec).load()
      .select($"pot_file", $"key", $"doc_json")
      .as[(String, String, String)].collect().toSet
    assert(batch === second,
      s"batch vector read diverged from the resumed stream:\n" +
        s"batch=$batch\nstream=$second")
    // the generation-pin discipline holds per pot: an entry past a pot's
    // head fails loudly, never an empty stale answer
    val bad = graft.sources.PotMultiGenOffset(Map(
      s"$root/pots/b/data.json" -> 9L)).json
    val e = intercept[Exception] {
      spark.read.format(fmt).option("path", s"$root/pots/*/data.json")
        .option("changesFromVector", bad).load().collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("out of range")), msgs(e).toString)
  }

  test("graft_pot_history reports artifact kinds: snapshots for batch commits, delta for streaming epochs") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("potv2hist").toString
    val pot = s"$dir/t/data.json"
    val fmt = classOf[graft.sources.PotV2Source].getName
    Seq(("", "a", """{"v": 1}"""))
      .toDF("pot_file", "key", "doc_json")
      .write.format(fmt).option("path", pot).mode("overwrite").save()
    val write = new graft.sources.PotV2Write(
      pot, graft.sources.PotV2Source.Schema, "q-hist",
      truncateFirst = false, compactEvery = 100)
    val sw = write.toStreaming
    def stage(epoch: Long, key: String)
        : org.apache.spark.sql.connector.write.WriterCommitMessage = {
      val w = write.writerFactory.createWriter(0, 0L, epoch)
      w.write(InternalRow(UTF8String.fromString(""),
        UTF8String.fromString(key), UTF8String.fromString("""{"v": 0}""")))
      w.commit()
    }
    sw.commit(1L, Array(stage(1L, "b")))
    sw.commit(2L, Array(stage(2L, "a"))) // update: a -> v0
    // the TVF: kinds from the marker chain, counts from the change feed
    graft.operators.Extensibility.registerPotHistoryTvf(spark)
    val rows = spark.sql(
      s"SELECT gen, kind, upserts, deletes FROM graft_pot_history('$pot') " +
        "ORDER BY gen")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(rows === Seq(
      (1L, "snapshot", 1L, 0L),
      (2L, "delta", 1L, 0L),
      (3L, "delta", 1L, 0L)), rows.toString)
  }

  test("PotV2Source rejects a non-map pot object loudly") {
    val dir = java.nio.file.Files.createTempDirectory("potv2bad")
    writePot(dir, "bad", """[1, 2, 3]""")
    val df = spark.read
      .format(classOf[graft.sources.PotV2Source].getName)
      .option("path", s"$dir/*/data.json").load()
    val e = intercept[org.apache.spark.SparkException] { df.collect() }
    assert(e.getMessage.contains("top level must be a JSON map") ||
      Option(e.getCause).exists(_.getMessage.contains("top level must be a JSON map")))
  }

  test("PotV2 TABLESAMPLE pushdown (u41): consistent key-hash sample " +
    "reaches the scan; replacement sampling declines to post-scan") {
    // a session of its own: the conf set below reaches no other test
    val spark = TestSpark.spark.newSession()
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("potv2sample").toString
    val pot = s"$dir/t/data.json"
    val fmt = classOf[graft.sources.PotV2Source].getName
    (1 to 200).map(i => ("", f"k$i%03d", s"""{"v": $i}"""))
      .toDF("pot_file", "key", "doc_json")
      .write.format(fmt).option("path", pot).mode("overwrite").save()
    def sampled() = spark.read.format(fmt).option("path", pot).load()
      .sample(withReplacement = false, 0.3, seed = 42L)
    val df = sampled()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedSample: 3000/10000"),
      s"sample not pushed:\n$plan")
    assert(!plan.contains("Sample "), s"post-scan Sample survived:\n$plan")
    // admitted set = exactly the keys under the hash threshold
    val got = df.select($"key").as[String].collect().toSet
    val expected = (1 to 200).map(i => f"k$i%03d")
      .filter(k => graft.sources.PotV2Filters.sampleFold(k) < 3000L).toSet
    assert(got === expected)
    assert(got.nonEmpty && got.size < 200, s"degenerate sample: ${got.size}")
    // CONSISTENT sampling: a different seed admits the same keys (the
    // cross-replica audit property; stated in the scan description)
    val again = spark.read.format(fmt).option("path", pot).load()
      .sample(withReplacement = false, 0.3, seed = 7L)
      .select($"key").as[String].collect().toSet
    assert(again === got)
    // replacement sampling declines: the Sample node stays above the scan
    val repl = spark.read.format(fmt).option("path", pot).load()
      .sample(withReplacement = true, 0.3, seed = 1L)
    val rplan = repl.queryExecution.executedPlan.toString
    assert(!rplan.contains("PushedSample"), rplan)
    assert(rplan.contains("Sample"), s"no fallback Sample node:\n$rplan")
    // r17 quantization guard (ADVICE): a fraction under the 1/10000
    // fold's resolution would round to threshold 0 and silently return
    // ZERO rows once Spark removes its Sample node — it must DECLINE
    for (tiny <- Seq(0.00003, 0.99998)) {
      val t = spark.read.format(fmt).option("path", pot).load()
        .sample(withReplacement = false, tiny, seed = 3L)
      val tplan = t.queryExecution.executedPlan.toString
      assert(!tplan.contains("PushedSample"),
        s"unrepresentable fraction $tiny was pushed:\n$tplan")
      assert(tplan.contains("Sample"),
        s"no fallback Sample for fraction $tiny:\n$tplan")
    }
    // r17 seed decision (pinned): pushConsistent=false declines the push
    // so Spark's post-scan Sample honors REPEATABLE exactly — two seeds
    // then genuinely differ (200 keys at 30%: identical draws are
    // ~impossible), where the default push makes them identical
    spark.conf.set("spark.graft.sample.pushConsistent", "false")
    def seeded(seed: Long) = spark.read.format(fmt)
      .option("path", pot).load()
      .sample(withReplacement = false, 0.3, seed = seed)
    val splan = seeded(42L).queryExecution.executedPlan.toString
    assert(!splan.contains("PushedSample") && splan.contains("Sample"),
      s"pushConsistent=false did not decline the push:\n$splan")
    val s1 = seeded(42L).select($"key").as[String].collect().toSet
    val s2 = seeded(7L).select($"key").as[String].collect().toSet
    assert(s1 !== s2,
      "declined push should give Spark's seeded (seed-sensitive) sample")
    assert(seeded(42L).select($"key").as[String].collect().toSet === s1,
      "Spark's REPEATABLE contract broke under the declined push")
  }

  test("BucketedPotV2 inherits doc-field shredding (u45, r17): typed " +
    "columns + pushed predicates reach every bucket's parse") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("bpotshred").toString
    val fmt = classOf[graft.sources.BucketedPotV2Source].getName
    (1 to 40).map(i => ("", s"k$i", s"""{"v": $i, "name": "n$i"}"""))
      .toDF("pot_file", "key", "doc_json")
      .write.format(fmt).option("path", root).option("buckets", "4")
      .mode("append").save()
    val df = spark.read.format(fmt).option("path", root)
      .option("buckets", "4").option("shred", "v:bigint,name:string").load()
    val q = df.filter($"v" > 35).select($"key", $"v", $"name")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThan(v,35)"),
      s"shredded predicate not pushed through the bucketed builder:\n$plan")
    assert(q.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getString(2))).toSet ===
      (36 to 40).map(i => (s"k$i", i.toLong, s"n$i")).toSet)
    new scala.reflect.io.Directory(new java.io.File(root)).deleteRecursively()
  }

  test("PotV2 TIMESTAMP AS OF (u46, r17): an instant between two commits " +
    "reads the EARLIER generation; predating the first commit raises " +
    "NAMED; generation+timestampAsOf are mutually exclusive") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("potv2asof").toString
    val pot = s"$dir/t/data.json"
    val fmt = classOf[graft.sources.PotV2Source].getName
    def write(rows: Seq[(String, String)], mode: String) =
      rows.map { case (k, d) => ("", k, d) }
        .toDF("pot_file", "key", "doc_json")
        .write.format(fmt).option("path", pot).mode(mode).save()
    write(Seq(("a", """{"v": 1}"""), ("b", """{"v": 1}""")), "overwrite")
    val commits = new org.apache.hadoop.fs.Path(s"$dir/t/.commits")
    val fs = commits.getFileSystem(spark.sessionState.newHadoopConf())
    def mtime(g: Int): Long = fs.getFileStatus(
      new org.apache.hadoop.fs.Path(commits, g.toString)).getModificationTime
    val t1 = mtime(1)
    while (System.currentTimeMillis() <= t1 + 2) Thread.sleep(2)
    write(Seq(("b", """{"v": 2}"""), ("c", """{"v": 2}""")), "append")
    val t2 = mtime(2)
    assert(t2 > t1)
    def keysAt(ts: String): Set[String] = spark.read.format(fmt)
      .option("path", pot).option("timestampAsOf", ts).load()
      .select($"key").as[String].collect().toSet
    // boundary: strictly between commits = the EARLIER generation; the
    // second commit's own instant = the second generation
    assert(keysAt((t1 + (t2 - t1) / 2).toString) === Set("a", "b"))
    assert(keysAt(t1.toString) === Set("a", "b"))
    assert(keysAt(t2.toString) === Set("a", "b", "c"))
    // the human-readable form parses too (far future = head)
    assert(keysAt("2099-01-01 00:00:00") === Set("a", "b", "c"))
    // predating the first commit: NAMED planning-time failure
    val early = intercept[Exception] { keysAt((t1 - 60000).toString) }
    assert(early.getMessage.contains("predates the earliest commit"),
      early.getMessage)
    // addressing schemes are mutually exclusive
    val both = intercept[Exception] {
      spark.read.format(fmt).option("path", pot)
        .option("generation", "1").option("timestampAsOf", t2.toString)
        .load().collect()
    }
    assert(both.getMessage.contains("mutually exclusive"), both.getMessage)
    new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("PotV2 doc-field pushdown (u45, r17): shredded columns carry " +
    "EqualTo/range predicates into the parse pre-stringify — pushed plan " +
    "residual-free, skip metric ticks, NULL for missing/mistyped fields") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("potv2shred").toString
    val pot = s"$dir/t/data.json"
    val fmt = classOf[graft.sources.PotV2Source].getName
    // 40 typed docs + 3 pathological ones: missing field, JSON null,
    // type mismatch (float is NOT a bigint; object is NOT a string)
    val docs = (1 to 40).map(i =>
      (s"k$i%03d".format(i), s"""{"v": $i, "name": "n$i"}""")) ++ Seq(
      ("kmiss", """{"name": "x"}"""),
      ("knull", """{"v": null, "name": "y"}"""),
      ("ktype", """{"v": 1.5, "name": {"o": 1}}"""))
    docs.map { case (k, d) => ("", k, d) }
      .toDF("pot_file", "key", "doc_json")
      .write.format(fmt).option("path", pot).mode("overwrite").save()
    def shredded() = spark.read.format(fmt).option("path", pot)
      .option("shred", "v:bigint,name:string").load()
    // pushed, residual-free: the plan has NO Filter node above the scan
    val q = shredded().filter($"v" > 10 && $"v" <= 20).select($"key", $"v")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThan(v,10)") &&
      plan.contains("LessThanOrEqual(v,20)"),
      s"doc-field predicates not pushed:\n$plan")
    assert(!plan.contains("Filter ("),
      s"residual Filter survived an exact pushdown:\n$plan")
    // collect q's OWN QueryExecution (an .as/.orderBy would build a new
    // one whose scan metrics never tick)
    val got = q.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got === (11 to 20).map(i => (s"k$i%03d".format(i), i.toLong)).toSet)
    // the skip metric proves losers died pre-stringify: 43 entries,
    // 10 survivors -> 33 skipped (the 3 pathological docs read v as NULL
    // and fail the comparison, exactly like the post-scan filter would)
    val scanNode = q.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.getOrElse(fail(s"no BatchScanExec:\n$plan"))
    assert(scanNode.metrics("docSkippedEntries").value === 33,
      s"expected 33 pre-stringify kills, got " +
        s"${scanNode.metrics("docSkippedEntries").value}")
    // NULL semantics surface as columns too
    val nulls = shredded().select($"key", $"v", $"name")
      .filter($"key".isin("kmiss", "knull", "ktype"))
      .collect().map(r => (r.getString(0), r.isNullAt(1), r.isNullAt(2)))
      .toSet
    assert(nulls === Set(("kmiss", true, false), ("knull", true, false),
      ("ktype", true, true)))
    // string equality + IN push; count pushdown composes (count of the
    // filtered read counts survivors)
    val inQ = shredded().filter($"name".isin("n3", "n7", "nope"))
    assert(inQ.queryExecution.executedPlan.toString.contains("In(name"),
      inQ.queryExecution.executedPlan.toString)
    assert(inQ.count() === 2)
    // equality with the un-shredded post-scan form
    val plainF = spark.read.format(fmt).option("path", pot).load()
      .filter(org.apache.spark.sql.functions.expr(
        "try_cast(get_json_object(doc_json, '$.v') AS BIGINT) > 10 AND " +
          "try_cast(get_json_object(doc_json, '$.v') AS BIGINT) <= 20"))
      .select($"key").as[String].collect().toSet
    assert(got.map(_._1) === plainF)
    // composition with the OTHER pushdowns: TopN's k-bounded selection
    // admits only doc-filtered entries (the per-partition selection must
    // be a superset of the filtered relation's top-k — it is, because
    // admission runs the same docKeep before the heap), and the
    // aggregate path folds survivors only
    val topn = shredded().filter($"v" > 10)
      .select($"key").orderBy($"key").limit(2)
    assert(topn.queryExecution.executedPlan.toString
      .contains("PushedTopN: key ASC limit 2"),
      topn.queryExecution.executedPlan.toString)
    assert(topn.as[String].collect().toSeq === Seq("k11011", "k12012"))
    val aggQ = shredded().filter($"v" > 30)
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.min($"key").as("mn"),
        org.apache.spark.sql.functions.max($"key").as("mx"))
    assert(aggQ.queryExecution.executedPlan.toString
      .contains("PushedAggregation: count,min(key),max(key)"),
      aggQ.queryExecution.executedPlan.toString)
    assert(aggQ.collect()(0).toSeq === Seq(10L, "k31031", "k40040"))
    // r17 NESTED paths: 'alias=a.b:type' walks sub-objects during the
    // same pre-stringify extraction; a non-object mid-path reads NULL;
    // a dotted path without an alias is rejected loudly
    val nestPot = s"$dir/n/data.json"
    Seq(
      ("", "a", """{"geo": {"cc": "DE", "pop": 83}}"""),
      ("", "b", """{"geo": {"cc": "FR"}}"""),
      ("", "c", """{"geo": "flat"}"""))
      .toDF("pot_file", "key", "doc_json")
      .write.format(fmt).option("path", nestPot).mode("overwrite").save()
    val nested = spark.read.format(fmt).option("path", nestPot)
      .option("shred", "cc=geo.cc:string,pop=geo.pop:bigint").load()
    val nq = nested.filter($"cc" === "DE").select($"key", $"pop")
    assert(nq.queryExecution.executedPlan.toString.contains("EqualTo(cc,DE)"),
      nq.queryExecution.executedPlan.toString)
    assert(nq.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("a", 83L)))
    val nulls2 = nested.select($"key", $"cc", $"pop").collect()
      .map(r => (r.getString(0), r.isNullAt(1), r.isNullAt(2))).toSet
    assert(nulls2 === Set(("a", false, false), ("b", false, true),
      ("c", true, true)))
    val noAlias = intercept[Exception] {
      spark.read.format(fmt).option("path", nestPot)
        .option("shred", "geo.cc:string").load().collect()
    }
    assert(noAlias.getMessage.contains("needs an alias"), noAlias.getMessage)
    new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("BucketedPotV2 inherits TABLESAMPLE pushdown (u41): the sample " +
    "reaches every bucket's scan and admits the same global key set") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("bpotsample").toString
    val fmt = classOf[graft.sources.BucketedPotV2Source].getName
    (1 to 200).map(i => ("", f"k$i%03d", s"""{"v": $i}"""))
      .toDF("pot_file", "key", "doc_json")
      .write.format(fmt).option("path", root).option("buckets", "4")
      .mode("append").save()
    val df = spark.read.format(fmt).option("path", root)
      .option("buckets", "4").load()
      .sample(withReplacement = false, 0.3, seed = 9L)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedSample: 3000/10000"),
      s"sample not pushed through the bucketed builder:\n$plan")
    // the key-hash admission is bucket-layout-independent: the bucketed
    // sample equals the single-pot fold's admitted set
    val got = df.select($"key").as[String].collect().toSet
    val expected = (1 to 200).map(i => f"k$i%03d")
      .filter(k => graft.sources.PotV2Filters.sampleFold(k) < 3000L).toSet
    assert(got === expected)
  }

  test("PotV2 delta-chain union zone maps (u69, r19): pushed keys prune " +
    "whole delta-headed chains; incomplete evidence always admits") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("potv2dz").toString
    val fmt = classOf[graft.sources.PotV2Source].getName
    // two delta-headed chains with disjoint domains: a00-a03 snap +
    // a04-a07 delta; b00-b03 snap + b04-b07 delta (one tombstone b00)
    def build(p: Char): Unit = {
      val pot = s"$dir/c$p/data.json"
      (0 to 3).map(i => ("", s"${p}0$i", s"""{"v": $i}"""))
        .toDF("pot_file", "key", "doc_json")
        .write.format(fmt).option("path", pot).mode("overwrite").save()
      val fs = new org.apache.hadoop.fs.Path(pot)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val staging = new org.apache.hadoop.fs.Path(s"$dir/c$p/.st")
      fs.mkdirs(staging)
      val frag = new org.apache.hadoop.fs.Path(staging, "f.jsonl")
      val out = fs.create(frag, false)
      val lines = (4 to 7).map(i => s"""{"k": "${p}0$i", "d": {"v": $i}}""") :+
        s"""{"k": "${p}00", "d": null}"""
      try out.write(lines.mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      new graft.sources.PotV2Write(pot, graft.sources.PotV2Source.Schema,
        s"dz$p", truncateFirst = false)
        .commitDeltaEpoch(
          Array(graft.sources.PotFragmentMessage(0, frag.toString)),
          s"dz$p", staging)
    }
    build('a'); build('b')
    def parts(filters: org.apache.spark.sql.sources.Filter*): Int = {
      val b = new graft.sources.PotV2ScanBuilder(s"$dir/*/data.json")
      b.pushFilters(filters.toArray)
      b.build().asInstanceOf[org.apache.spark.sql.connector.read.Batch]
        .planInputPartitions().length
    }
    import org.apache.spark.sql.sources.{EqualTo, In, StringStartsWith}
    assert(parts() === 2)
    // snapshot-half key, delta-half key, both sides of one chain
    assert(parts(EqualTo("key", "a02")) === 1)
    assert(parts(EqualTo("key", "a06")) === 1)
    assert(parts(In("key", Array("a02", "b06"))) === 2)
    // near miss: nothing opens, rows stay right
    assert(parts(EqualTo("key", "z99")) === 0)
    // a TOMBSTONED key is inside the touched range: conservative admit
    assert(parts(EqualTo("key", "a00")) === 1)
    // prefix covers one chain only
    assert(parts(StringStartsWith("key", "b0")) === 1)
    def rows(pred: org.apache.spark.sql.Column): Set[String] =
      spark.read.format(fmt).option("path", s"$dir/*/data.json").load()
        .filter(pred).select($"key").as[String].collect().toSet
    assert(rows($"key".isin("a02", "a06", "a00", "z99"))
      === Set("a02", "a06"))
    // INCOMPLETE EVIDENCE: drop chain a's dgen sidecar — the chain
    // admits again (no pruning, never wrong)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val dz = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/ca"))
      .map(_.getPath).filter(_.getName.startsWith(".dzmap-"))
    assert(dz.length === 1, "expected exactly one dgen sidecar")
    fs.delete(dz.head, false)
    assert(parts(EqualTo("key", "z99")) === 1,
      "a chain with a missing dgen sidecar must admit")
    assert(rows($"key" === "z99") === Set.empty[String])
    new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("PotV2 stats-only aggregate (u68, r19): sidecar + row stamp " +
    "answer the pushed agg without opening; every ambiguity opens") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{count, lit, max, min}
    val root = java.nio.file.Files.createTempDirectory("potv2u68").toString
    val fmt = classOf[graft.sources.PotV2Source].getName
    // pot A (pure stats): v integral where present, one JSON null, one
    // absent; name textual everywhere
    Seq(("", "a1", """{"v": 10, "name": "x"}"""),
      ("", "a2", """{"v": 30, "name": "y"}"""),
      ("", "a3", """{"v": 20, "name": "w"}"""),
      ("", "a4", """{"v": null, "name": "z"}"""),
      ("", "a5", """{"name": "v"}"""))
      .toDF("pot_file", "key", "doc_json")
      .write.format(fmt).option("path", s"$root/pa/data.json")
      .mode("overwrite").save()
    // pot B: v MIXED (one float) — field stats go 'x', the object opens
    Seq(("", "b1", """{"v": 7, "name": "m"}"""),
      ("", "b2", """{"v": 1.5, "name": "n"}"""))
      .toDF("pot_file", "key", "doc_json")
      .write.format(fmt).option("path", s"$root/pb/data.json")
      .mode("overwrite").save()
    def read(glob: String) = spark.read.format(fmt)
      .option("path", glob).option("shred", "v=v:bigint,name=name:string")
      .load()
    def agg(src: org.apache.spark.sql.DataFrame) = src.groupBy($"pot_file")
      .agg(count(lit(1)).as("nr"), min($"key").as("mk"),
        max($"key").as("xk"), count($"v").as("nv"),
        min($"v").as("mv"), max($"v").as("xv"), max($"name").as("xn"))
    def metricOf(q: org.apache.spark.sql.DataFrame): Long = {
      val m = q.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2
          .BatchScanExec => b
      }
      assert(m.nonEmpty, "no BatchScanExec — aggregate not pushed")
      m.map(_.metrics("statsOnlyAggObjects").value).sum
    }
    // pure pot: answered from the sidecar, never opened
    val qa = agg(read(s"$root/pa/data.json"))
    val ra = qa.collect().map(r => (r.getLong(1), r.getString(2),
      r.getString(3), r.getLong(4), r.getLong(5), r.getLong(6),
      r.getString(7))).toSeq
    assert(ra === Seq((5L, "a1", "a5", 3L, 10L, 30L, "z")))
    assert(metricOf(qa) === 1L, "pure pot should answer stats-only")
    // mixed-typed field: the gate opens the object, values still exact
    // (typed extraction folds only the integral sighting)
    val qb = agg(read(s"$root/pb/data.json"))
    val rb = qb.collect().map(r => (r.getLong(1), r.getLong(4),
      r.getLong(5), r.getLong(6))).toSeq
    assert(rb === Seq((2L, 1L, 7L, 7L)))
    assert(metricOf(qb) === 0L, "mixed field must open the object")
    // row-dropping pushed predicate: declined even on the pure pot
    val qf = agg(read(s"$root/pa/data.json").filter($"key".startsWith("a")))
    qf.collect()
    assert(metricOf(qf) === 0L, "a row-dropping filter must open")
    // glob over both: exactly the pure pot is stats-only
    val qg = agg(read(s"$root/p*/data.json"))
    assert(qg.collect().length === 2)
    assert(metricOf(qg) === 1L)
    // raw legacy pot (no commit chain, no stamp, no sidecar): opens
    val legacy = java.nio.file.Files.createTempDirectory("potv2u68leg")
    writePot(legacy, "l", """{"k1": {"v": 3, "name": "q"}}""")
    val ql = agg(spark.read.format(fmt)
      .option("path", s"$legacy/l/data.json")
      .option("shred", "v=v:bigint,name=name:string").load())
    assert(ql.collect().map(_.getLong(1)).toSeq === Seq(1L))
    assert(metricOf(ql) === 0L, "legacy pot has no stats evidence")
    // key-only aggregate over a NO-shred read works from range + stamp
    val qk = read(s"$root/pa/data.json").groupBy($"pot_file")
      .agg(count(lit(1)).as("nr"), min($"key").as("mk"))
    assert(qk.collect().map(r => (r.getLong(1), r.getString(2))).toSeq
      === Seq((5L, "a1")))
    assert(metricOf(qk) === 1L)
  }

  test("PotV2 _pot_gen metadata column (u32): hidden from SELECT *, " +
    "snapshot gen for folded rows, delta gen above it, NULL for legacy") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("potv2mdc").toString
    val pot = s"$root/t/data.json"
    val fmt = classOf[graft.sources.PotV2Source].getName
    val tbl = "graft_spec_mdcol"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (pot_file STRING, key STRING, " +
      s"doc_json STRING) USING $fmt OPTIONS (path '$pot')")
    // gen 1 + gen 2: batch commits (full snapshots each)
    Seq(("", "a", """{"v": 1}"""), ("", "b", """{"v": 2}"""))
      .toDF("pot_file", "key", "doc_json")
      .write.format(fmt).option("path", pot).mode("overwrite").save()
    Seq(("", "c", """{"v": 3}""")).toDF("pot_file", "key", "doc_json")
      .write.format(fmt).option("path", pot).mode("append").save()
    // hidden-column contract: SELECT * never shows it
    assert(!spark.sql(s"SELECT * FROM $tbl").columns.contains("_pot_gen"))
    // snapshot-headed read: every surviving row folded by the head
    // snapshot (Delta's _commit_version after OPTIMIZE)
    assert(spark.sql(s"SELECT key, _pot_gen FROM $tbl ORDER BY key")
      .as[(String, Long)].collect().toSeq
      === Seq("a" -> 2L, "b" -> 2L, "c" -> 2L))
    // gen 3: SQL UPDATE commits through the merge-snapshot core — a
    // full-snapshot rewrite FORGETS per-key provenance by design
    // (exactly Delta's _commit_version after OPTIMIZE): every row now
    // reports the rewriting generation
    spark.sql(s"""UPDATE $tbl SET doc_json = '{"v": 9}' WHERE key = 'b'""")
    assert(spark.sql(s"SELECT key, _pot_gen FROM $tbl ORDER BY key")
      .as[(String, Long)].collect().toSeq
      === Seq("a" -> 3L, "b" -> 3L, "c" -> 3L))
    // gens 4, 5: streaming DELTA epochs (O(change-set) dgens) — the fold
    // keeps EXACT writer provenance: each delta-written key carries its
    // dgen's generation, untouched keys the covering snapshot's
    val write = new graft.sources.PotV2Write(
      pot, graft.sources.PotV2Source.Schema, "q-mdcol",
      truncateFirst = false, compactEvery = 100)
    val sw = write.toStreaming
    def stage(epoch: Long, key: String, v: Int)
        : org.apache.spark.sql.connector.write.WriterCommitMessage = {
      val w = write.writerFactory.createWriter(0, 0L, epoch)
      w.write(org.apache.spark.sql.catalyst.InternalRow(
        org.apache.spark.unsafe.types.UTF8String.fromString(""),
        org.apache.spark.unsafe.types.UTF8String.fromString(key),
        org.apache.spark.unsafe.types.UTF8String.fromString(
          s"""{"v": $v}""")))
      w.commit()
    }
    sw.commit(1L, Array(stage(1L, "d", 4)))  // gen 4: new key
    sw.commit(2L, Array(stage(2L, "a", 5)))  // gen 5: update a seeded key
    assert(spark.sql(s"SELECT key, _pot_gen FROM $tbl ORDER BY key")
      .as[(String, Long)].collect().toSeq
      === Seq("a" -> 5L, "b" -> 3L, "c" -> 3L, "d" -> 4L))
    // generation-pinned time travel composes: the pin re-resolves
    // provenance at that generation
    assert(spark.read.format(fmt).option("path", pot)
      .option("generation", 1L).load()
      .selectExpr("key", "_pot_gen").as[(String, Long)]
      .collect().toSeq.sorted === Seq("a" -> 1L, "b" -> 1L))
    // raw legacy object (no commit chain): provenance honestly NULL
    val legacy = java.nio.file.Files.createTempDirectory("potv2mdcleg")
    writePot(legacy, "l", """{"x": {"id": "x"}}""")
    val lrows = spark.read.format(fmt)
      .option("path", s"$legacy/l/data.json").load()
      .selectExpr("key", "_pot_gen").collect()
    assert(lrows.map(r => (r.getString(0), r.isNullAt(1))).toSeq
      === Seq("x" -> true))
    spark.sql(s"DROP TABLE $tbl")
  }

  test("PotV2 chain artifacts are byte-stable: overwrite, two delta epochs, SQL DELETE, an epoch, compactPot") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("potv2golden").toString
    val pot = s"$root/t/data.json"
    val fmt = classOf[graft.sources.PotV2Source].getName
    val dirP = new org.apache.hadoop.fs.Path(s"$root/t")
    val fs = dirP.getFileSystem(spark.sessionState.newHadoopConf())
    Seq(("a", """{"v": 1, "s": "x"}"""), ("b", """{"v": 2}"""),
        ("c", """{"n": {"m": 3, "t": "u"}}"""), ("é", """{"v": 5, "s": "y"}"""))
      .map { case (k, d) => ("", k, d) }.toDF("pot_file", "key", "doc_json")
      .write.format(fmt).option("path", pot).mode("overwrite").save()
    // a streaming epoch staged by hand, its lines spaced as a person
    // would write them (the dgen re-renders every doc)
    def epoch(tag: String, lines: Seq[String]): Unit = {
      val staging = new org.apache.hadoop.fs.Path(dirP, s".stage-$tag")
      fs.mkdirs(staging)
      val f = new org.apache.hadoop.fs.Path(staging, "f.jsonl")
      val out = fs.create(f, false)
      try out.write(lines.mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      new graft.sources.PotV2Write(pot, graft.sources.PotV2Source.Schema,
        tag, truncateFirst = false).commitDeltaEpoch(
        Array(graft.sources.PotFragmentMessage(0, f.toString)), tag, staging)
    }
    epoch("ge1", Seq("""{"k": "d", "d": {"v": 4}}""",
      """{"k": "a", "d": {"v": 10}}"""))
    epoch("ge2", Seq("""{"k": "e", "d": {"v": 6, "s": "z"}}""",
      """{"k": "b", "d": null}"""))
    val tbl = "graft_spec_golden"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (pot_file STRING, key STRING, " +
      s"doc_json STRING) USING $fmt OPTIONS (path '$pot')")
    spark.sql(s"DELETE FROM $tbl WHERE key = 'c'")
    spark.sql(s"DROP TABLE $tbl")
    // a delta head again, so compaction has a chain to fold
    epoch("ge3", Seq("""{"k": "f", "d": {"v": 7}}""", """{"k": "d", "d": null}"""))
    assert(graft.sources.PotV2Source.compactPot(fs, pot) === Some(6L))
    val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
    def norm(name: String) = name.replaceAll(uuid, "U")
    def bytes(p: org.apache.hadoop.fs.Path): String = {
      val in = fs.open(p)
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    }
    // every generation's body and the sidecars its stem names (derived
    // here by hand, independent of the engine's own name functions)
    val commits = new org.apache.hadoop.fs.Path(dirP, ".commits")
    val artifacts = (1L to 6L).flatMap { g =>
      val n = new org.apache.hadoop.fs.Path(graft.kv.CommitMarker.read(
        fs, new org.apache.hadoop.fs.Path(commits, g.toString))).getName
      val sidecars =
        if (n.startsWith(".snap-")) Seq(
          n.replaceFirst("^\\.snap-", ".delta-").replaceFirst("\\.json$", ".jsonl"),
          n.replaceFirst("^\\.snap-", ".zmap-"))
        else Seq(n.replaceFirst("^\\.dgen-", ".dzmap-")
          .replaceFirst("\\.jsonl$", ".json"))
      (n +: sidecars).map { a =>
        s"$g ${norm(a)} ${bytes(new org.apache.hadoop.fs.Path(dirP, a))}"
      }
    }
    val e = "é"
    assert(artifacts === Seq(
      s"""1 .snap-U-r4.json {"a":{"v":1,"s":"x"},"b":{"v":2},"c":{"n":{"m":3,"t":"u"}},"$e":{"v":5,"s":"y"}}""",
      s"""1 .delta-U-r4.jsonl {"k":"a","d":{"v":1,"s":"x"}}""" + "\n" +
        """{"k":"b","d":{"v":2}}""" + "\n" +
        """{"k":"c","d":{"n":{"m":3,"t":"u"}}}""" + "\n" +
        s"""{"k":"$e","d":{"v":5,"s":"y"}}""" + "\n",
      s"""1 .zmap-U-r4.json {"kmin":"a","kmax":"$e","fcap":false,"fields":{"v":{"t":"i","n":3,"lmin":1,"lmax":5},"s":{"t":"s","n":2,"smin":"x","smax":"y"},"n":{"t":"x","n":1},"n.m":{"t":"i","n":1,"lmin":3,"lmax":3},"n.t":{"t":"s","n":1,"smin":"u","smax":"u"}}}""",
      """2 .dgen-ge1-U-u2d0.jsonl {"k":"d","d":{"v":4}}""" + "\n" +
        """{"k":"a","d":{"v":10}}""" + "\n",
      """2 .dzmap-ge1-U-u2d0.json {"kmin":"a","kmax":"d"}""",
      """3 .dgen-ge2-U-u1d1.jsonl {"k":"b","d":null}""" + "\n" +
        """{"k":"e","d":{"v":6,"s":"z"}}""" + "\n",
      """3 .dzmap-ge2-U-u1d1.json {"kmin":"b","kmax":"e"}""",
      s"""4 .snap-U-r4.json {"a":{"v":10},"d":{"v":4},"e":{"v":6,"s":"z"},"$e":{"v":5,"s":"y"}}""",
      """4 .delta-U-r4.jsonl {"k":"c","d":null}""" + "\n",
      s"""4 .zmap-U-r4.json {"kmin":"a","kmax":"$e","fcap":false,"fields":{"v":{"t":"i","n":4,"lmin":4,"lmax":10},"s":{"t":"s","n":2,"smin":"y","smax":"z"}}}""",
      """5 .dgen-ge3-U-u1d1.jsonl {"k":"d","d":null}""" + "\n" +
        """{"k":"f","d":{"v":7}}""" + "\n",
      """5 .dzmap-ge3-U-u1d1.json {"kmin":"d","kmax":"f"}""",
      s"""6 .snap-U-r4.json {"a":{"v":10},"e":{"v":6,"s":"z"},"$e":{"v":5,"s":"y"},"f":{"v":7}}""",
      "6 .delta-U-r4.jsonl ",
      s"""6 .zmap-U-r4.json {"kmin":"a","kmax":"$e","fcap":false,"fields":{"v":{"t":"i","n":4,"lmin":5,"lmax":10},"s":{"t":"s","n":2,"smin":"y","smax":"z"}}}"""))
    // no other artifact, and data.json is the last snapshot's copy
    assert(fs.listStatus(dirP).map(_.getPath.getName)
      .filterNot(n => n.endsWith(".crc") || n == ".commits").map(norm)
      .sorted.toSeq === artifacts.map(_.split(" ")(1)).sorted :+ "data.json")
    assert(bytes(new org.apache.hadoop.fs.Path(pot)) ===
      s"""{"a":{"v":10},"e":{"v":6,"s":"z"},"$e":{"v":5,"s":"y"},"f":{"v":7}}""")
  }

  /** The exceptions of `t`'s cause chain, `t` first. */
  private def causes(t: Throwable): Seq[Throwable] =
    Option(t).toSeq.flatMap(x => x +: causes(x.getCause))

  test("PotV2 batch append over a vacuumed head snapshot is a clean conflict, not a raw FileNotFound") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("potv2appfnf").toString
    val pot = s"$root/t/data.json"
    val fmt = classOf[graft.sources.PotV2Source].getName
    def put(k: String, mode: String): Unit =
      Seq(("", k, """{"v": 1}""")).toDF("pot_file", "key", "doc_json")
        .write.format(fmt).option("path", pot).mode(mode).save()
    put("a", "overwrite")
    // the head marker stands but its body is gone: the head load (its
    // size-ceiling stat first) must end in the re-run contract
    val dirP = new org.apache.hadoop.fs.Path(s"$root/t")
    val fs = dirP.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(dirP).map(_.getPath)
      .filter(_.getName.startsWith(".snap-")).foreach(fs.delete(_, false))
    val e = intercept[Exception] { put("b", "append") }
    assert(causes(e).exists(_.isInstanceOf[graft.kv.PotTable.CommitConflict]),
      s"expected CommitConflict, got: $e")
    assert(!causes(e).exists(_.isInstanceOf[java.io.FileNotFoundException]),
      "raw FileNotFoundException leaked out of a batch append")
  }

  test("PotV2 batch append over a delta head missing a dgen ends in a conflict, never a retry loop") {
    import org.scalatest.concurrent.TimeLimits._
    import org.scalatest.time.SpanSugar._
    implicit val signaler: org.scalatest.concurrent.Signaler =
      org.scalatest.concurrent.ThreadSignaler
    val root = java.nio.file.Files.createTempDirectory("potv2dgenfnf").toString
    val pot = s"$root/t/data.json"
    val fmt = classOf[graft.sources.PotV2Source].getName
    def put(k: String, mode: String): Unit =
      spark.createDataFrame(Seq(("", k, """{"v": 1}""")))
        .toDF("pot_file", "key", "doc_json")
        .write.format(fmt).option("path", pot).mode(mode).save()
    put("a", "overwrite")
    graft.sources.PotV2Write.commitChanges(pot, "e1", Seq("b" -> """{"v": 2}"""))
    // check_pot's missing_artifact shape: the delta head's dgen is gone
    val dirP = new org.apache.hadoop.fs.Path(s"$root/t")
    val fs = dirP.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(dirP).map(_.getPath)
      .filter(_.getName.startsWith(".dgen-")).foreach(fs.delete(_, false))
    val e = failAfter(60.seconds) {
      intercept[Exception] { put("c", "append") }
    }
    assert(causes(e).exists(_.isInstanceOf[graft.kv.PotTable.CommitConflict]),
      s"expected CommitConflict, got: $e")
    assert(!causes(e).exists(_.isInstanceOf[java.io.FileNotFoundException]),
      "raw FileNotFoundException leaked out of a batch append")
  }
}
