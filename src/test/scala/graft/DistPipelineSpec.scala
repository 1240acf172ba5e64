package graft

import java.nio.file.{Files, Paths}

import graft.config.DistConfig
import graft.runner.DistMain

/** End-to-end config-driven runs over the harness parquet: CSV↔Parquet
  * conversion, schema_default with `_` skips, columns select/reorder,
  * sub_dirs multi-stream routing, part_count. */
class DistPipelineSpec extends SparkSpec {

  private def write(path: String, s: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), s)
  }

  test("config parse: directions, tasks, params, defaults") {
    val c = DistConfig.parse(
      """{"dir1": [{"source": {"adapter": "hadoopParquet", "path": "/a",
        |           "part_count": 4, "name": "src", "params": {"sub_dirs": true}},
        |          "dest": {"adapter": "hadoopColumnar", "path": "/b",
        |           "params": {"delimiter": ",", "columns": ["x", "_", "y"]}}}]}""".stripMargin)
    val t = c.direction("dir1").head
    assert(t.source.adapter == "hadoopParquet")
    assert(t.source.partCount == 4)
    assert(t.source.subName.contains("src"))
    assert(t.source.params("sub_dirs") == true)
    assert(t.dest.params("columns") == Seq("x", "_", "y"))
    assertThrows[IllegalArgumentException](c.direction("nope"))
  }

  test("config parse: horizon_ms only on claim-emitting ingest ops") {
    // round 19: a horizon on apply_claims (a ledger CONSUMER) would be
    // silently ignored — the parse guard is an exact op set, not a
    // substring test
    def cfg(op: String) = s"""{"d": [{
      "streaming": true, "ingest": "$op", "model_dir": "/m", "horizon_ms": 3600000,
      "source": {"adapter": "hadoopParquet", "path": "/a"},
      "dest":   {"adapter": "hadoopParquet", "path": "/b"}}]}"""
    val ok = DistConfig.parse(cfg("dedup_claim")).direction("d").head
    assert(ok.horizonMs.contains(3600000L) && ok.lateness == "0 seconds")
    assertThrows[IllegalArgumentException](DistConfig.parse(cfg("apply_claims")))
    assertThrows[IllegalArgumentException](DistConfig.parse(cfg("extract_html")))
    // an unknown op fails at parse, before any task of the direction runs,
    // and the error names the registered set
    val unknown = intercept[IllegalArgumentException](DistConfig.parse(cfg("dedup_clam")))
    assert(unknown.getMessage.contains("unknown ingest op 'dedup_clam'") &&
      unknown.getMessage.contains(graft.streaming.Ingest.ops.mkString(", ")))
  }

  test("parquet -> csv -> parquet round trip preserves rows and projection") {
    val base = tmpDir("dist")
    val cfg = s"""{
      "toCsv": [{
        "source": {"adapter": "hadoopParquet", "path": "file:${sf()}/nation.parquet",
                   "params": {"columns": ["n_nationkey", "n_name", "n_regionkey"]}},
        "dest":   {"adapter": "hadoopColumnar", "path": "file:$base/csv",
                   "params": {"delimiter": "|", "header": true}}}],
      "back": [{
        "source": {"adapter": "hadoopColumnar", "path": "file:$base/csv",
                   "params": {"delimiter": "|"}},
        "dest":   {"adapter": "hadoopParquet", "path": "file:$base/pq"}}]
    }"""
    val cfgPath = s"$base/config.json"
    write(cfgPath, cfg)

    val conf = DistConfig.parse(DistMain.readFile(spark, s"file:$cfgPath"))
    DistMain.runDirection(spark, conf.direction("toCsv"), "toCsv")
    DistMain.runDirection(spark, conf.direction("back"), "back")

    val orig = spark.read.parquet(s"${sf()}/nation.parquet")
      .selectExpr("n_nationkey", "n_name", "n_regionkey")
    val round = spark.read.parquet(s"file:$base/pq")
    assert(round.columns.toSeq == Seq("n_nationkey", "n_name", "n_regionkey"))
    assert(round.count() == orig.count())
    // untyped CSV path: values come back as strings; compare stringified sets
    val a = orig.selectExpr("concat_ws('|', n_nationkey, n_name, n_regionkey) s")
      .collect().map(_.getString(0)).sorted
    val b = round.selectExpr("concat_ws('|', n_nationkey, n_name, n_regionkey) s")
      .collect().map(_.getString(0)).sorted
    assert(a.sameElements(b))
  }

  test("schema_default with '_' skips positions; columns reorder") {
    val base = tmpDir("dist")
    Files.writeString(Paths.get(s"$base/in.csv"), "1\ta\tx\n2\tb\ty\n")
    val conf = DistConfig.parse(s"""{
      "d": [{
        "source": {"adapter": "hadoopColumnar", "path": "file:$base/in.csv",
                   "params": {"schema_default": ["id", "_", "val"],
                              "columns": ["val", "id"]}},
        "dest":   {"adapter": "hadoopParquet", "path": "file:$base/out"}}]
    }""")
    DistMain.runDirection(spark, conf.direction("d"), "d")
    val out = spark.read.parquet(s"file:$base/out")
    assert(out.columns.toSeq == Seq("val", "id"))
    assert(out.collect().map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("x", "1"), ("y", "2")))
  }

  test("sub_dirs: one stream per first-level subdir, routed to dest subdirs") {
    val base = tmpDir("dist")
    import spark.implicits._
    Seq(("a", 1)).toDF("k", "v").write.parquet(s"file:$base/in/s1")
    Seq(("b", 2), ("c", 3)).toDF("k", "v").write.parquet(s"file:$base/in/s2")
    val conf = DistConfig.parse(s"""{
      "d": [{
        "source": {"adapter": "hadoopParquet", "path": "file:$base/in",
                   "name": "in", "params": {"sub_dirs": true}},
        "dest":   {"adapter": "hadoopParquet", "path": "file:$base/out",
                   "name": "renamed"}}]
    }""")
    DistMain.runDirection(spark, conf.direction("d"), "d")
    assert(spark.read.parquet(s"file:$base/out/renamed/s1").count() == 1)
    assert(spark.read.parquet(s"file:$base/out/renamed/s2").count() == 2)
  }

  test("part_count controls output parallelism") {
    val base = tmpDir("dist")
    val conf = DistConfig.parse(s"""{
      "d": [{
        "source": {"adapter": "hadoopParquet", "path": "file:${sf()}/orders.parquet",
                   "part_count": 3},
        "dest":   {"adapter": "hadoopParquet", "path": "file:$base/out"}}]
    }""")
    DistMain.runDirection(spark, conf.direction("d"), "d")
    val parts = Files.list(Paths.get(s"$base/out")).toArray
      .map(_.toString).count(_.endsWith(".parquet"))
    assert(parts == 3)
  }

  test("hadoopText: line round trip with delimiter join") {
    val base = tmpDir("dist")
    Files.writeString(Paths.get(s"$base/in.txt"), "line one\nline two\n")
    val conf = DistConfig.parse(s"""{
      "d": [{
        "source": {"adapter": "hadoopText", "path": "file:$base/in.txt"},
        "dest":   {"adapter": "hadoopText", "path": "file:$base/out"}}]
    }""")
    DistMain.runDirection(spark, conf.direction("d"), "d")
    val lines = spark.read.text(s"file:$base/out").collect().map(_.getString(0)).sorted
    assert(lines.sameElements(Array("line one", "line two")))
  }

  test("json adapter round trip with gzip codec") {
    val base = tmpDir("dist")
    val conf = DistConfig.parse(s"""{
      "toJson": [{
        "source": {"adapter": "hadoopParquet", "path": "file:${sf()}/nation.parquet",
                   "params": {"columns": ["n_nationkey", "n_name"]}},
        "dest":   {"adapter": "hadoopJson", "path": "file:$base/json",
                   "params": {"codec": "gzip"}}}],
      "back": [{
        "source": {"adapter": "hadoopJson", "path": "file:$base/json"},
        "dest":   {"adapter": "hadoopParquet", "path": "file:$base/pq"}}]
    }""")
    DistMain.runDirection(spark, conf.direction("toJson"), "toJson")
    assert(Files.list(Paths.get(s"$base/json")).toArray
      .exists(_.toString.endsWith(".json.gz")), "expected gzip-compressed parts")
    DistMain.runDirection(spark, conf.direction("back"), "back")
    val back = spark.read.parquet(s"file:$base/pq")
    assert(back.count() == 25)
    assert(back.columns.sorted.toSeq == Seq("n_name", "n_nationkey"))
  }

  test("CLI path end-to-end: parseArgs -> config fetch -> direction -> tasks") {
    val base = tmpDir("dist")
    Files.writeString(Paths.get(s"$base/job.json"), s"""{
      "copy": [{
        "source": {"adapter": "hadoopParquet", "path": "file:${sf()}/region.parquet",
                   "params": {"columns": ["r_regionkey", "r_name"]}},
        "dest":   {"adapter": "hadoopParquet", "path": "file:$base/out"}}]
    }""")
    // exactly what main() does minus session lifecycle: CLI string array
    // through parseArgs, config read through the path's Hadoop FS,
    // single-direction default resolution (-d omitted)
    val opts = DistMain.parseArgs(Array("-c", s"file:$base/job.json", "-l"))
    assert(opts == Map("c" -> s"file:$base/job.json", "l" -> "true"))
    DistMain.run(opts, spark)
    val out = spark.read.parquet(s"file:$base/out")
    assert(out.count() == 5)
    assert(out.columns.sorted.toSeq == Seq("r_name", "r_regionkey"))
    // ambiguous direction fails fast when the config has several
    Files.writeString(Paths.get(s"$base/two.json"), s"""{
      "a": [{"source": {"adapter": "hadoopParquet", "path": "file:${sf()}/region.parquet"},
             "dest": {"adapter": "hadoopParquet", "path": "file:$base/o1"}}],
      "b": [{"source": {"adapter": "hadoopParquet", "path": "file:${sf()}/region.parquet"},
             "dest": {"adapter": "hadoopParquet", "path": "file:$base/o2"}}]
    }""")
    assertThrows[IllegalArgumentException](
      DistMain.run(DistMain.parseArgs(Array("-c", s"file:$base/two.json")), spark))
  }

  test("merge_schema: parquet files with evolved schemas union their columns") {
    import spark.implicits._
    val base = tmpDir("dist")
    Seq((1L, "alice")).toDF("id", "name")
      .write.parquet(s"file:$base/in/part=a")
    Seq((2L, "bob", 7L)).toDF("id", "name", "extra")
      .write.parquet(s"file:$base/in/part=b")
    val in = graft.adapters.Adapters.input("hadoopParquet")
    val streams = in.load(
      spark, s"file:$base/in", "m", 0,
      graft.adapters.AdapterConf(in.meta, Map("merge_schema" -> true)))
    val df = streams("m")
    assert(df.columns.toSet == Set("id", "name", "extra", "part"))
    val rows = df.selectExpr("id", "name", "coalesce(extra, -1) e")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(rows == Set((1L, "alice", -1L), (2L, "bob", 7L)))
  }

  test("per_file_schema: heterogeneous per-file headers union by name") {
    val base = tmpDir("dist")
    Files.createDirectories(Paths.get(s"$base/in"))
    Files.writeString(Paths.get(s"$base/in/a.csv"), "id\tname\n1\talice\n")
    Files.writeString(Paths.get(s"$base/in/b.csv"), "name\tid\textra\nbob\t2\tx\n")
    val in = graft.adapters.Adapters.input("hadoopColumnar")
    val streams = in.load(
      spark, s"file:$base/in", "h", 0,
      graft.adapters.AdapterConf(in.meta, Map("per_file_schema" -> true)))
    val df = streams("h")
    assert(df.columns.toSet == Set("id", "name", "extra"))
    val rows = df.selectExpr("id", "name", "coalesce(extra, '-') e")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(rows == Set(("1", "alice", "-"), ("2", "bob", "x")))
  }

  test("s3direct: per-task credentials scope to each task's bucket") {
    import graft.adapters._
    // two tasks, two buckets, two credential sets — the reference's core
    // s3direct use case (copy between heterogeneous endpoints in one run)
    val in = Adapters.input("s3directColumnar")
    val (srcPath, srcBucket) = S3Direct.rewrite("s3d://bkt-src/data/in")
    assert(srcPath == "s3a://bkt-src/data/in" && srcBucket.contains("bkt-src"))
    S3Direct.applyConf(spark, "bkt-src", AdapterConf(in.meta, Map(
      "access_key" -> "AK1", "secret_key" -> "SK1",
      "endpoint" -> "https://s3.eu-src.example", "region" -> "eu-src")))
    S3Direct.applyConf(spark, "bkt-dst", AdapterConf(in.meta, Map(
      "access_key" -> "AK2", "secret_key" -> "SK2",
      "endpoint" -> "https://minio.dst.example:9000",
      "content_type" -> "text/tab-separated-values")))
    val hc = spark.sparkContext.hadoopConfiguration
    // both scopes coexist — neither task clobbered the other's settings
    assert(hc.get("fs.s3a.bucket.bkt-src.access.key") == "AK1")
    assert(hc.get("fs.s3a.bucket.bkt-src.endpoint") == "https://s3.eu-src.example")
    assert(hc.get("fs.s3a.bucket.bkt-src.endpoint.region") == "eu-src")
    assert(hc.get("fs.s3a.bucket.bkt-dst.access.key") == "AK2")
    assert(hc.get("fs.s3a.bucket.bkt-dst.secret.key") == "SK2")
    assert(hc.get("fs.s3a.bucket.bkt-dst.endpoint") == "https://minio.dst.example:9000")
    // region left unset for bkt-dst stays unset (no default bleed-through)
    assert(hc.get("fs.s3a.bucket.bkt-dst.endpoint.region") == null)
    // content_type maps to S3A's create-time object header, scoped to
    // the task's bucket — every object the committer uploads to bkt-dst
    // carries it (reference S3DirectTextOutputFunction.java:63); a task
    // that does not set it leaves other buckets untouched
    assert(hc.get("fs.s3a.bucket.bkt-dst.create.header.Content-Type")
      == "text/tab-separated-values")
    assert(hc.get("fs.s3a.bucket.bkt-src.create.header.Content-Type") == null)
    // plain s3a:// paths still yield the bucket scope (credentials must
    // not be validated-then-ignored), and a bare s3d://bucket resolves
    val (aPath, aBucket) = S3Direct.rewrite("s3a://bkt-plain/some/key")
    assert(aPath == "s3a://bkt-plain/some/key" && aBucket.contains("bkt-plain"))
    val (bare, bareBucket) = S3Direct.rewrite("s3d://bkt-root")
    assert(bare == "s3a://bkt-root" && bareBucket.contains("bkt-root"))
    // non-S3 schemes pass through unscoped
    assert(S3Direct.rewrite("file:/tmp/x")._2.isEmpty)
  }

  test("s3direct verbs: round trip with credential params present") {
    // non-s3d paths pass through, so the same verbs + credential params
    // must still run end-to-end (validated, stripped before the inner
    // adapter sees the conf)
    val base = tmpDir("dist")
    val conf = DistConfig.parse(s"""{
      "out": [{
        "source": {"adapter": "hadoopParquet", "path": "file:${sf()}/region.parquet",
                   "params": {"columns": ["r_regionkey", "r_name"]}},
        "dest":   {"adapter": "s3directColumnar", "path": "file:$base/csv",
                   "params": {"delimiter": ",", "header": true,
                              "access_key": "AK", "secret_key": "SK",
                              "endpoint": "https://s3.example", "region": "r1",
                              "content_type": "text/csv"}}}],
      "back": [{
        "source": {"adapter": "s3directColumnar", "path": "file:$base/csv",
                   "params": {"delimiter": ",",
                              "access_key": "AK", "secret_key": "SK"}},
        "dest":   {"adapter": "s3directParquet", "path": "file:$base/pq",
                   "params": {"access_key": "AK", "secret_key": "SK"}}}]
    }""")
    DistMain.runDirection(spark, conf.direction("out"), "out")
    DistMain.runDirection(spark, conf.direction("back"), "back")
    val back = spark.read.parquet(s"file:$base/pq")
    assert(back.count() == 5)
    assert(back.columns.toSet == Set("r_regionkey", "r_name"))
  }

  test("s3directParquet input: reads back, and a mixed-format prefix splits by path_filter") {
    import graft.adapters._
    val base = tmpDir("dist")
    // build a prefix holding BOTH parquet and csv objects — the
    // reference's columnar input sniffs these per-extension; our recipe
    // is one task per format over the same path, each path_filter'd
    val mixed = new java.io.File(s"$base/mixed"); mixed.mkdirs()
    spark.read.parquet(s"file:${sf()}/region.parquet")
      .write.mode("overwrite").parquet(s"file:$base/pq")
    spark.read.parquet(s"file:${sf()}/region.parquet")
      .selectExpr("cast(r_regionkey as string) r_regionkey", "r_name")
      .write.mode("overwrite").option("header", true).csv(s"file:$base/csv")
    for (d <- Seq("pq", "csv"); f <- new java.io.File(s"$base/$d").listFiles()
         if f.getName.startsWith("part-"))
      java.nio.file.Files.copy(f.toPath, new java.io.File(mixed, f.getName).toPath)
    assert(mixed.listFiles().exists(_.getName.endsWith(".parquet")))
    assert(mixed.listFiles().exists(_.getName.endsWith(".csv")))

    val pq = Adapters.input("s3directParquet").load(
      spark, s"file:$base/mixed", "t", 0,
      AdapterConf(Adapters.input("s3directParquet").meta, Map(
        "path_filter" -> "*.parquet",
        "access_key" -> "AK", "secret_key" -> "SK")))("t")
    assert(pq.count() == 5)
    assert(pq.columns.contains("r_regionkey"))
    val csvS = Adapters.input("s3directColumnar").load(
      spark, s"file:$base/mixed", "t", 0,
      AdapterConf(Adapters.input("s3directColumnar").meta, Map(
        "delimiter" -> ",", "path_filter" -> "*.csv",
        "access_key" -> "AK", "secret_key" -> "SK")))("t")
    assert(csvS.count() == 5)
    assert(csvS.columns.toSet == Set("r_regionkey", "r_name"))

    // and end-to-end through the pipeline: parquet in via the new verb,
    // csv out
    val conf = DistConfig.parse(s"""{
      "d": [{
        "source": {"adapter": "s3directParquet", "path": "file:$base/mixed",
                   "params": {"path_filter": "*.parquet",
                              "columns": ["r_regionkey", "r_name"],
                              "access_key": "AK", "secret_key": "SK"}},
        "dest":   {"adapter": "hadoopColumnar", "path": "file:$base/out",
                   "params": {"delimiter": ",", "header": true}}}]
    }""")
    DistMain.runDirection(spark, conf.direction("d"), "d")
    val back = spark.read.option("header", true).option("sep", ",").csv(s"file:$base/out")
    assert(back.count() == 5)
    assert(back.columns.toSet == Set("r_regionkey", "r_name"))
  }

  test("graftQuery source: a registered operator materializes through the pipeline") {
    val base = tmpDir("dist")
    val conf = DistConfig.parse(s"""{
      "export": [{
        "source": {"adapter": "graftQuery", "path": "${sf()}",
                   "params": {"query_name": "q_agg_pricing"}},
        "dest":   {"adapter": "hadoopParquet", "path": "file:$base/out"}},
       {
        "source": {"adapter": "graftQuery", "path": "${sf()}",
                   "params": {"query_name": "q_data_card"}},
        "transform": "SELECT source, n_docs FROM _input WHERE n_docs > 0",
        "dest":   {"adapter": "hadoopColumnar", "path": "file:$base/card",
                   "params": {"delimiter": ",", "header": true}}}]
    }""")
    DistMain.runDirection(spark, conf.direction("export"), "export")
    val agg = spark.read.parquet(s"file:$base/out")
    assert(agg.count() > 0 && agg.columns.contains("l_returnflag"))
    val card = spark.read.option("header", true).option("sep", ",").csv(s"file:$base/card")
    assert(card.count() > 0 && card.columns.toSet == Set("source", "n_docs"))
    // a typo'd query name fails loudly with the known-name list
    val bad = intercept[IllegalArgumentException] {
      graft.adapters.Adapters.input("graftQuery").load(
        spark, sf(), "x", 0,
        graft.adapters.AdapterConf(
          graft.adapters.Adapters.input("graftQuery").meta,
          Map("query_name" -> "q_nope")))
    }
    assert(bad.getMessage.contains("unknown query"))
  }

  test("orc adapter round trip") {
    val base = tmpDir("dist")
    val conf = DistConfig.parse(s"""{
      "d": [{
        "source": {"adapter": "hadoopParquet", "path": "file:${sf()}/region.parquet"},
        "dest":   {"adapter": "hadoopOrc", "path": "file:$base/orc"}}],
      "back": [{
        "source": {"adapter": "hadoopOrc", "path": "file:$base/orc",
                   "params": {"columns": ["r_name", "r_regionkey"]}},
        "dest":   {"adapter": "hadoopParquet", "path": "file:$base/pq"}}]
    }""")
    DistMain.runDirection(spark, conf.direction("d"), "d")
    DistMain.runDirection(spark, conf.direction("back"), "back")
    val back = spark.read.parquet(s"file:$base/pq")
    assert(back.columns.toSeq == Seq("r_name", "r_regionkey"))
    assert(back.count() == 5)
  }

  test("partition_by + sort_by + max_records_per_file on the parquet sink") {
    val base = tmpDir("dist")
    val cfg = s"""{
      "d": [{
        "source": {"adapter": "hadoopParquet", "path": "file:${sf()}/orders.parquet"},
        "dest":   {"adapter": "hadoopParquet", "path": "file:$base/part",
                   "params": {"partition_by": ["o_orderstatus"],
                              "sort_by": ["o_orderkey"],
                              "max_records_per_file": 500}}}]
    }"""
    write(s"$base/config.json", cfg)
    val conf = DistConfig.parse(DistMain.readFile(spark, s"file:$base/config.json"))
    DistMain.runDirection(spark, conf.direction("d"), "d")

    // hive-style dirs per status value
    val dirs = new java.io.File(s"$base/part").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.forall(_.startsWith("o_orderstatus=")), dirs.mkString(","))
    assert(dirs.length >= 2)
    // a partition filter prunes to one dir and rows survive intact
    val back = spark.read.parquet(s"file:$base/part")
    val orig = spark.read.parquet(s"${sf()}/orders.parquet")
    assert(back.count() == orig.count())
    assert(back.filter("o_orderstatus = 'F'").count() ==
      orig.filter("o_orderstatus = 'F'").count())
    // file cap respected (each data file holds <= 500 records)
    val files = new java.io.File(s"$base/part").listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles())
      .filter(f => f.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    files.foreach { f =>
      val cnt = spark.read.parquet(s"file:${f.getAbsolutePath}").count()
      assert(cnt <= 500, s"${f.getName} has $cnt rows")
    }
  }

  test("zorder_by clusters the file layout on the two-column z-value") {
    val base = tmpDir("dist")
    val cfg = s"""{
      "d": [{
        "source": {"adapter": "hadoopParquet", "path": "file:${sf()}/orders.parquet"},
        "dest":   {"adapter": "hadoopParquet", "path": "file:$base/z",
                   "params": {"zorder_by": ["o_orderkey", "o_custkey"],
                              "zorder_partitions": 4}}}]
    }"""
    write(s"$base/config.json", cfg)
    val conf = DistConfig.parse(DistMain.readFile(spark, s"file:$base/config.json"))
    DistMain.runDirection(spark, conf.direction("d"), "d")

    val back = spark.read.parquet(s"file:$base/z")
    val orig = spark.read.parquet(s"${sf()}/orders.parquet")
    assert(back.count() == orig.count())
    // every file owns a compact, non-overlapping z-range (the property
    // that makes min/max stats prune on both columns)
    val files = new java.io.File(s"$base/z").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).sorted
    assert(files.length >= 2, s"expected multiple files, got ${files.length}")
    val ranges = files.map { f =>
      val r = spark.read.parquet(s"file:$f")
        .selectExpr("min(zorder2(o_orderkey, o_custkey))", "max(zorder2(o_orderkey, o_custkey))")
        .head()
      (r.getLong(0), r.getLong(1))
    }
    ranges.sorted.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 <= lo2, s"overlapping z-ranges")
      case _ =>
    }
  }

  test("zorder_by normalizes keys whose range exceeds the interleave bit budget") {
    val base = tmpDir("dist")
    // wide's low 32 bits are pure noise (the row id); its real structure
    // lives above 2^32 — exactly the aliasing case where un-normalized
    // interleaving would order files by noise and leave every file
    // spanning wide's whole range
    spark.range(4096)
      .selectExpr("(id % 64) * 4294967296L + id AS wide", "id % 64 AS y")
      .write.mode("overwrite").parquet(s"$base/in")
    val cfg = s"""{
      "d": [{
        "source": {"adapter": "hadoopParquet", "path": "file:$base/in"},
        "dest":   {"adapter": "hadoopParquet", "path": "file:$base/z",
                   "params": {"zorder_by": ["wide", "y"],
                              "zorder_partitions": 8}}}]
    }"""
    write(s"$base/config.json", cfg)
    val conf = DistConfig.parse(DistMain.readFile(spark, s"file:$base/config.json"))
    DistMain.runDirection(spark, conf.direction("d"), "d")
    val files = new java.io.File(s"$base/z").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
    assert(files.length >= 4, s"expected multiple files, got ${files.length}")
    val fullSpan = 63L * 4294967296L
    val spans = files.map { f =>
      val r = spark.read.parquet(s"file:$f").selectExpr("min(wide)", "max(wide)").head()
      r.getLong(1) - r.getLong(0)
    }
    assert(spans.max <= fullSpan / 4,
      s"zorder files must stay narrow in the wide column: max span ${spans.max} of $fullSpan")
  }

  test("verify task: faithful copy passes, corrupted copy fails the direction") {
    val base = tmpDir("dist")
    spark.range(500)
      .selectExpr("id", "concat('row', id) AS s", "CASE WHEN id % 7 = 0 THEN NULL ELSE id * 2 END AS v")
      .write.mode("overwrite").parquet(s"$base/src")
    // copy + verify in one direction: the verify task runs AFTER the copy
    val cfg = s"""{
      "d": [
        {"source": {"adapter": "hadoopParquet", "path": "file:$base/src"},
         "dest":   {"adapter": "hadoopParquet", "path": "file:$base/dst"}},
        {"verify": true,
         "source": {"adapter": "hadoopParquet", "path": "file:$base/src"},
         "dest":   {"adapter": "hadoopParquet", "path": "file:$base/dst"}}]
    }"""
    write(s"$base/config.json", cfg)
    val conf = DistConfig.parse(DistMain.readFile(spark, s"file:$base/config.json"))
    DistMain.runDirection(spark, conf.direction("d"), "d") // must not throw
    // corrupt the copy: one changed cell (same row count)
    spark.read.parquet(s"$base/dst")
      .selectExpr("id", "CASE WHEN id = 123 THEN 'tampered' ELSE s END AS s", "v")
      .write.mode("overwrite").parquet(s"$base/dst2")
    val cfg2 = s"""{
      "d": [{"verify": true,
             "source": {"adapter": "hadoopParquet", "path": "file:$base/src"},
             "dest":   {"adapter": "hadoopParquet", "path": "file:$base/dst2"}}]
    }"""
    write(s"$base/config2.json", cfg2)
    val conf2 = DistConfig.parse(DistMain.readFile(spark, s"file:$base/config2.json"))
    val e = intercept[IllegalStateException] {
      DistMain.runDirection(spark, conf2.direction("d"), "d")
    }
    assert(e.getMessage.contains("MISMATCH"), e.getMessage)
    // restricting the fingerprint to untouched columns passes again
    val cfg3 = s"""{
      "d": [{"verify": true, "verify_columns": ["id", "v"],
             "source": {"adapter": "hadoopParquet", "path": "file:$base/src"},
             "dest":   {"adapter": "hadoopParquet", "path": "file:$base/dst2"}}]
    }"""
    write(s"$base/config3.json", cfg3)
    val conf3 = DistConfig.parse(DistMain.readFile(spark, s"file:$base/config3.json"))
    DistMain.runDirection(spark, conf3.direction("d"), "d") // must not throw
  }

  test("bucket_by sink registers a bucketed table; joins on the key skip exchange") {
    val base = tmpDir("dist")
    val cfg = s"""{
      "d": [{
        "source": {"adapter": "hadoopParquet", "path": "file:${sf()}/orders.parquet"},
        "dest":   {"adapter": "hadoopParquet", "path": "file:$base/bkt",
                   "params": {"bucket_by": ["o_custkey"], "bucket_count": 4,
                              "bucket_table": "dist_orders_bkt"}}}]
    }"""
    write(s"$base/config.json", cfg)
    val conf = DistConfig.parse(DistMain.readFile(spark, s"file:$base/config.json"))
    try {
      DistMain.runDirection(spark, conf.direction("d"), "d")
      val t = spark.table("dist_orders_bkt")
      assert(t.count() == spark.read.parquet(s"${sf()}/orders.parquet").count())
      val desc = spark.sql("DESCRIBE EXTENDED dist_orders_bkt")
        .collect().map(r => s"${r.getString(0)}=${r.getString(1)}").mkString("\n")
      assert(desc.contains("Num Buckets=4"), desc)
      // self-join on the bucket key: both sides pre-bucketed -> no exchange
      val plan = t.as("a").join(t.as("b"), "o_custkey")
        .groupBy(org.apache.spark.sql.functions.col("o_custkey")).count()
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$plan")
    } finally spark.sql("DROP TABLE IF EXISTS dist_orders_bkt")
  }

  test("compression codecs round-trip: gzip text, zstd parquet") {
    val base = tmpDir("dist")
    val cfg = s"""{
      "d": [{
        "source": {"adapter": "hadoopParquet", "path": "file:${sf()}/region.parquet"},
        "dest":   {"adapter": "hadoopColumnar", "path": "file:$base/gz",
                   "params": {"codec": "gzip", "delimiter": "|", "header": true}}},
       {
        "source": {"adapter": "hadoopParquet", "path": "file:${sf()}/region.parquet"},
        "dest":   {"adapter": "hadoopParquet", "path": "file:$base/zstd",
                   "params": {"codec": "zstd"}}}],
      "back": [{
        "source": {"adapter": "hadoopColumnar", "path": "file:$base/gz",
                   "params": {"delimiter": "|"}},
        "dest":   {"adapter": "hadoopParquet", "path": "file:$base/pq"}}]
    }"""
    write(s"$base/config.json", cfg)
    val conf = DistConfig.parse(DistMain.readFile(spark, s"file:$base/config.json"))
    DistMain.runDirection(spark, conf.direction("d"), "d")
    // suffix-coded compression actually applied
    assert(new java.io.File(s"$base/gz").listFiles().exists(_.getName.endsWith(".gz")))
    assert(new java.io.File(s"$base/zstd").listFiles()
      .exists(_.getName.contains(".zstd.parquet")))
    DistMain.runDirection(spark, conf.direction("back"), "back")
    assert(spark.read.parquet(s"file:$base/pq").count() == 5)
    assert(spark.read.parquet(s"file:$base/zstd").count() == 5)
  }

  test("streaming task: incremental AvailableNow copy with transform") {
    val base = tmpDir("dist")
    // seed the input dir with a first batch of files
    spark.read.parquet(s"${sf()}/region.parquet").write.parquet(s"$base/in")
    val cfg = s"""{
      "d": [{
        "streaming": true,
        "source": {"adapter": "hadoopParquet", "path": "$base/in"},
        "transform": "SELECT r_regionkey, upper(r_name) AS r_name_u FROM _input",
        "dest":   {"adapter": "hadoopParquet", "path": "$base/out"}}]
    }"""
    write(s"$base/config.json", cfg)
    val conf = DistConfig.parse(DistMain.readFile(spark, s"file:$base/config.json"))
    DistMain.runDirection(spark, conf.direction("d"), "d")
    val first = spark.read.parquet(s"$base/out")
    assert(first.count() == 5)
    assert(first.columns.toSeq == Seq("r_regionkey", "r_name_u"))
    // add files, re-run: only the new ones are processed (checkpoint)
    spark.read.parquet(s"${sf()}/nation.parquet")
      .selectExpr("n_nationkey AS r_regionkey", "n_name AS r_name")
      .write.mode("append").parquet(s"$base/in")
    DistMain.runDirection(spark, conf.direction("d"), "d")
    assert(spark.read.parquet(s"$base/out").count() == 30)
  }

  test("streaming task: a non-self-describing verb fails before any job, naming the accepted verbs") {
    // the check is in DistConfig.parse, so no task of the direction runs
    def parse(source: String, dest: String) =
      intercept[IllegalArgumentException](DistConfig.parse(s"""{"d": [{"streaming": true,
        "source": {"adapter": "$source", "path": "file:/nonexistent/in"},
        "dest":   {"adapter": "$dest", "path": "file:/nonexistent/out"}}]}""")).getMessage
    assert(parse("hadoopColumnar", "hadoopParquet") == "task d#0 source: " +
      "streaming tasks support hadoopParquet/hadoopJson/hadoopOrc, got 'hadoopColumnar'")
    assert(parse("hadoopOrc", "hadoopText") == "task d#0 dest: " +
      "streaming tasks support hadoopParquet/hadoopJson/hadoopOrc, got 'hadoopText'")
  }

  test("streaming ingest chain: score -> claim -> gate -> apply claims -> IVFADC encode") {
    // the whole ingest tier as ONE config-driven direction (round 16;
    // round 17 adds the claims-consuming filter stage): five
    // "streaming": true tasks chained through directories, each
    // applying a registered Ingest op under AvailableNow with its own
    // checkpoint — files in, deduplicated/encoded parquet out. Models
    // train from model_dir (the offline corpus), cached per session;
    // apply_claims' model_dir is the ledger the claim stage wrote.
    import org.apache.spark.sql.functions._
    val base = tmpDir("dist")
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .select(col("doc_id"), col("text"))
      .join(spark.read.parquet(s"${sf()}/embeddings.parquet")
        .select(col("vec_id").as("doc_id"), col("embedding")), Seq("doc_id"))
    docs.write.parquet(s"$base/in")
    def stage(op: String, in: String, out: String, md: String = sf()) = s"""{
        "streaming": true, "ingest": "$op", "model_dir": "$md",
        "source": {"adapter": "hadoopParquet", "path": "$base/$in"},
        "dest":   {"adapter": "hadoopParquet", "path": "$base/$out"}}"""
    val cfg = s"""{ "ingest": [
      ${stage("score", "in", "scored")},
      ${stage("dsir_score", "scored", "dsirscored")},
      ${stage("dedup_claim", "scored", "claims")},
      ${stage("gate_contaminated", "scored", "gated")},
      ${stage("apply_claims", "gated", "deduped", s"$base/claims")},
      ${stage("encode_ivfadc", "deduped", "encoded")}] }"""
    write(s"$base/config.json", cfg)
    val conf = DistConfig.parse(DistMain.readFile(spark, s"file:$base/config.json"))
    DistMain.runDirection(spark, conf.direction("ingest"), "ingest")

    // batch twins: every op is the same DataFrame transform, so the
    // stateless stages must match their batch application EXACTLY
    import graft.streaming.Ingest
    val scored = spark.read.parquet(s"$base/scored")
    val expScored = Ingest(spark, "score", sf(), docs)
    assert(scored.count() == expScored.count() && scored.count() > 0,
      "quality gate must keep the batch-scored keep set")
    assert(scored.columns.contains("embedding") && scored.columns.contains("score"),
      "score stage must pass payload columns through")
    // dsir_score: annotate-only — same rows as its input, stamped with
    // the batch-identical importance weight (the per-row expression is
    // batch-twin-gated in StreamingSpec; here the CONFIG surface)
    val dsirScored = spark.read.parquet(s"$base/dsirscored")
    val expDsir = Ingest(spark, "dsir_score", sf(), expScored)
    assert(dsirScored.count() == expScored.count(),
      "dsir_score must pass every row through")
    assert(
      dsirScored.select(col("doc_id"), col("dsir_weight")).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq ==
        expDsir.select(col("doc_id"), col("dsir_weight")).collect()
          .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq,
      "config-surface dsir weights must equal the batch application")
    val gated = spark.read.parquet(s"$base/gated")
    val expGated = Ingest(spark, "gate_contaminated", sf(), expScored)
    assert(gated.select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq ==
      expGated.select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq,
      "contamination gate must pass exactly the batch clean set")
    // apply_claims: the ledger's losers (any claim with an earlier
    // keeper) must be gone, everything else untouched — the config
    // alone yields the DEDUPLICATED stream
    val losers = spark.read.parquet(s"$base/claims")
      .filter(col("keeper_id") =!= col("doc_id"))
      .select(col("doc_id")).distinct()
    assert(losers.count() > 0, "the corpus must contain near-dup claim losers")
    val expDeduped = expGated.join(losers, Seq("doc_id"), "left_anti")
    val deduped = spark.read.parquet(s"$base/deduped")
    assert(deduped.select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq ==
      expDeduped.select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq,
      "apply_claims must drop exactly the ledger's losers")
    val encoded = spark.read.parquet(s"$base/encoded")
    val expEnc = Ingest(spark, "encode_ivfadc", sf(), expDeduped)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).sorted.toSeq
    val gotEnc = encoded
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).sorted.toSeq
    assert(gotEnc == expEnc, "stream encode must be bit-identical to the batch encode")
    assert(gotEnc.nonEmpty)
    // the claim ledger: one claim per (bucket, doc) for every scored doc
    // with a non-empty shingle set, over the batch bucket vocabulary
    val claims = spark.read.parquet(s"$base/claims")
    val expBuckets = expScored
      .selectExpr("doc_id", "shingles(split(trim(text), '\\\\s+'), 3) AS sh")
      .where("size(sh) > 0").count() * 4
    assert(claims.count() == expBuckets, "4 band claims per scored doc")
    assert(claims.columns.toSeq == Seq("bucket", "doc_id", "keeper_id", "batch_id"),
      "claim ledgers are batch_id-partitioned (the compactable layout, r18)")

    // incremental: re-running the direction processes nothing new
    DistMain.runDirection(spark, conf.direction("ingest"), "ingest")
    assert(spark.read.parquet(s"$base/encoded").count() == gotEnc.size,
      "checkpointed chain must not reprocess old files")
  }

  test("streaming ingest: encode_unigram op tokenizes through the config surface") {
    import org.apache.spark.sql.functions._
    val base = tmpDir("dist")
    spark.read.parquet(s"${sf()}/documents.parquet")
      .select(col("doc_id"), col("text")).write.parquet(s"$base/in")
    val cfg = s"""{ "u": [{
        "streaming": true, "ingest": "encode_unigram", "model_dir": "${sf()}",
        "source": {"adapter": "hadoopParquet", "path": "$base/in"},
        "dest":   {"adapter": "hadoopParquet", "path": "$base/tok"}}] }"""
    write(s"$base/config.json", cfg)
    val conf = DistConfig.parse(DistMain.readFile(spark, s"file:$base/config.json"))
    DistMain.runDirection(spark, conf.direction("u"), "u")
    val tok = spark.read.parquet(s"$base/tok")
    val in = spark.read.parquet(s"$base/in")
    assert(tok.count() == in.count(), "annotate-only: every row passes through")
    // the stamped stats must equal the batch application of the same op
    val exp = graft.streaming.Ingest(spark, "encode_unigram", sf(), in)
      .select(col("doc_id"), col("n_words"), col("n_pieces"), col("n_chars_alpha"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq
    val got = tok
      .select(col("doc_id"), col("n_words"), col("n_pieces"), col("n_chars_alpha"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq
    assert(got == exp, "config-surface tokenize must equal the batch application")
    assert(got.exists(_._3 > 0), "the corpus must produce pieces")
  }

  test("streaming ingest: media_dedup op hashes real payloads through the config surface") {
    import org.apache.spark.sql.functions._
    val base = tmpDir("dist")
    graft.multimodal.Media.synthesize(spark, sf()).write.parquet(s"$base/media")
    val cfg = s"""{ "m": [{
        "streaming": true, "ingest": "media_dedup", "model_dir": "${sf()}",
        "source": {"adapter": "hadoopParquet", "path": "$base/media"},
        "dest":   {"adapter": "hadoopParquet", "path": "$base/claims"}}] }"""
    write(s"$base/config.json", cfg)
    val conf = DistConfig.parse(DistMain.readFile(spark, s"file:$base/config.json"))
    DistMain.runDirection(spark, conf.direction("m"), "m")
    val claims = spark.read.parquet(s"$base/claims")
    assert(claims.columns.toSeq == Seq("bucket", "item_key", "keeper_key", "batch_id"))
    // two-level tier: 57 ball claims per DISTINCT hash's first arrival
    // plus one raw-hash probe per later exact-dup item
    val hashed = graft.multimodal.Media
      .dHashItems(graft.multimodal.Media.synthesize(spark, sf()))
    val items = hashed.count()
    val distinctHashes = hashed.select(col("dhash")).distinct().count()
    assert(items > distinctHashes, "the corpus must contain exact media dups")
    assert(claims.count() == distinctHashes * 57 + (items - distinctHashes),
      "57 ball claims per first arrival + 1 probe per exact-dup item")
    assert(claims.filter(col("keeper_key") =!= col("item_key")).count() > 0,
      "the corpus must contain media near-dup candidates")
  }

  test("streaming ingest: url_filter -> extract_html -> langid crawl front end through the config surface") {
    // round 18 (+ the r19 URL tier): a direction can start from a RAW
    // (url, markup) crawl dump — URL gate first (stateless filter),
    // tag-strip to text, then trained-model language ID, each output
    // EXACTLY the batch application of the same op chain.
    import org.apache.spark.sql.functions._
    val base = tmpDir("dist")
    // the crawl fixture: the derived MULTILINGUAL text (the langid
    // corpus) wrapped in the derived HTML chrome, plus the derived URL
    // column (the q_url_filter fixture rule) — extraction must recover
    // text the trained model can still discriminate on
    val html = spark.read.parquet(s"${sf()}/documents.parquet")
      .selectExpr("doc_id", "source", s"${graft.queries.LangId.derivedSql} as text")
      .withColumn("ud", expr(
        graft.functions.CrossHash.h("concat('url#', cast(doc_id as string))")))
      .selectExpr("doc_id", s"${graft.queries.Url.urlSql} as url",
        s"${graft.queries.Html.htmlSql} as html")
    html.write.parquet(s"$base/in")
    def stage(op: String, in: String, out: String) = s"""{
        "streaming": true, "ingest": "$op", "model_dir": "${sf()}",
        "source": {"adapter": "hadoopParquet", "path": "$base/$in"},
        "dest":   {"adapter": "hadoopParquet", "path": "$base/$out"}}"""
    // round 20 (VERDICT r19 #2): the crawl funnel gains URL dedup
    // between url_filter and extract_html — refetches never reach the
    // content tier
    val cfg = s"""{ "crawl": [
      ${stage("url_filter", "in", "kept")},
      ${stage("url_dedup_claim", "kept", "urlclaims")},
      {
        "streaming": true, "ingest": "apply_claims", "model_dir": "$base/urlclaims",
        "source": {"adapter": "hadoopParquet", "path": "$base/kept"},
        "dest":   {"adapter": "hadoopParquet", "path": "$base/unique"}},
      ${stage("extract_html", "unique", "text")},
      ${stage("langid", "text", "tagged")}] }"""
    write(s"$base/config.json", cfg)
    val conf = DistConfig.parse(DistMain.readFile(spark, s"file:$base/config.json"))
    DistMain.runDirection(spark, conf.direction("crawl"), "crawl")
    val got = spark.read.parquet(s"$base/tagged")
    val exp = graft.streaming.Ingest(spark, "langid", sf(),
      graft.streaming.Ingest(spark, "extract_html", sf(),
        graft.streaming.Ingest(spark, "apply_claims", s"$base/urlclaims",
          graft.streaming.Ingest(spark, "url_filter", sf(), html))))
    val expKept = exp.count()
    val nKept = spark.read.parquet(s"$base/kept").count()
    val nUnique = spark.read.parquet(s"$base/unique").count()
    assert(nUnique < nKept, "URL dedup must drop refetches before extraction")
    assert(got.count() == expKept && expKept < html.count() && expKept > 0,
      "the URL gate must drop some fetches; the later stages are annotate-only")
    assert(
      got.select(col("doc_id"), col("text"), col("lang_predicted")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted.toSeq ==
        exp.select(col("doc_id"), col("text"), col("lang_predicted")).collect()
          .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted.toSeq,
      "config-surface extraction + language ID must equal the batch application")
    // the tag-strip really ran: extracted text carries no markup
    assert(got.filter(col("text").contains("<")).count() == 0)
    assert(got.select(col("lang_predicted")).distinct().count() > 1,
      "the trained model must actually discriminate on extracted text")
  }

  test("claim ledger: multi-run direction compacts; apply_claims identical pre/post") {
    // VERDICT r17 #5: a long-running dedup_claim direction appends one
    // batch partition per run — compaction folds the closed range into
    // one partition, and the claims-consuming view (and so
    // apply_claims) must be IDENTICAL before and after; an incremental
    // re-run with nothing new stays a no-op on the compacted ledger.
    import org.apache.spark.sql.functions._
    import graft.streaming.Streams
    val base = tmpDir("dist")
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .select(col("doc_id"), col("text"))
    docs.where(col("doc_id") % 2 === 0).write.parquet(s"$base/in")
    val cfg = s"""{ "c": [{
        "streaming": true, "ingest": "dedup_claim", "model_dir": "${sf()}",
        "source": {"adapter": "hadoopParquet", "path": "$base/in"},
        "dest":   {"adapter": "hadoopParquet", "path": "$base/claims"}}] }"""
    write(s"$base/config.json", cfg)
    val conf = DistConfig.parse(DistMain.readFile(spark, s"file:$base/config.json"))
    DistMain.runDirection(spark, conf.direction("c"), "c")
    // second run over NEW files — the long-running-direction shape
    docs.where(col("doc_id") % 2 === 1).write.mode("append").parquet(s"$base/in")
    DistMain.runDirection(spark, conf.direction("c"), "c")
    def batchDirs(): Seq[Long] =
      new java.io.File(s"$base/claims").listFiles()
        .map(_.getName).filter(_.startsWith("batch_id="))
        .map(_.stripPrefix("batch_id=").toLong).toSeq.sorted
    val pre = batchDirs()
    assert(pre.size >= 2, s"two runs must leave >= 2 batch partitions, got $pre")
    def viewRows(): Seq[(Long, Long, Long)] =
      Streams.claimView(spark, s"$base/claims").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    def applied(): Seq[Long] =
      graft.streaming.Ingest(spark, "apply_claims", s"$base/claims", docs)
        .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
    val (viewPre, appliedPre) = (viewRows(), applied())
    assert(viewPre.nonEmpty && appliedPre.size < docs.count(),
      "the ledger must contain losers for the test to be non-vacuous")
    Streams.compactClaims(spark, s"$base/claims", pre.max)
    assert(batchDirs() == Seq(pre.min),
      s"compaction must fold everything into the lowest batch partition, got ${batchDirs()}")
    assert(viewRows() == viewPre, "claim view must be identical post-compaction")
    assert(applied() == appliedPre, "apply_claims must be identical post-compaction")
    // incremental re-run with nothing new: the checkpointed direction
    // processes zero files and the compacted ledger stays untouched
    DistMain.runDirection(spark, conf.direction("c"), "c")
    assert(batchDirs() == Seq(pre.min) && viewRows() == viewPre,
      "re-run with no new files must be a no-op on the compacted ledger")
  }

  test("streaming ingest: dedup_simhash_claim op emits the exact-recall ledger through the config surface") {
    import org.apache.spark.sql.functions._
    val base = tmpDir("dist")
    graft.io.Tables(spark, sf(), "documents")
      .select(col("doc_id"), col("text")).write.parquet(s"$base/docs")
    val cfg = s"""{ "m": [{
        "streaming": true, "ingest": "dedup_simhash_claim", "model_dir": "${sf()}",
        "source": {"adapter": "hadoopParquet", "path": "$base/docs"},
        "dest":   {"adapter": "hadoopParquet", "path": "$base/claims"}}] }"""
    write(s"$base/config.json", cfg)
    val conf = DistConfig.parse(DistMain.readFile(spark, s"file:$base/config.json"))
    DistMain.runDirection(spark, conf.direction("m"), "m")
    val claims = spark.read.parquet(s"$base/claims")
    // same ledger schema as dedup_claim, so apply_claims composes
    assert(claims.columns.toSeq == Seq("bucket", "doc_id", "keeper_id", "batch_id"))
    val nDocs = spark.read.parquet(s"$base/docs").count()
    assert(claims.count() == nDocs * 252, "C(10,5) block claims per doc")
    assert(claims.filter(col("keeper_id") =!= col("doc_id")).count() > 0,
      "the corpus must contain hamming-<=5 simhash candidates")
  }

  test("save_mode append accumulates; ignore leaves the first write intact") {
    val base = tmpDir("dist")
    def cfg(mode: String) = s"""{
      "d": [{
        "source": {"adapter": "hadoopParquet", "path": "file:${sf()}/region.parquet"},
        "dest":   {"adapter": "hadoopParquet", "path": "file:$base/out",
                   "params": {"save_mode": "$mode"}}}]
    }"""
    def run(mode: String): Unit = {
      write(s"$base/config.json", cfg(mode))
      val conf = DistConfig.parse(DistMain.readFile(spark, s"file:$base/config.json"))
      DistMain.runDirection(spark, conf.direction("d"), "d")
    }
    run("overwrite")
    assert(spark.read.parquet(s"file:$base/out").count() == 5)
    run("append")
    assert(spark.read.parquet(s"file:$base/out").count() == 10)
    run("ignore") // destination exists -> no-op
    assert(spark.read.parquet(s"file:$base/out").count() == 10)
    run("overwrite")
    assert(spark.read.parquet(s"file:$base/out").count() == 5)
  }

  test("in-pipeline SQL transform over the _input view, engine functions available") {
    val base = tmpDir("dist")
    val cfg = s"""{
      "d": [{
        "source": {"adapter": "hadoopParquet", "path": "file:${sf()}/documents.parquet"},
        "transform": "SELECT lang, count(*) AS cnt, min(${"fp"}) AS min_fp FROM (SELECT lang, xxhash64(text) AS fp FROM _input) GROUP BY lang",
        "dest":   {"adapter": "hadoopParquet", "path": "file:$base/out"}}]
    }"""
    write(s"$base/config.json", cfg)
    val conf = DistConfig.parse(DistMain.readFile(spark, s"file:$base/config.json"))
    DistMain.runDirection(spark, conf.direction("d"), "d")
    val out = spark.read.parquet(s"file:$base/out")
    assert(out.columns.toSeq == Seq("lang", "cnt", "min_fp"))
    val expect = spark.read.parquet(s"${sf()}/documents.parquet")
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = out.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expect)
  }

  test("cache hygiene: cacheManager is empty after a transform task completes") {
    val base = tmpDir("dist")
    // simulate a long-lived embedding session: library code has cached
    // internal frames via CacheScope before the pipeline task runs
    // (the minhash kernel persists its shingle frame; the ngram kernel
    // no longer caches — AQE exchange reuse replaced it)
    SparkEntry.queries("q_dedup_minhash_lsh")(spark, sf())
      .write.format("noop").mode("overwrite").save()
    assert(!spark.sharedState.cacheManager.isEmpty, "precondition: library cached something")
    val cfg = s"""{
      "d": [{
        "source": {"adapter": "hadoopParquet", "path": "file:${sf()}/region.parquet"},
        "transform": "SELECT r_regionkey, upper(r_name) AS r_name_u FROM _input",
        "dest":   {"adapter": "hadoopParquet", "path": "file:$base/out"}}]
    }"""
    write(s"$base/config.json", cfg)
    val conf = DistConfig.parse(DistMain.readFile(spark, s"file:$base/config.json"))
    DistMain.runDirection(spark, conf.direction("d"), "d")
    assert(spark.sharedState.cacheManager.isEmpty,
      "graft-created caches must not survive the task that triggered them")
  }

  test("recursive input lookup finds nested files (reference S3 prefix semantics)") {
    val base = tmpDir("dist")
    // nested layout: base/in/y=1/part.parquet, base/in/y=2/deep/part.parquet
    val n = spark.read.parquet(s"${sf()}/nation.parquet")
    n.limit(10).write.parquet(s"$base/in/y=1")
    n.limit(5).write.parquet(s"$base/in/y=2/deep")
    val cfg = s"""{
      "d": [{
        "source": {"adapter": "hadoopParquet", "path": "file:$base/in",
                   "params": {"recursive": true}},
        "dest":   {"adapter": "hadoopParquet", "path": "file:$base/out"}}]
    }"""
    write(s"$base/config.json", cfg)
    val conf = DistConfig.parse(DistMain.readFile(spark, s"file:$base/config.json"))
    DistMain.runDirection(spark, conf.direction("d"), "d")
    assert(spark.read.parquet(s"file:$base/out").count() == 15)
  }

  test("worked example: curation pipeline config end-to-end") {
    // examples/curation_pipeline.json is the shipped user-facing story:
    // four graftQuery-sourced artifacts plus a verify-task audit. The
    // test runs the ACTUAL example file (token substitution only, as
    // examples/README.md documents), so the docs can never drift from a
    // config that parses and runs.
    val base = tmpDir("dist")
    val raw = new String(
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("examples/curation_pipeline.json")), "UTF-8")
    val conf = DistConfig.parse(
      raw.replace("{SF_DIR}", sf()).replace("{OUT}", base))
    DistMain.runDirection(spark, conf.direction("curate"), "curate")
    val surv = spark.read.parquet(s"file:$base/survivors")
    assert(surv.count() > 0 && surv.columns.toSet == Set("doc_id", "lang"))
    // partition_by landed as a hive layout
    assert(new java.io.File(s"$base/survivors").listFiles()
      .exists(_.getName.startsWith("lang=")))
    val rate = spark.read.option("header", true).csv(s"file:$base/dup_rate")
    assert(rate.columns.toSet == Set("source", "n_docs", "n_droppable", "drop_rate"))
    val funnel = spark.read.option("header", true).csv(s"file:$base/funnel")
    assert(funnel.count() == 5)
    // the trained classifier's keep slice materialized through the
    // runner (train-in-engine -> score -> filter -> sink, config only)
    val keeps = spark.read.parquet(s"file:$base/classifier_keeps")
    assert(keeps.columns.toSet == Set("doc_id", "score", "cls_flag"))
    assert(keeps.count() > 0 && keeps.where("cls_flag <> 'keep'").count() == 0)
    // the audit direction re-runs the survivor query and fingerprints it
    // against the parquet written above — must pass on a faithful copy
    DistMain.runDirection(spark, conf.direction("audit"), "audit")
  }

  test("model_export: artifact-loaded ingest ops are bit-identical to on-demand training") {
    // round 20 (VERDICT r19 #1): train once offline, ship the artifact.
    // The export task persists every model family as a bounded parquet
    // table + manifest; an ingest op whose model_dir points at the
    // artifact dir LOADS instead of retraining — and its output must be
    // BIT-identical to the on-demand-trained run (same Scala model
    // value: integer weights/log-probs exactly, float vectors exactly
    // through parquet, Seq order pinned by the idx column).
    import org.apache.spark.sql.functions._
    import graft.streaming.Ingest
    val base = tmpDir("dist")
    val cfg = s"""{ "export": [{
        "model_export": true,
        "source": {"adapter": "hadoopParquet", "path": "${sf()}"},
        "dest":   {"adapter": "hadoopParquet", "path": "file:$base/models"}}] }"""
    write(s"$base/config.json", cfg)
    val conf = DistConfig.parse(DistMain.readFile(spark, s"file:$base/config.json"))
    DistMain.runDirection(spark, conf.direction("export"), "export")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$base/models/_graft_models.json")),
      "export must stamp the manifest (written last = export complete)")

    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .select(col("doc_id"), col("text"))
    val vecs = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val urls = spark.read.parquet(s"${sf()}/documents.parquet")
      .selectExpr("doc_id", "concat('https://', source, " +
        "'.example.com/p/', cast(doc_id % 40 as string), '.html') AS url")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val cases: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      "score" -> docs, "langid" -> docs, "dsir_score" -> docs,
      "encode_unigram" -> docs, "gate_contaminated" -> docs,
      "encode_ivfadc" -> vecs, "url_filter" -> urls)
    cases.foreach { case (op, in) =>
      val trained = rows(Ingest(spark, op, sf(), in))
      val loaded = rows(Ingest(spark, op, s"file:$base/models", in))
      assert(trained.nonEmpty, s"$op: empty on-demand output")
      assert(loaded == trained,
        s"$op: artifact-loaded output differs from on-demand-trained")
    }
  }

  test("model_export: re-run no-op, incremental families, fail-fast guards") {
    import graft.io.ModelStore
    val base = tmpDir("dist")
    val out = s"file:$base/m"
    assert(ModelStore.exportModels(spark, sf(), out, Seq("classifier")) ==
      Seq("classifier"))
    // incremental: a wider request exports ONLY the missing family
    assert(ModelStore.exportModels(spark, sf(), out, Seq("classifier", "dsir")) ==
      Seq("dsir"))
    // complete artifact + unchanged corpus: a re-run is a no-op
    assert(ModelStore.exportModels(spark, sf(), out, Seq("classifier", "dsir")).isEmpty)
    // unknown family fails fast at the export surface
    assertThrows[IllegalArgumentException](
      ModelStore.exportModels(spark, sf(), out, Seq("nope")))
    // an artifact dir LACKING a family fails loudly instead of falling
    // through to training (which would read corpus tables that do not
    // exist there and fail far from the cause)
    assertThrows[IllegalArgumentException](graft.queries.Bpe.unigramModel(spark, out))
    // parse guards: model_export is a standalone batch verb
    def parse(extra: String) = DistConfig.parse(s"""{"d": [{$extra
      "source": {"adapter": "hadoopParquet", "path": "/a"},
      "dest":   {"adapter": "hadoopParquet", "path": "/b"}}]}""")
    assert(parse("\"model_export\": true,").direction("d").head.modelExport)
    assertThrows[IllegalArgumentException](
      parse("\"model_export\": true, \"streaming\": true,"))
    assertThrows[IllegalArgumentException](parse("\"model_families\": [\"dsir\"],"))
    // an unknown family fails at parse too, naming the exportable set
    val unknown = intercept[IllegalArgumentException](
      parse("\"model_export\": true, \"model_families\": [\"dsir\", \"nope\"],"))
    assert(unknown.getMessage.contains("unknown model_families nope") &&
      unknown.getMessage.contains(ModelStore.Families.mkString(", ")))
  }

  test("worked example: streaming ingest config end-to-end") {
    // examples/streaming_ingest.json is the shipped streaming story: a
    // batch prepare step stages the incoming CRAWL DUMP (url + raw
    // markup — rounds 18/19), a model_export direction persists every
    // trained model as a parquet artifact (round 20), then an
    // eleven-stage "streaming": true
    // direction runs URL gate -> URL dedup claims + application
    // (round 20) -> HTML extraction -> language ID -> quality gate ->
    // DSIR weights -> near-dup claims -> contamination gate -> claim
    // application -> unigram tokenize, each under AvailableNow with
    // its own checkpoint. The test runs the ACTUAL example file (token
    // substitution only), so the docs can never drift from a config
    // that parses and runs.
    import org.apache.spark.sql.functions._
    val base = tmpDir("dist")
    val raw = new String(
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("examples/streaming_ingest.json")), "UTF-8")
    val conf = DistConfig.parse(
      raw.replace("{SF_DIR}", sf()).replace("{OUT}", base))
    DistMain.runDirection(spark, conf.direction("prepare"), "prepare")
    // round 20: the export direction trains every model family ONCE
    // and persists the artifacts; the ingest direction's model-backed
    // stages point model_dir at file:{OUT}/models — the stream tier
    // runs with no corpus access at all (the production hand-off)
    DistMain.runDirection(spark, conf.direction("export"), "export")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$base/models/_graft_models.json")))
    DistMain.runDirection(spark, conf.direction("ingest"), "ingest")
    val tokenized = spark.read.parquet(s"file:$base/tokenized")
    assert(tokenized.count() > 0)
    // every stage's annotations survived the chain — including the
    // crawl front end's tag count and language tag (round 18)
    assert(Set("doc_id", "text", "n_tags", "lang_predicted", "score",
      "cls_flag", "dsir_weight",
      "n_feats", "n_words", "n_pieces", "n_chars_alpha")
      .subsetOf(tokenized.columns.toSet), tokenized.columns.mkString(","))
    // the URL gate really ran: ftp/.jpg fetches dropped, the
    // normalized key stamped for a downstream dedup_claim to use
    val incoming = spark.read.parquet(s"file:$base/incoming").count()
    val fetched = spark.read.parquet(s"file:$base/fetched")
    assert(fetched.count() < incoming, "the URL gate must drop fetches")
    assert(fetched.columns.contains("norm") &&
      fetched.where(col("verdict") =!= "keep").count() == 0)
    // URL dedup really ran (round 20): the claim ledger flags the
    // prepare step's deliberate refetches, apply_claims drops them
    val unique = spark.read.parquet(s"file:$base/unique").count()
    assert(unique < fetched.count(),
      "url_dedup_claim + apply_claims must drop refetches before extraction")
    // the extraction really ran: raw markup in, clean text out
    assert(spark.read.parquet(s"file:$base/incoming")
      .where(col("html").contains("<p>")).count() > 0)
    assert(spark.read.parquet(s"file:$base/text")
      .where(col("text").contains("<")).count() == 0)
    // the quality gate dropped something, the claim filter dropped more
    val gated = spark.read.parquet(s"file:$base/gated").count()
    assert(gated < fetched.count(), "the gates must drop documents")
    assert(tokenized.count() < gated, "apply_claims must drop near-dup losers")
    assert(tokenized.where(col("n_pieces") > 0).count() > 0)
    // incremental: re-running the ingest direction processes nothing
    DistMain.runDirection(spark, conf.direction("ingest"), "ingest")
    assert(spark.read.parquet(s"file:$base/tokenized").count() == tokenized.count(),
      "checkpointed chain must not reprocess old files")
  }

  test("unknown adapter and unknown param fail fast") {
    // at parse, so the direction's earlier tasks never write output
    val unknownVerb = intercept[IllegalArgumentException](DistConfig.parse(
      """{"d": [{"source": {"adapter": "nope", "path": "/x"},
        |        "dest": {"adapter": "hadoopParquet", "path": "/y"}}]}""".stripMargin))
    assert(unknownVerb.getMessage.startsWith("task d#0 source: unknown input adapter 'nope'"))
    val unknownParam = intercept[IllegalArgumentException](DistConfig.parse(
      s"""{"d": [{"source": {"adapter": "hadoopParquet", "path": "file:${sf()}/nation.parquet",
         |         "params": {"bogus_param": 1}},
         |        "dest": {"adapter": "hadoopParquet", "path": "/y"}}]}""".stripMargin))
    assert(unknownParam.getMessage.startsWith(
      "task d#0 source: hadoopParquet: unknown param 'bogus_param'"))
  }
}
