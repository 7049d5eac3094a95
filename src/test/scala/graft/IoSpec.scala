package graft

import graft.core._
import graft.io.Flatten
import org.apache.spark.sql.functions._

class IoSpec extends GraftSuite {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("flatten reproduces json_normalize naming; arrays stay values") {
    val df = Seq((1L, ("u", (2.0, "x")), Seq(1, 2)))
      .toDF("id", "nested", "arr")
      .select(col("id"),
        struct(col("nested._1").as("name"),
          struct(col("nested._2._1").as("score"), col("nested._2._2").as("tag")).as("inner")).as("nested"),
        col("arr"))
    val flat = Flatten.flatten(df, "_")
    assert(flat.columns.toSeq == Seq("id", "nested_name", "nested_inner_score", "nested_inner_tag", "arr"))
    val r = flat.collect()(0)
    assert(r.getString(1) == "u" && r.getDouble(2) == 2.0)
    assert(r.getSeq[Int](4) == Seq(1, 2))
  }

  test("custom separator") {
    val df = spark.sql("SELECT named_struct('b', 1) AS a")
    assert(Flatten.flatten(df, "__").columns.toSeq == Seq("a__b"))
  }

  test("illegal column chars replaced (databases/base.py:59-66)") {
    val df = Seq((1, 2)).toDF("a b", "c-d!")
    assert(Flatten.replaceIllegalColumnChars(df).columns.toSeq == Seq("a_b", "c_d_"))
  }

  test("capitalization policies (utils/dataframe.py:17-33)") {
    val df = Seq((1, 2)).toDF("AbC", "dEf")
    assert(Flatten.applyCapitalization(df, ColumnsCapitalization.Lower).columns.toSeq == Seq("abc", "def"))
    assert(Flatten.applyCapitalization(df, ColumnsCapitalization.Upper).columns.toSeq == Seq("ABC", "DEF"))
    assert(Flatten.applyCapitalization(df, ColumnsCapitalization.Original).columns.toSeq == Seq("AbC", "dEf"))
  }

  test("csv single-file export + load roundtrip") {
    val dir = tmp("graft_io_csv")
    val df = Seq((1L, "x,with comma", 1.5), (2L, "plain", 2.5)).toDF("k", "s", "v")
    val path = s"$dir/out.csv"
    g.exportToFile(df, FileRef(path), singleFile = true)
    assert(new java.io.File(path).isFile)
    val back = g.loadFile(FileRef(path)).orderBy("k").collect()
    assert(back.length == 2)
    assert(back(0).getString(1) == "x,with comma")
    assert(back(1).getDouble(2) == 2.5)
  }

  test("xml single-file export + load roundtrip; custom rowTag wins over the default") {
    val dir = tmp("graft_io_xml")
    val df = Seq((1L, "a <b> & 'c'", 1.5), (2L, "plain", 2.5)).toDF("k", "s", "v")
    val path = s"$dir/out.xml"
    g.exportToFile(df, FileRef(path), singleFile = true)
    assert(new java.io.File(path).isFile)
    // default element names are symmetric: no options needed to read back
    val back = g.loadFile(FileRef(path)).orderBy("k").collect()
    assert(back.length == 2)
    assert(back(0).getString(1) == "a <b> & 'c'", "XML escaping must roundtrip")
    assert(back(1).getDouble(2) == 2.5)
    // user rowTag overrides the default on both sides
    val p2 = s"$dir/custom.xml"
    g.exportToFile(df, FileRef(p2, options = Map("rowTag" -> "rec")), singleFile = true)
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(p2)).contains("<rec>"))
    val b2 = g.loadFile(FileRef(p2, options = Map("rowTag" -> "rec"))).orderBy("k").collect()
    assert(b2.length == 2 && b2(0).getLong(0) == 1L)
  }

  test("single-file append keeps existing rows (no silent replace)") {
    val dir = tmp("graft_io_appendsf")
    val path = s"$dir/out.csv"
    g.exportToFile(Seq((1L, "a")).toDF("k", "s"), FileRef(path), singleFile = true)
    g.exportToFile(Seq((2L, "b")).toDF("k", "s"), FileRef(path),
      ifExists = IfExists.Append, singleFile = true)
    val back = g.loadFile(FileRef(path)).orderBy("k").collect()
    assert(back.map(r => (r.getInt(0), r.getString(1))).toSeq == Seq((1, "a"), (2, "b")))
  }

  test("single-file append guard: fails past singleFileAppendMaxBytes with guidance") {
    val dir = tmp("graft_io_appendguard")
    val path = s"$dir/out.csv"
    g.exportToFile(Seq((1L, "a")).toDF("k", "s"), FileRef(path), singleFile = true)
    spark.conf.set("spark.graft.singleFileAppendMaxBytes", "1")
    try {
      val e = intercept[IllegalStateException] {
        g.exportToFile(Seq((2L, "b")).toDF("k", "s"), FileRef(path),
          ifExists = IfExists.Append, singleFile = true)
      }
      assert(e.getMessage.contains("singleFile = false"))
      // the failed append must not have clobbered the existing file
      val back = g.loadFile(FileRef(path)).collect()
      assert(back.map(r => (r.getInt(0), r.getString(1))).toSeq == Seq((1, "a")))
    } finally spark.conf.unset("spark.graft.singleFileAppendMaxBytes")
  }

  test("export strict mode raises when file exists") {
    val dir = tmp("graft_io_strict")
    val df = Seq((1, 2)).toDF("a", "b")
    g.exportToFile(df, FileRef(s"$dir/f.csv"))
    intercept[IllegalStateException] {
      g.exportToFileStrict(df, FileRef(s"$dir/f.csv"))
    }
  }

  test("ndjson load flattens nested structs") {
    val dir = tmp("graft_io_nd")
    val nested = Seq((1L, "a", 9.0)).toDF("id", "t", "v")
      .select(col("id"), struct(col("t"), struct(col("v")).as("deep")).as("p"))
    nested.write.mode("overwrite").json(s"$dir/nd")
    val back = g.loadFile(FileRef(s"$dir/nd", Some(FileFormat.Ndjson)))
    assert(back.columns.toSet == Set("id", "p_t", "p_deep_v"))
  }

  test("getFileList globs") {
    val dir = tmp("graft_io_ls")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/a.csv"), "x")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/b.csv"), "y")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/c.txt"), "z")
    assert(g.getFileList(s"$dir/*.csv").size == 2)
    assert(g.getFileList(dir).size == 3)
  }

  test("pattern load reads multiple files (resolve_file_path_pattern parity)") {
    val dir = tmp("graft_io_pat")
    Seq((1, "a")).toDF("k", "s").write.mode("overwrite").option("header", "true").csv(s"$dir/part1")
    val df = g.loadFile(FileRef(s"$dir/part1/*.csv", Some(FileFormat.Csv)))
    assert(df.count() == 1)
  }

  test("first-file-only schema inference pins ragged multi-file loads") {
    val dir = tmp("graft_io_ragged")
    // file A: k,s — file B adds an extra column and widens k to a double
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/a_first.csv"),
      "k,s\n1,x\n2,y\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/b_second.csv"),
      "k,s\n3.5,z\n")
    val pinned = g.loadFile(FileRef(s"$dir/*.csv", Some(FileFormat.Csv)),
      inferFromFirstFileOnly = true)
    // schema comes from a_first.csv alone: k is an integer type
    assert(pinned.schema("k").dataType.typeName == "integer")
    assert(pinned.count() == 3)
    // default Spark behavior infers over all files → k widens to double
    val wide = g.loadFile(FileRef(s"$dir/*.csv", Some(FileFormat.Csv)))
    assert(wide.schema("k").dataType.typeName == "double")
  }

  test("autodetectRowsCount bounds the inference sample") {
    val dir = tmp("graft_io_rows")
    // row 1 is an int; row 2 would widen to double — a 1-row sample pins int
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/f.csv"),
      "k\n1\n2.5\n")
    val s = g.inferSchemaFromFirstFile(FileRef(s"$dir/f.csv"), rows = 1)
    assert(s("k").dataType.typeName == "integer")
  }

  test("first-file sample matches the text-reader sample: gzip, short file, CRLF, BOM, NDJSON") {
    val dir = tmp("graft_io_sample")
    def write(name: String, text: String): String = {
      val path = s"$dir/$name"
      val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      if (name.endsWith(".gz")) {
        val out = new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(path))
        try out.write(bytes) finally out.close()
      } else java.nio.file.Files.write(java.nio.file.Paths.get(path), bytes)
      path
    }
    // the sample the text reader takes: the first `n` lines, inferred alone
    def textReaderSample(file: String, n: Int) = spark.read.textFile(file).limit(n)
    def csvSchema(lines: org.apache.spark.sql.Dataset[String]) =
      spark.read.option("header", "true").option("inferSchema", "true").csv(lines).schema
    // k turns fractional past row 15, so only a sample of <= 15 rows infers an integer
    val rows = (1 to 30).map(i =>
      s"${if (i > 15) s"$i.5" else i},${i * 0.5},2024-01-${"%02d".format(i)},t$i")
    val cases = Seq(
      write("a.csv.gz", ("k,x,d,s" +: rows).mkString("\n") + "\n") -> 10,
      write("short.csv", "k,x\n1,2.5\n") -> 1000,
      write("crlf.csv", ("k,x,d,s" +: rows).mkString("\r\n") + "\r\n") -> 5,
      write("bom.csv", "\uFEFFk,x\n1,a\n") -> 1000)
    cases.foreach { case (file, n) =>
      val got = g.inferSchemaFromFirstFile(FileRef(file, Some(FileFormat.Csv)), rows = n)
      assert(got == csvSchema(textReaderSample(file, n + 1)), file)
    }
    val gz = FileRef(s"$dir/a.csv.gz", Some(FileFormat.Csv))
    assert(g.inferSchemaFromFirstFile(gz, rows = 10)("k").dataType.typeName == "integer")
    assert(g.inferSchemaFromFirstFile(FileRef(s"$dir/short.csv")).map(_.name) == Seq("k", "x"))
    val nd = write("a.ndjson", "\uFEFF" + (1 to 5).map(i =>
      s"""{"k": $i, "v": {"a": ${if (i > 2) "1.5" else "1"}}}""").mkString("\r\n"))
    assert(g.inferSchemaFromFirstFile(FileRef(nd), rows = 2) ==
      spark.read.json(textReaderSample(nd, 2)).schema)
  }

  test("includeFileName exposes METADATA$FILENAME analogue") {
    val dir = tmp("graft_io_meta")
    Seq((1, "a")).toDF("k", "s").write.mode("overwrite").option("header", "true")
      .csv(s"$dir/part1")
    val df = g.loadFile(FileRef(s"$dir/part1/*.csv", Some(FileFormat.Csv)),
      includeFileName = true)
    val fn = df.select("metadata_filename").collect()(0).getString(0)
    assert(fn.contains("part1") && fn.endsWith(".csv"), fn)
  }

  test("getValueList maxMapLength bound raises above the cap") {
    Seq(1, 2, 3).toDF("k").createOrReplaceTempView("gv_bound")
    assert(g.getValueList("SELECT k FROM gv_bound", maxMapLength = 3).size == 3)
    intercept[IllegalStateException] {
      g.getValueList("SELECT k FROM gv_bound", maxMapLength = 2)
    }
  }

  test("transform CTAS + cleanup lifecycle") {
    Seq((1, 10), (2, 20)).toDF("k", "v").createOrReplaceTempView("io_src")
    val out = g.transform("SELECT k, v * 2 AS v2 FROM {{s}}", Map("s" -> TableRef("io_src")))
    assert(out.temp)
    assert(spark.table(out.qualifiedName).orderBy("k").collect().map(_.getInt(1)).toSeq == Seq(20, 40))
    assert(g.registeredTempTables.nonEmpty)
    g.cleanup()
    assert(g.registeredTempTables.isEmpty)
    assert(!spark.catalog.tableExists(out.qualifiedName))
  }

  test("append maps columns and fills missing with null") {
    Seq((1, "x")).toDF("k", "s").createOrReplaceTempView("ap_view")
    g.writeTable(spark.table("ap_view"), TableRef("ap_tgt"), IfExists.Replace)
    Seq((2, "y")).toDF("kk", "ss").createOrReplaceTempView("ap_src_view")
    g.writeTable(spark.table("ap_src_view"), TableRef("ap_src"), IfExists.Replace)
    g.append(TableRef("ap_src"), TableRef("ap_tgt"), Seq("kk" -> "k"))
    val rows = spark.table("ap_tgt").orderBy("k").collect()
    assert(rows.length == 2)
    assert(rows(1).getInt(0) == 2 && rows(1).isNullAt(1))
  }

  test("self-referencing transform is safe (write-new-swap-pointer)") {
    g.writeTable(Seq((1, 1)).toDF("k", "v"), TableRef("selfref"), IfExists.Replace)
    g.transform("SELECT k, v + 1 AS v FROM {{t}}", Map("t" -> TableRef("selfref")),
      output = Some(TableRef("selfref")))
    assert(spark.table("selfref").collect()(0).getInt(1) == 2)
  }

  test("loadFile columns/dtype knobs: scan pruned to the subset, casts applied") {
    val dir = tmp("graft_loadopts")
    Seq((1L, "a", 1.5, "x"), (2L, "b", 2.5, "y")).toDF("k", "s", "v", "extra")
      .write.parquet(s"$dir/t")
    val df = g.loadFile(FileRef(s"$dir/t", Some(graft.core.FileFormat.Parquet)),
      columns = Seq("k", "v"), dtype = Map("v" -> "string"))
    assert(df.columns.toSeq == Seq("k", "v"))
    assert(df.schema("v").dataType.typeName == "string")
    // the subset is a select, so Catalyst prunes the parquet ReadSchema —
    // the unused columns are never read
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!plan.contains("extra"), plan)
    assert(df.orderBy("k").collect().map(_.getString(1)).toSeq == Seq("1.5", "2.5"))
  }

  test("remote fetch stages on a shared (non-file-scheme) Hadoop FS for cluster reads") {
    // register a mock shared filesystem under its own scheme so the test
    // exercises the exact cluster path: fetch → non-file:// staging URI →
    // distributed spark.read through that FS
    spark.sparkContext.hadoopConfiguration
      .set("fs.mockfs.impl", classOf[MockSharedFs].getName)
    val staging = tmp("graft_mockfs_staging")
    val dir = tmp("graft_http_shared")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "data.csv"), "k,v\n1,a\n2,b\n")
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (exchange: com.sun.net.httpserver.HttpExchange) => {
      val f = new java.io.File(dir, exchange.getRequestURI.getPath.stripPrefix("/"))
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      exchange.sendResponseHeaders(200, bytes.length.toLong)
      exchange.getResponseBody.write(bytes)
      exchange.close()
    })
    server.start()
    try {
      spark.conf.set("spark.graft.remoteStagingDir", s"mockfs:$staging")
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/data.csv"
      val fetched = graft.io.RemoteFetch.fetch(spark, url)
      assert(fetched.startsWith("mockfs:"), fetched)
      val back = g.loadFile(FileRef(fetched, Some(FileFormat.Csv))).orderBy("k").collect()
      assert(back.length == 2 && back(1).getString(1) == "b")
      // and loadFile end-to-end routes the URL through the same staging
      val direct = g.loadFile(FileRef(url, Some(FileFormat.Csv))).orderBy("k").collect()
      assert(direct.length == 2)
    } finally {
      spark.conf.unset("spark.graft.remoteStagingDir")
      server.stop(0)
    }
  }

  test("sftp fetch: command-template transport, default-template argv shape, failure surfacing") {
    val root = tmp("graft_sftp_root")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "data.csv"), "k,v\n1,a\n2,b\n")
    // stand-in for the OpenSSH client: asserts the exact argv the DEFAULT
    // template produces, then performs the copy a real `sftp` would
    val script = java.nio.file.Paths.get(tmp("graft_sftp_bin"), "fakesftp.sh")
    java.nio.file.Files.writeString(script,
      s"""#!/bin/bash
         |[ "$$1" = "-q" ] || exit 64
         |[ "$$2" = "-oBatchMode=yes" ] || exit 64
         |[ "$$3" = "-P" ] || exit 64
         |[ "$$4" = "2222" ] || exit 64
         |src="$$5"; dest="$$6"
         |[ "$${src%%:*}" = "tester@127.0.0.1" ] || exit 64
         |cp "$root$${src#*:}" "$$dest"
         |""".stripMargin)
    script.toFile.setExecutable(true)
    val tpl = graft.io.RemoteFetch.DefaultSftpCmd.replace("sftp ", script.toString + " ")
    spark.conf.set("spark.graft.sftpFetchCmd", tpl)
    try {
      val local = graft.io.RemoteFetch.fetch(spark, "sftp://tester@127.0.0.1:2222/data.csv")
      assert(java.nio.file.Files.readString(java.nio.file.Paths.get(local)).contains("2,b"))
      // a failing transport surfaces exit code + output, not a missing file
      spark.conf.set("spark.graft.sftpFetchCmd", "false")
      val e = intercept[java.io.IOException](
        graft.io.RemoteFetch.fetch(spark, "sftp://h/x"))
      assert(e.getMessage.contains("sftp fetch failed"), e.getMessage)
    } finally spark.conf.unset("spark.graft.sftpFetchCmd")
    // gdrive default transport: the rclone template — pin the exact argv
    // the DEFAULT template produces ({hostpath} folds the URL host into
    // the rclone remote path), with a stand-in performing the copy
    val gscript = java.nio.file.Paths.get(tmp("graft_gdrive_bin"), "fakerclone.sh")
    java.nio.file.Files.writeString(gscript,
      s"""#!/bin/bash
         |[ "$$1" = "copyto" ] || exit 64
         |[ "$$2" = "gdrive:folder/data.csv" ] || exit 64
         |cp "$root/data.csv" "$$3"
         |""".stripMargin)
    gscript.toFile.setExecutable(true)
    val gtpl = graft.io.RemoteFetch.DefaultGdriveCmd.replace("rclone ", gscript.toString + " ")
    spark.conf.set("spark.graft.gdriveFetchCmd", gtpl)
    try {
      val gl = graft.io.RemoteFetch.fetch(spark, "gdrive://folder/data.csv")
      assert(java.nio.file.Files.readString(java.nio.file.Paths.get(gl)).contains("2,b"))
    } finally spark.conf.unset("spark.graft.gdriveFetchCmd")
    // ...and the generic per-scheme hook takes precedence when configured
    spark.conf.set("spark.graft.fetchCmd.gdrive", s"cp $root{path} {dest}")
    try {
      val gl = graft.io.RemoteFetch.fetch(spark, "gdrive://folder/data.csv")
      assert(java.nio.file.Files.readString(java.nio.file.Paths.get(gl)).contains("1,a"))
    } finally spark.conf.unset("spark.graft.fetchCmd.gdrive")
  }
}

/** Test-only "shared" filesystem: local disk exposed under the `mockfs://`
  * scheme, standing in for HDFS/S3 in the cluster-staging test. */
class MockSharedFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("mockfs:///")
}
