package graft

import java.nio.file.Files
import java.util.zip.ZipFile
import scala.jdk.CollectionConverters._
import scala.io.Source

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.storage.StorageLevel
import graft.sources.{ExportJob, ExportMain}

class ExportJobSpec extends SparkSpec {

  private def description(e: SparkListenerJobStart): String =
    Option(e.properties).map(_.getProperty("spark.job.description")).orNull

  /** Runs `body` and returns its outcome with every job started
    * meanwhile. A marker job after `body` flushes the listener bus:
    * events arrive in order, so once the marker's start is seen, so is
    * every job before it.
    */
  private def jobsDuring[T](body: => T): (scala.util.Try[T], Seq[SparkListenerJobStart]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.add(e)
    }
    val sc = spark.sparkContext
    val marker = s"marker-${java.util.UUID.randomUUID()}"
    sc.addSparkListener(listener)
    try {
      val out = scala.util.Try(body)
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 60000000000L
      while (!seen.asScala.exists(description(_) == marker) && System.nanoTime() < deadline)
        Thread.sleep(10)
      (out, seen.asScala.toSeq.filterNot(description(_) == marker))
    } finally sc.removeSparkListener(listener)
  }

  /** name → bytes of every entry in a package's inner zip. */
  private def innerEntries(pkg: java.nio.file.Path): Map[String, Array[Byte]] = {
    val zf = new ZipFile(pkg.toFile)
    try {
      val e = zf.entries().asScala.find(_.getName.endsWith(".zip")).get
      val in = new java.util.zip.ZipInputStream(zf.getInputStream(e))
      Iterator.continually(in.getNextEntry).takeWhile(_ != null)
        .map(x => x.getName -> in.readAllBytes()).toMap
    } finally zf.close()
  }

  private def listing(dir: java.nio.file.Path): Seq[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
    finally s.close()
  }

  private def writeConfig(queries: String): java.nio.file.Path = {
    val p = Files.createTempFile("exportcfg", ".json")
    Files.writeString(p, s"""{"queries":{$queries},
      "constants":{"Region":"R1","Woreda":"W1","Facility":"F1","HMISCode":"H1"},
      "window":{"eth_month":5,"eth_year":2016}}""")
    p
  }

  /** A report whose CSV write runs about 25 s unless it is cancelled.
    * Two tasks, so they leave two of the session's four cores to the
    * report that fails.
    */
  private def slowReport(): DataFrame = {
    val slow = udf((i: Long) => { Thread.sleep(1); i })
    spark.range(0, 50000, 1, 2).toDF("id").withColumn("v", slow(col("id")))
  }

  test("csv merge preserves quoted multiline fields byte-exactly") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_multiline")
    val df = Seq(
      (1L, "plain"),
      (2L, "embedded\nnewline"),
      (3L, "crlf\r\nline"),
      (4L, "quote\"inside")).toDF("id", "v").repartition(3)
    val res = ExportJob.run(spark, Map("ml" -> (() => df)), Nil, out, "mltest")
    val zf = new ZipFile(res.packagePath.toFile)
    val tmpInner = Files.createTempFile("inner", ".zip")
    Files.copy(zf.getInputStream(zf.getEntry("mltest.zip")), tmpInner,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val inner = new ZipFile(tmpInner.toFile)
    val csvPath = Files.createTempFile("ml", ".csv")
    Files.copy(inner.getInputStream(inner.getEntry("ml_mltest.csv")), csvPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // Spark's own csv reader must round-trip the merged file exactly
    // reader options must match the writer's defaults (quote=", escape=\)
    val back = spark.read.option("header", "true").option("multiLine", "true")
      .csv(csvPath.toString)
      .collect().map(r => r.getString(0).toLong -> r.getString(1)).toMap
    assert(back == Map(1L -> "plain", 2L -> "embedded\nnewline",
      3L -> "crlf\r\nline", 4L -> "quote\"inside"))
    inner.close(); zf.close()
  }

  test("export runs queries, appends constants, zips with checksum") {
    val t = Tables(spark, sf)
    val out = Files.createTempDirectory("graft_export")
    val res = ExportJob.run(
      spark,
      Map(
        "regions" -> (() => t.region),
        "top_nations" -> (() => t.nation.limit(5))),
      constants = Seq("Region" -> "Addis", "Facility" -> "TestFacility", "HMISCode" -> "H123"),
      outDir = out,
      tag = "TestFacilityH123_Tir_2016")

    assert(Files.exists(res.packagePath))
    val zf = new ZipFile(res.packagePath.toFile)
    val names = zf.entries().asScala.map(_.getName).toSet
    assert(names == Set("TestFacilityH123_Tir_2016.zip",
      "TestFacilityH123_Tir_2016_checksum.txt"))

    // checksum in the package matches the sha256 of the inner zip
    val chkEntry = zf.getEntry("TestFacilityH123_Tir_2016_checksum.txt")
    val recorded = Source.fromInputStream(zf.getInputStream(chkEntry)).mkString.trim
    assert(recorded == res.checksum)
    assert(recorded.matches("[0-9a-f]{64}"))

    // inner zip holds one csv per query with the constant columns appended
    val innerEntry = zf.getEntry("TestFacilityH123_Tir_2016.zip")
    val tmpInner = Files.createTempFile("inner", ".zip")
    Files.copy(zf.getInputStream(innerEntry), tmpInner,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val inner = new ZipFile(tmpInner.toFile)
    val csvNames = inner.entries().asScala.map(_.getName).toSet
    assert(csvNames == Set("regions_TestFacilityH123_Tir_2016.csv",
      "top_nations_TestFacilityH123_Tir_2016.csv"))
    val csv = Source.fromInputStream(
      inner.getInputStream(inner.getEntry("regions_TestFacilityH123_Tir_2016.csv")))
      .getLines().toSeq
    assert(csv.head.split(",").takeRight(3).toSeq == Seq("Region", "Facility", "HMISCode"))
    assert(csv.tail.nonEmpty && csv.tail.forall(_.endsWith("Addis,TestFacility,H123")))
    inner.close(); zf.close()
  }

  test("manifest-at-scale path: part files + manifest replace the driver merge past the byte gate") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_export_manifest")
    val df = (1 to 500).map(i => (i.toLong, s"name$i")).toDF("id", "name")
      .repartition(4)
    val res = ExportJob.run(spark, Map("big" -> (() => df)),
      constants = Seq("Facility" -> "F1"), outDir = out, tag = "t1",
      mergeBudgetBytes = 1L)
    assert(res.dataDirs == Seq("big_t1"))
    assert(res.csvFiles == Seq("big_t1_manifest.csv"))
    // the data dir stays beside the package and reads back as one
    // table (every part carries its own header)
    val dataDir = out.resolve("big_t1")
    val back = spark.read.option("header", "true").csv(dataDir.toString)
    assert(back.count() == 500)
    assert(back.columns.toSeq == Seq("id", "name", "Facility"))
    // the packaged manifest lists exactly the on-disk parts with sizes
    val zf = new ZipFile(res.packagePath.toFile)
    val tmpInner = Files.createTempFile("inner", ".zip")
    Files.copy(zf.getInputStream(zf.getEntry("t1.zip")), tmpInner,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val inner = new ZipFile(tmpInner.toFile)
    val lines = Source.fromInputStream(
        inner.getInputStream(inner.getEntry("big_t1_manifest.csv")))
      .getLines().toSeq
    assert(lines.head == "file,bytes,sha256")
    val listed = lines.tail.map { l =>
      val Array(f, b, h) = l.split(","); f -> ((b.toLong, h))
    }.toMap
    // name, size AND content digest of every on-disk part — the
    // package checksum now transitively attests part content
    val onDisk = Files.list(dataDir).iterator().asScala
      .map(p => s"big_t1/${p.getFileName}" ->
        ((Files.size(p), ExportJob.sha256(p)))).toMap
    assert(listed == onDisk && listed.nonEmpty)
    assert(listed.values.map(_._2).toSeq.distinct.length == listed.size,
      "distinct parts must carry distinct digests")
    inner.close(); zf.close()
  }

  test("manifest path: a copied report gets its own data dir and manifest of the same parts") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_export_manifest_copy")
    val df = (1 to 200).map(i => (i.toLong, s"name$i")).toDF("id", "name").repartition(3)
    val res = ExportJob.run(spark, Map("big" -> (() => df)), Nil, out, "t2",
      mergeBudgetBytes = 1L, copies = Map("big2" -> "big"))
    assert(res.dataDirs == Seq("big_t2", "big2_t2"))
    assert(res.csvFiles == Seq("big_t2_manifest.csv", "big2_t2_manifest.csv"))
    val manifests = innerEntries(res.packagePath).view
      .mapValues(b => new String(b, "UTF-8").split("\n").toSeq).toMap
    Seq("big", "big2").foreach { n =>
      val listed = manifests(s"${n}_t2_manifest.csv").tail.map(_.split(","))
      val dir = out.resolve(s"${n}_t2")
      assert(listed.map(_(0)) == listing(dir).map(f => s"${n}_t2/$f"), n)
      listed.foreach { case Array(f, b, h) =>
        val p = out.resolve(f)
        assert(Files.size(p) == b.toLong && ExportJob.sha256(p) == h, f)
      }
      assert(spark.read.option("header", "true").csv(dir.toString).count() == 200, n)
    }
  }

  test("export config parses tags, constants and window (export_config.json semantics)") {
    val c = graft.sources.ExportConfig.load(
      java.nio.file.Paths.get("config/export_config.json"))
    assert(c.queries.toMap.get("Tx_Curr_LineList").contains("q_line_list"))
    assert(c.queries.size == 12) // every reference report has a tag
    assert(c.constants.toMap.get("HMISCode").contains("H12323"))
    assert(c.ethMonth.contains(5) && c.ethYear.contains(2016))
    // every configured query name resolves in the registry
    c.queries.foreach { case (tag, q) =>
      assert(SparkEntry.queries.contains(q), s"$tag -> $q not registered") }
    // window absent => as-of-now (CURDATE) semantics
    val noWin = graft.sources.ExportConfig.parse("""{"queries":{"a":"q_line_list"}}""")
    assert(noWin.ethMonth.isEmpty && noWin.constants.isEmpty)
  }

  test("full-config export run produces the reference package layout end-to-end") {
    val out = Files.createTempDirectory("graft_full_export")
    val res = graft.sources.ExportMain.run(spark,
      Array(sf, out.toString, "config/export_config.json"))
    val tag = "TestFacilityH12323_Tir_2016" // sanitized Facility + HMIS + window
    val zf = new ZipFile(res.packagePath.toFile)
    assert(zf.entries().asScala.map(_.getName).toSet ==
      Set(s"$tag.zip", s"${tag}_checksum.txt"))
    val recorded = Source.fromInputStream(
      zf.getInputStream(zf.getEntry(s"${tag}_checksum.txt"))).mkString.trim
    assert(recorded == res.checksum)
    val tmpInner = Files.createTempFile("inner", ".zip")
    Files.copy(zf.getInputStream(zf.getEntry(s"$tag.zip")), tmpInner,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val inner = new ZipFile(tmpInner.toFile)
    val csvNames = inner.entries().asScala.map(_.getName).toSet
    val cfg = graft.sources.ExportConfig.load(
      java.nio.file.Paths.get("config/export_config.json"))
    assert(csvNames == cfg.queries.map { case (t, _) => s"${t}_$tag.csv" }.toSet)
    assert(csvNames.size == 12)
    // every report carries the constant columns, values on every row
    csvNames.foreach { n =>
      val lines = Source.fromInputStream(inner.getInputStream(inner.getEntry(n)))
        .getLines().toSeq
      assert(lines.head.split(",").takeRight(4).toSeq ==
        Seq("Region", "Woreda", "Facility", "HMISCode"), n)
      assert(lines.tail.nonEmpty, s"$n is empty")
      assert(lines.tail.forall(_.endsWith("Test Region,Test_W01,Test Facility,H12323")), n)
    }
    inner.close(); zf.close()
  }

  test("half-specified config window fails loudly, not with a bare NoSuchElement") {
    val cfgPath = Files.createTempFile("halfwin", ".json")
    Files.writeString(cfgPath,
      """{"queries":{"A":"q_line_list"},"window":{"eth_month":5}}""")
    val out = Files.createTempDirectory("graft_halfwin")
    val e = intercept[IllegalArgumentException] {
      graft.sources.ExportMain.run(spark,
        Array(sf, out.toString, cfgPath.toString))
    }
    assert(e.getMessage.contains("eth_year"), e.getMessage)
  }

  test("as-of window: lineListAsOf at the oracle end equals registered q_line_list") {
    val fixed = SparkEntry.queries("q_line_list")(spark, sf)
      .collect().map(_.toString).sorted
    val asOf = graft.operators.Relational.lineListAsOf(spark, sf,
        java.time.LocalDate.parse("2024-01-21"))
      .collect().map(_.toString).sorted
    assert(asOf.sameElements(fixed))
    // an earlier end can only shrink or equal the cohort, never error
    val earlier = graft.operators.Relational.lineListAsOf(spark, sf,
        java.time.LocalDate.parse("2024-01-10")).count()
    assert(earlier > 0 && earlier <= fixed.length)
  }

  test("as-of window: every LineLists.asOf builder at the oracle end equals its registered query") {
    val oracleEnd = java.time.LocalDate.parse("2024-01-21")
    graft.operators.LineLists.asOf.foreach { case (name, build) =>
      val fixed = SparkEntry.queries(name)(spark, sf)
        .collect().map(_.toString).sorted
      val asOf = build(spark, sf, oracleEnd).collect().map(_.toString).sorted
      assert(asOf.sameElements(fixed), s"$name as-of mismatch at oracle end")
      // a different end changes the plan without erroring
      assert(build(spark, sf, java.time.LocalDate.parse("2024-01-10")).count() >= 0)
    }
  }

  test("reportWindowAsOf picks the Ethiopian month containing today") {
    import graft.functions.EthiopianCalendar._
    val today = java.time.LocalDate.parse("2024-01-15")
    val (start, end) = reportWindowAsOf(today)
    val (y, m, _) = toEthiopian(today)
    assert((start, end) == reportWindow(m, y))
    assert(!start.isAfter(end))
    // the window always spans 30 days (21st -> 20th of consecutive months)
    assert(java.time.temporal.ChronoUnit.DAYS.between(start, end) == 29)
  }

  test("jdbc-sourced export round-trips a report through embedded Derby") {
    // seed an in-memory Derby database from the parquet tables — the
    // reference's analytics_db stand-in (no wire protocol, same
    // spark.read.jdbc path a MySQL url would take)
    val url = "jdbc:derby:memory:graftjdbc;create=true"
    val t = graft.Tables(spark, sf)
    val props = new java.util.Properties()
    Seq("customer", "nation", "region").foreach { n =>
      t.table(n).write.mode("overwrite").jdbc(url, n, props)
    }
    t.events.write.mode("overwrite").jdbc(url, "events", props)

    // the registered flagship, parameterized only by the source dir:
    // a jdbc: dir must produce the SAME report as the parquet dir
    val end = java.time.LocalDate.parse("2024-01-21")
    val viaJdbc = graft.operators.Relational.lineListAsOf(spark, url, end)
    val viaParquet = graft.operators.Relational.lineListAsOf(spark, sf, end)
    val a = viaJdbc.collect().map(_.toString).sorted
    val b = viaParquet.collect().map(_.toString).sorted
    assert(a.length == b.length && a.sameElements(b),
      s"jdbc rows ${a.length} vs parquet rows ${b.length}")

    // and the packaged export flows through the jdbc source end-to-end
    val out = Files.createTempDirectory("graft_jdbc_export")
    val res = ExportJob.run(spark,
      Map("Tx_Curr_LineList" -> (() => viaJdbc)),
      Seq("Region" -> "R1"), out, "jdbcround")
    assert(Files.exists(res.packagePath))
    assert(res.csvFiles == Seq("Tx_Curr_LineList_jdbcround.csv"))

    // config plumbing: DB_URL selects the jdbc source, credentials land
    // in the session conf
    val cfg = graft.sources.ExportConfig.parse(
      s"""{"queries":{"A":"q_line_list"},
          "db_properties":{"DB_URL":"$url","DB_USER":"app","DB_PASS":"x"}}""")
    assert(cfg.dbUrl.contains(url))
    assert(cfg.db("DB_USER") == "app")

    // and the WHOLE ExportMain config flow against the database: a
    // config whose db_properties carries the url must produce the
    // same report rows as the parquet run (the parquet dir argument
    // is ignored when DB_URL is set)
    val cfgPath = Files.createTempFile("jdbccfg", ".json")
    Files.writeString(cfgPath,
      s"""{"queries":{"Tx_Curr_LineList":"q_line_list"},
          "constants":{"Region":"R1","Woreda":"W1","Facility":"F1","HMISCode":"H1"},
          "window":{"eth_month":5,"eth_year":2016},
          "db_properties":{"DB_URL":"$url"}}""")
    val outJ = Files.createTempDirectory("graft_jdbc_main")
    val resJ = graft.sources.ExportMain.run(spark,
      Array(sf, outJ.toString, cfgPath.toString))
    assert(Files.exists(resJ.packagePath))
    val outP = Files.createTempDirectory("graft_parq_main")
    Files.writeString(cfgPath,
      s"""{"queries":{"Tx_Curr_LineList":"q_line_list"},
          "constants":{"Region":"R1","Woreda":"W1","Facility":"F1","HMISCode":"H1"},
          "window":{"eth_month":5,"eth_year":2016}}""")
    val resP = graft.sources.ExportMain.run(spark,
      Array(sf, outP.toString, cfgPath.toString))
    // the report CONTENT must be identical — compare the inner CSV lines
    def innerCsv(pkg: java.nio.file.Path): Seq[String] = {
      val zf = new ZipFile(pkg.toFile)
      val zipEntry = zf.entries().asScala.find(_.getName.endsWith(".zip")).get
      val tmp = Files.createTempFile("inner", ".zip")
      Files.copy(zf.getInputStream(zipEntry), tmp,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      val in = new ZipFile(tmp.toFile)
      val lines = in.entries().asScala.toSeq.sortBy(_.getName).flatMap(e =>
        Source.fromInputStream(in.getInputStream(e)).getLines().toSeq)
      in.close(); zf.close()
      lines
    }
    assert(innerCsv(resJ.packagePath) == innerCsv(resP.packagePath),
      "jdbc-sourced export must equal the parquet-sourced export")
  }

  test("jdbc partitioned read honors the graft.jdbc.* knobs and stays row-identical") {
    // the single-partition default is the classic JDBC-at-scale trap
    // (one executor streams the whole table); Tables wires the
    // partitioned-read knobs through session conf — this pins that
    // they actually reach the scan (VERDICT r10 #5)
    val url = "jdbc:derby:memory:graftjdbcpart;create=true"
    val t = graft.Tables(spark, sf)
    t.table("customer").write.mode("overwrite")
      .jdbc(url, "customer", new java.util.Properties())

    // default path first: no knobs -> Spark's one-partition JDBC scan
    val single = graft.Tables(spark, url).table("customer")
    assert(single.rdd.getNumPartitions == 1,
      "without the knobs the JDBC scan is the documented single-partition read")

    val knobs = Seq(
      "partitionColumn" -> "c_custkey", "numPartitions" -> "4",
      // bounds are stride hints, not filters: Spark's edge partitions
      // absorb out-of-range keys, so deliberately loose bounds must
      // still be row-complete
      "lowerBound" -> "0", "upperBound" -> "1000000")
    knobs.foreach { case (k, v) => spark.conf.set(s"graft.jdbc.$k", v) }
    try {
      val parted = graft.Tables(spark, url).table("customer")
      assert(parted.rdd.getNumPartitions == 4,
        s"expected 4 JDBC range partitions, got ${parted.rdd.getNumPartitions}")
      val a = parted.collect().map(_.toString).sorted
      val b = t.table("customer").collect().map(_.toString).sorted
      assert(a.length == b.length && a.sameElements(b),
        s"partitioned jdbc rows ${a.length} vs parquet rows ${b.length}")
    } finally knobs.foreach { case (k, _) =>
      spark.conf.unset(s"graft.jdbc.$k") }
  }

  test("re-exporting one config gives the same package bytes") {
    val runs = Seq("graft_same_a", "graft_same_b").map { d =>
      ExportMain.run(spark, Array(sf, Files.createTempDirectory(d).toString,
        "config/export_config.json"))
    }
    assert(runs(0).checksum == runs(1).checksum)
    assert(java.util.Arrays.equals(Files.readAllBytes(runs(0).packagePath),
      Files.readAllBytes(runs(1).packagePath)), "package bytes differ")
    // the config's two repeated queries: each tag carries the same CSV
    val csvs = innerEntries(runs(0).packagePath)
    val tag = "TestFacilityH12323_Tir_2016"
    Seq("Tx_Curr_HVL_LineList" -> "Tx_Curr_VLEligibleNew_LineList",
        "Tx_Curr_AHD_LineList" -> "Tx_Curr_CCANew_LineList").foreach { case (a, b) =>
      assert(csvs(s"${a}_$tag.csv").sameElements(csvs(s"${b}_$tag.csv")), s"$a vs $b")
    }
  }

  test("a query named by two tags is built and written once, under both tags") {
    def export(queries: String) = jobsDuring(ExportMain.run(spark, Array(sf,
      Files.createTempDirectory("graft_dup").toString, writeConfig(queries).toString)))
    export(""""A":"q_ll_hvl"""") // warm-up: table schemas, codegen
    val (one, jobsOne) = export(""""A":"q_ll_hvl"""")
    val (two, jobsTwo) = export(""""B":"q_ll_hvl","A":"q_ll_hvl"""")
    assert(two.get.csvFiles == Seq("A_F1H1_Tir_2016.csv", "B_F1H1_Tir_2016.csv"))
    val csvs = innerEntries(two.get.packagePath)
    assert(csvs("A_F1H1_Tir_2016.csv").sameElements(csvs("B_F1H1_Tir_2016.csv")))
    assert(csvs("A_F1H1_Tir_2016.csv").sameElements(
      innerEntries(one.get.packagePath)("A_F1H1_Tir_2016.csv")))
    // the second tag adds no job: none runs under its name
    assert(jobsTwo.size <= jobsOne.size,
      s"two tags ran ${jobsTwo.size} jobs, one tag ${jobsOne.size}")
    assert(!jobsTwo.exists(description(_) == "export/B"))
  }

  test("every report's CSV write is a Spark job described export/<name>") {
    val t = Tables(spark, sf)
    val out = Files.createTempDirectory("graft_jobnames")
    val (res, jobs) = jobsDuring(ExportJob.run(spark, Map(
        "regions" -> (() => t.region),
        "nations" -> (() => t.nation),
        "customers" -> (() => t.customer)),
      Nil, out, "jobnames"))
    assert(res.get.csvFiles == Seq("customers_jobnames.csv",
      "nations_jobnames.csv", "regions_jobnames.csv"))
    val writes = jobs.filter(_.stageInfos.exists(_.name.startsWith("csv at")))
      .map(description).toSet
    assert(Set("export/regions", "export/nations", "export/customers").subsetOf(writes),
      s"csv write jobs were described $writes")
  }

  test("a report that throws in build fails the run by name, cancels the rest, leaves nothing") {
    val out = Files.createTempDirectory("graft_fail_build")
    spark.sparkContext // a session start is no part of the timed run
    val t0 = System.nanoTime()
    val e = intercept[RuntimeException] {
      ExportJob.run(spark, Map(
          "slow" -> (() => slowReport()),
          "broken" -> (() => throw new IllegalStateException("no such table"))),
        Nil, out, "failbuild")
    }
    val secs = (System.nanoTime() - t0) / 1e9
    assert(e.getMessage.contains("'broken'") && e.getMessage.contains("no such table"),
      e.getMessage)
    assert(secs < 15, s"the slow sibling was not cancelled: the run took $secs s")
    assert(listing(out).isEmpty, listing(out))
  }

  test("a report that throws in write fails the run by name, cancels the rest, leaves nothing") {
    val out = Files.createTempDirectory("graft_fail_write")
    spark.sparkContext // a session start is no part of the timed run
    val bad = udf((i: Long) => { if (i == 3) throw new IllegalStateException("bad row"); i })
    val t0 = System.nanoTime()
    val e = intercept[RuntimeException] {
      ExportJob.run(spark, Map(
          "slow" -> (() => slowReport()),
          "ok" -> (() => spark.range(0, 10).toDF("id")),
          "broken" -> (() => spark.range(0, 10, 1, 2).toDF("id")
            .withColumn("v", bad(col("id"))))),
        Nil, out, "failwrite")
    }
    val secs = (System.nanoTime() - t0) / 1e9
    assert(e.getMessage.contains("'broken'"), e.getMessage)
    assert(secs < 15, s"the slow sibling was not cancelled: the run took $secs s")
    assert(listing(out).isEmpty, listing(out))
  }

  test("an unknown query name is rejected before any Spark job runs") {
    val cfg = Files.createTempFile("unknownq", ".json")
    Files.writeString(cfg, """{"queries":{"A":"q_line_list","B":"q_no_such_query"},
      "window":{"eth_month":5,"eth_year":2016}}""")
    val out = Files.createTempDirectory("graft_unknownq")
    val (res, jobs) = jobsDuring(ExportMain.run(spark, Array(sf, out.toString, cfg.toString)))
    res.failed.get match {
      case e: IllegalArgumentException =>
        assert(e.getMessage.contains("q_no_such_query"), e.getMessage)
      case e => fail(s"expected IllegalArgumentException, got $e")
    }
    assert(jobs.isEmpty, s"${jobs.size} jobs ran before the config was rejected")
    assert(listing(out).isEmpty, listing(out))
  }

  test("a run releases the events cache it made, and only that one") {
    val sc = spark.sparkContext
    val events = Tables(spark, sf).events
    events.unpersist(blocking = true)
    val cfg = writeConfig(""""A":"q_line_list"""").toString
    def export() = ExportMain.run(spark,
      Array(sf, Files.createTempDirectory("graft_cache").toString, cfg))
    val before = sc.getPersistentRDDs.keySet
    export()
    assert(events.storageLevel == StorageLevel.NONE)
    assert(sc.getPersistentRDDs.keySet == before, "the run left a cached RDD behind")
    // cached by the caller before the run: still cached after it
    events.persist(StorageLevel.MEMORY_AND_DISK).count()
    try {
      export()
      assert(events.storageLevel == StorageLevel.MEMORY_AND_DISK)
    } finally events.unpersist(blocking = true)
  }
}
