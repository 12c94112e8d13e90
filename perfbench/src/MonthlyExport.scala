package perfbench

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import java.util.zip.ZipInputStream

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, shiftright, sum, when, xxhash64}
import org.apache.spark.sql.types.StringType
import graft.SparkEntry
import graft.functions.EthiopianCalendar
import graft.operators.LineLists
import graft.sources.{ExportConfig, ExportMain}

import PerfBench._

/** The paper's product: `ExportMain.run` with the shipped export
  * config (12 reports), one package per op, over the Ethiopian months
  * of 2016 in a seeded order, writing real CSV, zip and SHA-256 files.
  *
  * The warm-up exports the run's first month, and op 0 exports it
  * again. A run times at least `minOps` packages: a package takes
  * about as long as a run, and with "one or two" a slow first package
  * would leave itself the run's only sample.
  *
  * Checks: every package's checksum file equals its inner zip's
  * SHA-256; packages of the same month (op 0 and the warm-up package,
  * at least) hold byte-identical CSVs; and for op 0, `CheckedReports`
  * reports drawn by the seed (all 12 over a few seeds) have CSVs that,
  * parsed back, hash-equal the report DataFrame collected directly
  * plus the constant columns.
  * The package digest itself is not compared across packages: the zip
  * entries carry wall-clock times.
  */
final class MonthlyExport(spark: SparkSession, data: String, work: Path,
    seed: Long, configPath: Path) extends Workload {

  private val Year = 2016
  private val CheckedReports = 4
  private val months = shuffled(1 to 13, seed)
  private val out = work.resolve("export")
  private val config = ExportConfig.load(configPath)
  private val configs = mutable.Map[Int, Path]()

  /** What the check needs of one package. */
  private final case class Pkg(month: Int, checksumOk: Boolean,
      csvSha: Map[String, String], dir: Path)
  private val pkgs = mutable.Map[Int, Pkg]()
  private var warmPkg: String = _
  override val minOps = 2

  private def monthOf(i: Int): Int = months(i % months.size)

  def setUp(): Unit = {
    val mapper = new ObjectMapper()
    months.foreach { m =>
      val root = mapper.readTree(configPath.toFile).asInstanceOf[ObjectNode]
      root.putObject("window").put("eth_month", m).put("eth_year", Year)
      val p = work.resolve(s"export_config_$m.json")
      mapper.writeValue(p.toFile, root)
      configs(m) = p
    }
    // warm-up: one full package of op 0's month, kept for the check
    warmPkg = ExportMain.run(spark, Array(data, out.resolve("warm").toString,
      configs(months.head).toString)).packagePath.toString
    spark.catalog.clearCache()
  }

  def op(i: Int, phase: Phase): String = {
    val dir = out.resolve(f"pkg$i%04d")
    val res = phase("export")(ExportMain.run(spark,
      Array(data, dir.toString, configs(monthOf(i)).toString)))
    res.packagePath.toString
  }

  override def afterOp(i: Int, label: String): Long = {
    spark.catalog.clearCache()
    val (pkg, rows) = readPackage(label, monthOf(i), keepCsvs = i == 0)
    pkgs(i) = pkg
    rows
  }

  /** Reads a package back (outside the timed region): checksum,
    * per-CSV digest and CSV row count. Keeps the CSV files on disk for
    * the DataFrame check if `keepCsvs`, else deletes the package.
    */
  private def readPackage(zip: String, month: Int, keepCsvs: Boolean): (Pkg, Long) = {
    val inner = mutable.Map[String, Array[Byte]]()
    eachEntry(Files.readAllBytes(Paths.get(zip)))((n, b) => inner(n) = b)
    val zipName = inner.keys.find(_.endsWith(".zip")).get
    val sumName = inner.keys.find(_.endsWith("_checksum.txt")).get
    val checksumOk = new String(inner(sumName), "UTF-8").trim == sha256(inner(zipName))
    val csvs = mutable.Map[String, Array[Byte]]()
    eachEntry(inner(zipName))((n, b) => csvs(n) = b)
    val rows = csvs.values.map(b => b.count(_ == '\n').toLong - 1).sum
    val dir = Paths.get(zip).getParent
    if (keepCsvs) csvs.foreach { case (n, b) => Files.write(dir.resolve(n), b) }
    else deleteTree(dir)
    (Pkg(month, checksumOk, csvs.view.mapValues(sha256).toMap, dir), rows)
  }

  def check(results: Seq[(Int, String)]): (Seq[String], Seq[Failure]) = {
    val failures = mutable.ArrayBuffer[Failure]()
    // the warm-up package is compared as op -1; it is no op of its own
    val all = pkgs.toMap + (-1 -> readPackage(warmPkg, months.head, keepCsvs = false)._1)
    val badSum = all.collect { case (i, p) if !p.checksumOk => i }.toSet
    if (badSum.nonEmpty)
      failures += Failure("checksum", s"${badSum.size} packages", badSum.filter(_ >= 0))
    all.groupBy(_._2.month).foreach { case (m, ps) =>
      if (ps.values.map(_.csvSha).toSet.size > 1)
        failures += Failure("same-month CSVs", s"month $m differs", ps.keySet.filter(_ >= 0))
    }
    pkgs.get(0).foreach { p =>
      val bad = csvVsDataFrame(p)
      if (bad.nonEmpty) failures += Failure("CSV vs DataFrame",
        s"month ${p.month}: ${bad.mkString(",")}",
        pkgs.collect { case (i, q) if q.month == p.month => i }.toSet)
      deleteTree(p.dir)
    }
    (Seq("checksum", "same-month CSVs", "CSV vs DataFrame"), failures.toSeq)
  }

  /** Reports whose CSV differs from the DataFrame the export wrote.
    * Both sides go through one order-independent row hash: the CSV is
    * parsed back with the DataFrame's own schema.
    */
  private def csvVsDataFrame(p: Pkg): Seq[String] = {
    val end = EthiopianCalendar.reportWindow(p.month, Year)._2
    shuffled(config.queries, seed).take(CheckedReports).filterNot { case (tag, qname) =>
      val built = LineLists.asOf.get(qname) match {
        case Some(b) => b(spark, data, end)
        case None => SparkEntry.queries(qname)(spark, data)
      }
      val df = config.constants.foldLeft(built) { case (d, (k, v)) => d.withColumn(k, lit(v)) }
      val csv = p.csvSha.keys.find(_.startsWith(tag + "_")).map(p.dir.resolve).get
      val back = spark.read.schema(df.schema).option("header", "true").csv(csv.toString)
      digest(emptyAsNull(df)) == digest(back)
    }.map(_._1)
  }

  /** Spark's CSV reader reads an empty string back as null. */
  private def emptyAsNull(df: DataFrame): DataFrame = df.select(df.schema.map { f =>
    if (f.dataType == StringType) when(col(f.name) =!= "", col(f.name)).as(f.name)
    else col(f.name)
  }: _*)

  /** Row count and the sums of the low and high halves of the row
    * hashes (halves, so the sums cannot overflow).
    */
  private def digest(df: DataFrame): Seq[Any] = {
    val h = xxhash64(df.columns.map(col): _*)
    df.select(h.bitwiseAND(0xffffffffL).as("lo"), shiftright(h, 32).as("hi"))
      .agg(count(lit(1)), sum("lo"), sum("hi")).head().toSeq
  }

  private def eachEntry(zip: Array[Byte])(f: (String, Array[Byte]) => Unit): Unit = {
    val in = new ZipInputStream(new java.io.ByteArrayInputStream(zip))
    try {
      var e = in.getNextEntry
      while (e != null) { f(e.getName, in.readAllBytes()); e = in.getNextEntry }
    } finally in.close()
  }

  private def sha256(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString
}
