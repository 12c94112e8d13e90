package graft.sources

import java.nio.file.{Files, Paths}
import java.time.LocalDate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import graft.{GraftSession, SparkEntry, Tables}
import graft.functions.EthiopianCalendar

/** CLI twin of the reference tool's run flow (export.py:352-387):
  * derive the Gregorian report window from an Ethiopian month + year,
  * run every configured query, package the CSVs (zip + SHA-256).
  *
  * Two invocation modes:
  *
  *   runMain graft.sources.ExportMain <sfDir> <outDir> <ethMonth 1-13> <ethYear>
  *   runMain graft.sources.ExportMain <sfDir> <outDir> <config.json>
  *
  * Config mode mirrors export_config.json: the JSON names the
  * queries (tag → SparkEntry.queries key), the constant columns, and
  * optionally the window. With no window configured the run is
  * "as of now" — the Ethiopian month containing today, the
  * COALESCE(REPORT_END_DATE, CURDATE()) behavior of the reference.
  */
object ExportMain {

  /** Ethiopian month names as in export.py:102-103. */
  val Months = Seq("Meskerem", "Tikimit", "Hidar", "Tahisas", "Tir", "Yekatit",
    "Megabit", "Miazia", "Ginbot", "Sene", "Hamle", "Nehassie", "Pagume")

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt, "graft-export")
    val res = run(spark, args)
    println(s"[export] package=${res.packagePath} sha256=${res.checksum} files=${res.csvFiles.mkString(",")}")
    spark.stop()
  }

  /** The whole export flow minus session lifecycle — testable
    * end-to-end (main owns create/stop; specs pass the shared
    * session).
    */
  def run(spark: org.apache.spark.sql.SparkSession,
      args: Array[String]): ExportJob.Result = {
    val (argDir, outDir) = (args(0), args(1))
    val config: Option[ExportConfig] =
      if (args.length >= 3 && args(2).endsWith(".json"))
        Some(ExportConfig.load(Paths.get(args(2))))
      else None

    // configured DB_URL switches the source to JDBC (the reference's
    // analytics_db); otherwise the parquet directory argument stands
    val sfDir = config.flatMap(_.dbUrl).getOrElse(argDir)
    config.foreach { c =>
      c.db.get("DB_USER").foreach(spark.conf.set("graft.jdbc.user", _))
      c.db.get("DB_PASS").foreach(spark.conf.set("graft.jdbc.password", _))
    }

    // window: CLI args > config > "as of now" (CURDATE semantics)
    def numeric(s: String) = s.nonEmpty && s.forall(_.isDigit)
    val (m, y) = (config, args.drop(2)) match {
      case (_, Array(mS, yS, _*)) if numeric(mS) && numeric(yS) =>
        (mS.toInt, yS.toInt)
      case (_, Array(mS, yS, _*)) =>
        throw new IllegalArgumentException(
          s"window args must be numeric: month=$mS year=$yS")
      case (Some(c), _) if c.ethMonth.isDefined || c.ethYear.isDefined =>
        // a half-specified window is a config mistake, not "as of now"
        if (c.ethMonth.isEmpty || c.ethYear.isEmpty)
          throw new IllegalArgumentException("config window needs BOTH " +
            s"eth_month and eth_year (got month=${c.ethMonth}, year=${c.ethYear})")
        (c.ethMonth.get, c.ethYear.get)
      case _ =>
        val (ey, em, _) = EthiopianCalendar.toEthiopian(LocalDate.now())
        (em, ey)
    }
    // validate BEFORE the window math: an out-of-range month would
    // otherwise compute a silently-wrong window and only crash later
    // at the month-name lookup with a bare IndexOutOfBounds
    require(m >= 1 && m <= 13,
      s"Ethiopian month $m out of range 1..13 (13 = Pagume)")
    val (start, end) = EthiopianCalendar.reportWindow(m, y)
    println(s"[export] window ${Months(m - 1)} $y -> [$start, $end]")

    // resolve every configured name BEFORE any Spark job: an unknown
    // query fails the run here, not later inside the report pool. A
    // query named by several tags is built once, under the first tag;
    // the others get copies of its output
    val t = Tables(spark, sfDir)
    val (reports, copies) = config match {
      case Some(c) =>
        val tagsOf = c.queries.groupMap(_._2)(_._1).view.mapValues(_.sorted).toMap
        val builds = c.queries.map(_._2).distinct.map { qname =>
          val tags = tagsOf(qname)
          // window-dependent reports run at the runtime window; the
          // rest are the registered (fixed-window, oracle-matched)
          // queries unchanged
          val build: () => DataFrame = graft.operators.LineLists.asOf.get(qname) match {
            case Some(b) => () => b(spark, sfDir, end)
            case None =>
              val q = SparkEntry.queries.getOrElse(qname,
                throw new IllegalArgumentException(
                  s"config names unknown query '$qname' for tag '${tags.head}'"))
              () => q(spark, sfDir)
          }
          tags.head -> build
        }.toMap
        (builds, tagsOf.values.flatMap(ts => ts.tail.map(_ -> ts.head)).toMap)
      case None =>
        (Map[String, () => DataFrame](
          "Event_LineList" -> (() => graft.operators.Relational.lineListAsOf(spark, sfDir, end)),
          "Event_Window" -> (() => t.events.filter(
            col("ts") >= start.toString && col("ts") < end.plusDays(1).toString))),
          Map.empty[String, String])
    }

    // constants from config, else from the dim tables, first row —
    // mirroring the facility_details/hmiscode lookups (export.py:257-279)
    val constants: Seq[(String, String)] = config.map(_.constants).filter(_.nonEmpty)
      .getOrElse {
        val firstNation = t.nation.orderBy("n_nationkey").limit(1)
          .join(t.region, col("n_regionkey") === col("r_regionkey"))
          .select("r_name", "n_name").head()
        val (regionName, facilityName) = (firstNation.getString(0), firstNation.getString(1))
        val hmis = s"H${t.nation.orderBy("n_nationkey").limit(1).head().getInt(0)}23"
        Seq("Region" -> regionName, "Woreda" -> s"${regionName}_W0",
          "Facility" -> facilityName, "HMISCode" -> hmis)
      }
    val facility = constants.toMap.getOrElse("Facility", "Facility")
    val hmisCode = constants.toMap.getOrElse("HMISCode", "H000")
    val facilitySan = facility.replace(" ", "").replace("_", "")
    val tag = s"$facilitySan${hmisCode}_${Months(m - 1)}_$y"

    // the 12 report queries all re-read the fact tables; one cached
    // scan serves every report in the package (export.py runs its 12
    // queries against the same warm MySQL — this is the Spark analog).
    // Materialized before the reports start: concurrent readers of a
    // lazily-persisted frame each find it unbuilt and recompute it.
    // Released when the run ends, unless it was cached before the run.
    val events = t.events
    val ownCache = events.storageLevel == StorageLevel.NONE
    if (ownCache) events.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      events.count()
      ExportJob.run(spark, reports, constants,
        outDir = Paths.get(outDir), tag = tag, copies = copies)
    } finally if (ownCache) events.unpersist(blocking = false)
  }
}
