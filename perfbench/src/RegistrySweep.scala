package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import graft.SparkEntry

import PerfBench._

/** Every `SparkEntry.queries` entry in a seeded order, built, planned
  * and driven to the `noop` sink, one query per op, with the catalog
  * cache cleared between queries so no result is cached. Passes repeat
  * until the run's time is up. Not in BENCHMARK.json: one warm pass
  * takes minutes at 4 cores, longer than a benchmark run may last.
  *
  * Checks: after the timed loop every oracle-backed query that ran
  * writes its result to parquet once, and run.py compares it with the
  * DuckDB oracle the way tools/check.py does; a query without an oracle
  * must give the same row count in every pass.
  */
final class RegistrySweep(spark: SparkSession, data: String, work: Path,
    seed: Long) extends Workload {

  private val order = shuffled(SparkEntry.queries.keys.toSeq.sorted, seed)
  private val oracles = SparkEntry.oracleSql
  private val rowCounts = mutable.Map[String, mutable.Set[Long]]()
  private val checkDir = work.resolve("oracle_check")

  def setUp(): Unit = {
    // warm-up: a pass over the registry in another order
    shuffled(order, seed + 1).foreach { q =>
      try drive(q, Untraced) catch { case _: Exception => () }
      spark.catalog.clearCache()
    }
  }

  private def drive(q: String, phase: Phase): Unit = {
    val df = phase("build")(SparkEntry.queries(q)(spark, data))
    phase("plan")(df.queryExecution.executedPlan)
    phase("action")(df.write.format("noop").mode("overwrite").save())
  }

  def op(i: Int, phase: Phase): String = {
    val q = order(i % order.size)
    drive(q, phase)
    q
  }

  /** Rows-only queries are counted once per pass (untimed). */
  def afterOp(i: Int, label: String): Long = {
    spark.catalog.clearCache()
    if (!oracles.contains(label)) {
      rowCounts.getOrElseUpdate(label, mutable.Set()) += SparkEntry.queries(label)(spark, data).count()
      spark.catalog.clearCache()
    }
    1L
  }

  def check(results: Seq[(Int, String)]): (Seq[String], Seq[Failure]) = {
    val ran = results.map(_._2).distinct
    Files.createDirectories(checkDir)
    ran.filter(oracles.contains).foreach { q =>
      SparkEntry.queries(q)(spark, data).write.parquet(checkDir.resolve(q).toString)
      spark.catalog.clearCache()
    }
    Files.writeString(checkDir.resolve("oracle_sql.json"),
      Json(ran.filter(oracles.contains).map(q => q -> oracles(q)).toMap))
    val unstable = rowCounts.collect { case (q, n) if n.size > 1 => q }.toSet
    (Seq("oracle (run.py)", "rows-only counts"),
      if (unstable.isEmpty) Nil
      else Seq(Failure("rows-only counts", unstable.mkString(","),
        results.collect { case (i, q) if unstable(q) => i }.toSet)))
  }
}
