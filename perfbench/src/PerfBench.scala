package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.perfbench.{HeapWatch, Tracer}
import org.apache.spark.sql.SparkSession

/** One benchmark run: session start, workload set-up and warm-up, a
  * closed loop of ops (one at a time, the next starts when the last
  * ends) for `--seconds`, then the output checks outside the timed
  * region. Prints one `PERFBENCH {...}` line for run.py.
  *
  *   PerfBench --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --data <inputDir> --work <scratchDir> --root <checkout>
  *
  * With `--trace 1` every other op runs with the listeners attached;
  * the per-layer counters come from those ops, and the median of the
  * traced ops over the untraced ones is the tracing overhead.
  */
object PerfBench {

  /** A failed output check; `ops` are the indexes of the ops whose
    * results it covers (they count as failed ops).
    */
  final case class Failure(check: String, detail: String, ops: Set[Int])

  trait Workload {
    def setUp(): Unit
    /** Runs op `i` and returns a label for its result; `phase` records
      * a driver-side span in traced ops.
      */
    def op(i: Int, phase: Phase): String
    /** Untimed follow-up of op `i`; returns the items the op produced. */
    def afterOp(i: Int, label: String): Long
    def exhausted: Boolean = false
    /** Ops the loop runs even past the deadline. */
    def minOps: Int = 1
    /** Output checks over every op that ran, outside the timed region:
      * the names of the checks made and the ones that failed.
      */
    def check(results: Seq[(Int, String)]): (Seq[String], Seq[Failure])
  }

  trait Phase { def apply[T](name: String)(f: => T): T }
  object Untraced extends Phase { def apply[T](name: String)(f: => T): T = f }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work"))
    val data = opt("data")
    HeapWatch.install()

    val spark = session(work)
    note("session up")
    val wl: Workload = opt("workload") match {
      case "monthly_export" => new MonthlyExport(spark, data, work, seed,
        Paths.get(opt("root"), "config", "export_config.json"))
      case "stream_ingest" => new StreamIngest(spark, data, work)
      case "corpus_prep" => new CorpusPrep(spark, data, work, seed)
      case "registry_sweep" => new RegistrySweep(spark, data, work, seed)
      case w => sys.error(s"unknown workload $w")
    }
    wl.setUp()
    note("set-up done")
    val setupEnd = System.currentTimeMillis()

    val tracer = new Tracer(spark, System.nanoTime(), System.currentTimeMillis())
    val times = mutable.ArrayBuffer[(Double, Boolean)]()
    val results = mutable.ArrayBuffer[(Int, String)]()
    val items = mutable.ArrayBuffer[Long]()
    val errors = mutable.ArrayBuffer[(Int, String)]()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    // a traced run needs an untraced op too, for the overhead
    val minOps = math.max(wl.minOps, if (trace) 2 else 1)
    var i = 0
    while ((System.nanoTime() < deadline || i < minOps) && !wl.exhausted) {
      val traced = trace && i % 2 == 0
      val rec = if (traced) Some(tracer.begin()) else None
      val phase: Phase = rec match {
        case None => Untraced
        case r => new Phase { def apply[T](n: String)(f: => T): T = tracer.phase(r, n)(f) }
      }
      val t0 = System.nanoTime()
      val res = try Right(wl.op(i, phase)) catch {
        case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      val dt = (System.nanoTime() - t0) / 1e9
      rec.foreach(tracer.end)
      note(f"op $i%d ${dt}%.3f s${if (traced) " traced" else ""}")
      res match {
        case Right(r) =>
          times += ((dt, traced)); results += ((i, r)); items += wl.afterOp(i, r)
        case Left(msg) => errors += ((i, msg.take(300)))
      }
      i += 1
    }
    // heap_peak_mb: the live heap after the last op, from full GCs
    // forced outside the timed loop
    val heapPeak = HeapWatch.liveMb(spark.sparkContext)
    val runEnd = tracer.now

    note(s"$i ops done")
    val (checks, failures) = wl.check(results.toSeq)
    note("checks done")
    val failedOps = (failures.flatMap(_.ops) ++ errors.map(_._1)).toSet

    val out = mutable.LinkedHashMap[String, Any](
      "setup_end_ms" -> setupEnd,
      "attempted" -> i,
      "failed_ops" -> failedOps.toSeq.sorted,
      "labels" -> results.map { case (k, l) => Seq(k, l) }.toSeq,
      "op_s" -> times.map(_._1).toSeq,
      "op_traced" -> times.map(_._2).toSeq,
      "items" -> items.toSeq,
      "heap_peak_mb" -> heapPeak,
      "checks" -> checks,
      "checks_failed" -> failures.map(f => s"${f.check}: ${f.detail}"),
      "errors" -> errors.map { case (k, m) => s"op $k: $m" }.toSeq)
    if (trace) {
      val spans = tracer.spans(runEnd)
      out("layers") = tracer.layerMetrics()
      out("self_times") = tracer.selfTimes(spans).map { case (k, (n, tot, self)) =>
        k -> Map("count" -> n, "total_s" -> tot, "self_s" -> self)
      }
      val trPath = work.resolve("spans.json")
      Files.writeString(trPath, Json(spans.map(s => Map("id" -> s.id,
        "parent" -> s.parent, "name" -> s.name, "start" -> s.start, "end" -> s.end))))
      out("spans_file") = trPath.toString
    }
    println("PERFBENCH " + Json(out))
    spark.stop()
  }

  /** graft's session tuning at local[4], as `GraftSession.local(4)` sets it. */
  def session(work: Path): SparkSession = {
    val s = graft.GraftSession.tune(SparkSession.builder()
        .master("local[4]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val started = System.nanoTime()
  /** Progress note on stderr (run.py keeps it in .bench_build/logs). */
  def note(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%8.2f s  $msg")

  /** A seeded permutation, the same for the same seed. */
  def shuffled[T](xs: Seq[T], seed: Long): Seq[T] =
    new scala.util.Random(seed).shuffle(xs)

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally s.close()
  }
}

/** Minimal JSON rendering of maps, sequences, strings and numbers. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case x => apply(x.toString)
  }
}
