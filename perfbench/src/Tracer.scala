// Lives under org.apache.spark so it can drain the listener bus
// (LiveListenerBus.waitUntilEmpty is private[spark]): every event of a
// traced op must be delivered before the op's counters are read.
package org.apache.spark.perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the span tree run -> op -> build | plan |
  * action -> job -> stage. Times are seconds since the run started.
  */
final case class Span(id: Int, parent: Int, name: String, start: Double,
    end: Double) {
  def dur: Double = end - start
}

/** Old-generation heap in use after each GC, from the JVM's GC
  * notifications (always on: it costs nothing per op), and the live
  * heap after a forced full GC.
  */
object HeapWatch {
  private val MB = 1024.0 * 1024.0
  @volatile private var last = 0L
  @volatile private var gcMillis = 0L

  /** Old-generation use after the latest GC. */
  def lastMb: Double = last / MB
  def gcSeconds: Double = gcMillis / 1000.0

  /** Heap in use right after a full GC: the data the program holds.
    * The listener bus is drained first, so events still queued for
    * Spark's own status store are not counted one run and not the next.
    * The second GC frees what the first left to reference cleaners
    * (that share read 20-30 MB, differently from run to run).
    */
  def liveMb(sc: SparkContext): Double = {
    sc.listenerBus.waitUntilEmpty()
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / MB
  }

  def install(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(
        new NotificationListener {
          def handleNotification(n: Notification, hb: Any): Unit =
            if (n.getType ==
                GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val info = GarbageCollectionNotificationInfo.from(
                n.getUserData.asInstanceOf[CompositeData])
              val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
              val old = after.collect {
                case (pool, u) if pool.contains("Old") || pool.contains("Tenured") =>
                  u.getUsed
              }.sum
              synchronized {
                gcMillis += info.getGcInfo.getDuration
                last = old
              }
            }
        }, null, null)
      case _ => ()
    }
}

/** Listeners that feed the counters of the op that is running into
  * that op's record. Attached only around traced ops, so untraced ops
  * pay nothing; the difference between the two is the tracing
  * overhead.
  */
final class Tracer(spark: SparkSession, t0Nanos: Long, t0Millis: Long) {
  private val sc = spark.sparkContext

  def now: Double = (System.nanoTime() - t0Nanos) / 1e9
  private def at(ms: Long): Double = (ms - t0Millis) / 1000.0

  final class Job(val id: Int, val start: Double, val site: String) {
    var end: Double = Double.NaN
    var rowsOut, bytesOut = 0L
    /** The job's end, or `t` if it has not ended. */
    def endOr(t: Double): Double = if (end.isNaN) t else end
    val stages = mutable.ArrayBuffer[Int]()
  }
  final class Stage(val id: Int, val job: Int) {
    var start, end = Double.NaN
    var nTasks = 0
    val taskSecs = mutable.ArrayBuffer[Double]()
  }

  /** Everything the listeners saw during one traced op. */
  final class OpRecord(val start: Double) {
    var end = Double.NaN
    val jobs = mutable.LinkedHashMap[Int, Job]()
    val stages = mutable.LinkedHashMap[Int, Stage]()
    val planPhases = mutable.ArrayBuffer[(String, Double, Double)]()
    val progress = mutable.ArrayBuffer[StreamingQueryListener.QueryProgressEvent]()
    val c = mutable.Map[String, Double]().withDefaultValue(0.0)
    val rddBlocks = mutable.Map[String, Long]()
    val sqlSites = mutable.Map[Long, String]()
    var storagePeak = 0L
    var gcStart = 0.0
    var heapAfterGc = 0.0
    /** Driver-side spans recorded around the calls into graft. */
    val phases = mutable.ArrayBuffer[(String, Double, Double)]()
  }

  @volatile private var cur: OpRecord = _
  val ops = mutable.ArrayBuffer[OpRecord]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Option(cur).foreach { r =>
      // the call site of the SQL action the job serves, e.g. "csv at
      // ExportJob.scala:79" (AQE submits its stages from a pool thread,
      // so the job's own call site names no graft code)
      val site = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => r.sqlSites.get(id.toLong)).getOrElse("")
      val j = new Job(e.jobId, at(e.time), site)
      e.stageIds.foreach { s => j.stages += s; r.stages(s) = new Stage(s, e.jobId) }
      r.jobs(e.jobId) = j
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(cur).foreach { r =>
      r.jobs.get(e.jobId).foreach(_.end = at(e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(cur).foreach { r =>
        val i = e.stageInfo
        r.stages.get(i.stageId).filter(_ => i.submissionTime.isDefined).foreach { s =>
          s.start = at(i.submissionTime.get)
          s.end = at(i.completionTime.getOrElse(System.currentTimeMillis()))
          s.nTasks = i.numTasks
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(cur).foreach { r =>
      r.stages.get(e.stageId).foreach(_.taskSecs += e.taskInfo.duration / 1000.0)
      Option(e.taskMetrics).foreach { m =>
        val c = r.c
        c("task_s") += m.executorRunTime / 1000.0
        c("cpu_s") += m.executorCpuTime / 1e9
        c("scan_bytes") += m.inputMetrics.bytesRead
        c("scan_rows") += m.inputMetrics.recordsRead
        c("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
        c("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
        c("spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
        c("fetch_wait_s") += m.shuffleReadMetrics.fetchWaitTime / 1000.0
        r.stages.get(e.stageId).flatMap(s => r.jobs.get(s.job)).foreach { j =>
          j.rowsOut += m.outputMetrics.recordsWritten
          j.bytesOut += m.outputMetrics.bytesWritten
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        Option(cur).foreach(_.sqlSites(x.executionId) = x.details)
      case _ => ()
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      Option(cur).foreach { r =>
        val b = e.blockUpdatedInfo
        if (b.blockId.isRDD) {
          val size = b.memSize + b.diskSize
          if (size > 0) r.rddBlocks(b.blockId.name) = size
          else r.rddBlocks.remove(b.blockId.name)
          r.storagePeak = math.max(r.storagePeak, r.rddBlocks.values.sum)
        }
      }
  }

  private val queryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Option(cur).foreach(_.progress += e)
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private val planListener = new QueryExecutionListener {
    def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = Option(cur).foreach { r =>
      qe.tracker.phases.foreach { case (name, p) =>
        r.planPhases += ((name, at(p.startTimeMs), at(p.endTimeMs)))
      }
    }
  }

  /** A job writing the export's CSV output. (A streaming micro-batch
    * runs all its jobs inside the sink's addBatch: every one is a sink
    * job.)
    */
  private def isSink(site: String): Boolean = site.contains("ExportJob")

  private def drain(): Unit = sc.listenerBus.waitUntilEmpty()

  def begin(): OpRecord = {
    drain()
    val r = new OpRecord(now)
    r.gcStart = HeapWatch.gcSeconds
    cur = r
    sc.addSparkListener(sparkListener)
    spark.streams.addListener(queryListener)
    spark.listenerManager.register(planListener)
    r
  }

  def end(r: OpRecord): Unit = {
    r.end = now
    drain()
    sc.removeSparkListener(sparkListener)
    spark.streams.removeListener(queryListener)
    spark.listenerManager.unregister(planListener)
    r.c("gc_s") = HeapWatch.gcSeconds - r.gcStart
    r.heapAfterGc = HeapWatch.lastMb
    cur = null
    ops += r
  }

  /** Records a driver-side phase of the running op (build, action). */
  def phase[T](r: Option[OpRecord], name: String)(f: => T): T = r match {
    case None => f
    case Some(rec) =>
      val s = now
      try f finally rec.phases += ((name, s, now))
  }

  // ---- per-layer metrics -------------------------------------------

  private def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var hi = Double.NegativeInfinity
    iv.filter(p => !p._1.isNaN && !p._2.isNaN).sortBy(_._1).foreach { case (s, e) =>
      if (s >= hi) { total += e - s; hi = e }
      else if (e > hi) { total += e - hi; hi = e }
    }
    total
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(s.size / 2) }

  private def durMs(p: StreamingQueryListener.QueryProgressEvent, k: String): Double =
    Option(p.progress.durationMs.get(k)).map(_.doubleValue / 1000.0).getOrElse(0.0)

  /** Counters of one op, by metric name. */
  private def opMetrics(r: OpRecord): Map[String, Double] = {
    val jobs = r.jobs.values.toSeq
    val stages = r.stages.values.filter(!_.start.isNaN).toSeq
    val prog = r.progress.toSeq
    val streaming = prog.nonEmpty
    val sinkJobs = if (streaming) jobs else jobs.filter(j => isSink(j.site))
    val firstSink = if (sinkJobs.isEmpty) r.end else sinkJobs.map(_.start).min
    val jobSpans = jobs.map(j => (j.start, j.endOr(r.end)))
    val longest = if (stages.isEmpty) None else Some(stages.maxBy(s => s.end - s.start))
    def progSum(k: String) = prog.map(durMs(_, k)).sum
    val state = prog.flatMap(_.progress.stateOperators.toSeq)
    val build = r.phases.collect { case ("build", s, e) => e - s }.sum
    Map(
      "operators.build_s" -> (if (streaming) build else firstSink - r.start),
      "operators.build_jobs" -> jobs.count(_.start < firstSink).toDouble,
      "plans.plan_s" -> (r.planPhases.map(p => p._3 - p._2).sum +
        progSum("queryPlanning")),
      "exec.driver_gap_s" -> ((r.end - r.start) - union(stages.map(s => (s.start, s.end)))),
      "exec.jobs" -> jobs.size.toDouble,
      "exec.stages" -> stages.size.toDouble,
      "exec.tasks" -> stages.map(_.taskSecs.size).sum.toDouble,
      "exec.stage_s" -> stages.map(s => s.end - s.start).sum,
      "exec.task_s" -> r.c("task_s"),
      "exec.cpu_s" -> r.c("cpu_s"),
      "exec.skew" -> longest.map(s =>
        if (s.taskSecs.isEmpty) 1.0
        else s.taskSecs.max / math.max(median(s.taskSecs.toSeq), 1e-3)).getOrElse(1.0),
      "exec.single_task_s" -> stages.filter(_.nTasks == 1).map(s => s.end - s.start).sum,
      "tables.scan_bytes" -> r.c("scan_bytes"),
      "tables.scan_rows" -> r.c("scan_rows"),
      "shuffle.read_bytes" -> r.c("shuffle_read_bytes"),
      "shuffle.write_bytes" -> r.c("shuffle_write_bytes"),
      "shuffle.spill_bytes" -> r.c("spill_bytes"),
      "shuffle.fetch_wait_s" -> r.c("fetch_wait_s"),
      "sink.spark_s" -> (if (streaming) progSum("addBatch")
        else sinkJobs.map(j => j.endOr(r.end) - j.start).sum),
      "sink.driver_s" -> (if (streaming) progSum("triggerExecution") - progSum("addBatch")
        else (r.end - firstSink) - union(jobSpans.filter(_._1 >= firstSink))),
      "sink.rows_out" -> sinkJobs.map(_.rowsOut).sum.toDouble,
      "sink.bytes_out" -> sinkJobs.map(_.bytesOut).sum.toDouble,
      "streaming.trigger_s" -> progSum("triggerExecution"),
      "streaming.add_batch_s" -> progSum("addBatch"),
      "streaming.plan_s" -> progSum("queryPlanning"),
      "streaming.commit_s" -> (progSum("walCommit") + progSum("commitOffsets")),
      "streaming.state_rows" -> state.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "streaming.state_mb" -> state.lastOption.map(_.memoryUsedBytes / 1048576.0).getOrElse(0.0),
      "caches.storage_peak_mb" -> r.storagePeak / 1048576.0,
      "caches.blocks_left" -> r.rddBlocks.size.toDouble,
      "jvm.gc_s" -> r.c("gc_s"),
      "jvm.heap_after_gc_mb" -> r.heapAfterGc)
  }

  /** Mean over traced ops of each per-op counter. */
  def layerMetrics(): Map[String, Double] = {
    val per = ops.toSeq.map(opMetrics)
    if (per.isEmpty) Map.empty
    else per.head.keys.map(k => k -> per.map(_(k)).sum / per.size).toMap
  }

  /** The span tree of every traced op, children placed by time. */
  def spans(runEnd: Double): Seq[Span] = {
    val out = mutable.ArrayBuffer(Span(0, -1, "run", 0.0, runEnd))
    def add(parent: Int, name: String, s: Double, e: Double): Int = {
      val id = out.size
      out += Span(id, parent, name, s, e)
      id
    }
    ops.foreach { r =>
      val op = add(0, "op", r.start, r.end)
      val phases = r.phases.map { case (n, s, e) => (add(op, n, s, e), s, e) }
      def under(s: Double): Int =
        phases.find(p => p._2 <= s && s <= p._3).map(_._1).getOrElse(op)
      r.planPhases.foreach { case (n, s, e) => add(under(s), s"plan.$n", s, e) }
      r.jobs.values.foreach { j =>
        val jid = add(under(j.start), "job", j.start, j.endOr(r.end))
        j.stages.flatMap(r.stages.get).filter(!_.start.isNaN).foreach { s =>
          add(jid, "stage", s.start, s.end)
        }
      }
    }
    out.toSeq
  }

  /** Per span name: count, total seconds and self seconds (the span
    * minus the part of it its children cover).
    */
  def selfTimes(all: Seq[Span]): Map[String, (Int, Double, Double)] = {
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      val self = ss.map { s =>
        val cover = union(kids.getOrElse(s.id, Nil).map(c =>
          (math.max(c.start, s.start), math.min(c.end, s.end))).filter(p => p._2 > p._1))
        s.dur - cover
      }.sum
      name -> ((ss.size, ss.map(_.dur).sum, self))
    }
  }
}
