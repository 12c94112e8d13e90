package perfbench

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import graft.streaming.StreamingIntake

import PerfBench._

/** `StreamingIntake.intake` fed from one in-process `MemoryStream` in
  * micro-batches of `BatchDocs` docs, ordered by event time, into a
  * parquet sink with a checkpoint. One op is one micro-batch; the
  * query's first `WarmBatches` batches are the warm-up.
  *
  * The docs come in arrival order from the generated `stream.tsv`:
  * replica by replica, in a seeded order within each replica, 100 ms of
  * event time apart, so one replica spans less than the 10-minute dedup
  * horizon and the watermark retires older replicas.
  *
  * Check: the admitted set equals `StreamingIntake.intakeBatch` over
  * the same docs; a micro-batch holding a doc on which they disagree
  * is a failed op.
  */
final class StreamIngest(spark: SparkSession, data: String, work: Path)
    extends Workload {

  private val BatchDocs = 2500
  private val WarmBatches = 8

  private var pool: Array[(Long, Timestamp, String)] = _
  private var fed, lastBatch = 0
  private var query: StreamingQuery = _
  private var source: MemoryStream[(Long, Timestamp, String)] = _
  private val sink = work.resolve("stream_out").toString

  /** The stream: a fresh source, intake, parquet sink + checkpoint. */
  private def start(): StreamingQuery = {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    source = MemoryStream[(Long, Timestamp, String)]
    StreamingIntake.intake(source.toDF().toDF("doc_id", "ts", "text"))
      .writeStream.format("parquet")
      .option("path", sink)
      .option("checkpointLocation", work.resolve("stream_chk").toString)
      .outputMode("append").start()
  }

  def setUp(): Unit = {
    val lines = Files.readAllLines(Paths.get(data, "stream.tsv"))
    pool = lines.asScala.map { l =>
      val Array(id, ts, text) = l.split("\t", 3)
      (id.toLong, new Timestamp(ts.toLong), text)
    }.toArray
    note(s"${pool.length} docs read")
    // warm-up: the query's first batches, untimed (they are checked
    // with the rest)
    query = start()
    (0 until WarmBatches).foreach(_ => feed(Untraced))
  }

  def op(i: Int, phase: Phase): String = {
    feed(phase)
    i.toString
  }

  private def feed(phase: Phase): Unit = {
    val batch = pool.slice(fed, fed + BatchDocs)
    phase("build")(source.addData(batch.toSeq))
    phase("action")(query.processAllAvailable())
    fed += batch.length
    lastBatch = batch.length
  }

  def afterOp(i: Int, label: String): Long = lastBatch.toLong

  override def exhausted: Boolean = fed >= pool.length

  def check(results: Seq[(Int, String)]): (Seq[String], Seq[Failure]) = {
    query.stop()
    import spark.implicits._
    val streamed = spark.read.parquet(sink).select("doc_id").as[Long].collect().toSet
    val docs = spark.createDataFrame(pool.take(fed).toSeq).toDF("doc_id", "ts", "text")
    val batch = StreamingIntake.intakeBatch(docs).select("doc_id").as[Long].collect().toSet
    val diff = (streamed diff batch) ++ (batch diff streamed)
    val index = pool.iterator.take(fed).map(_._1).zipWithIndex.toMap
    // ops are the batches after the warm-up ones
    val failed = diff.map(id => index(id) / BatchDocs - WarmBatches).filter(_ >= 0)
    (Seq("stream vs intakeBatch"),
      if (diff.isEmpty) Nil
      else Seq(Failure("stream vs intakeBatch",
        s"${(streamed diff batch).size} extra, ${(batch diff streamed).size} missing",
        failed)))
  }
}
