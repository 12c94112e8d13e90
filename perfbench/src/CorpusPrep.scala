package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.Tables
import graft.operators.{Bpe, DedupPipeline, Sampling, Similarity, TextAnalysis}

import PerfBench._

/** PipelineMain's corpus-prep flow over the 16x corpus, made of the
  * same public operator calls in the same order; each of its actions is
  * one op, and one pass runs them all. Not in BENCHMARK.json: one pass
  * takes over a minute at 4 cores, and the split check fails on every
  * input whose languages hold more than k docs (the known defect below),
  * so no run could be correct.
  *
  * Checks, on the written split table of every pass: at most k docs per
  * language; every kept doc passed the quality/length gate; and the
  * train/val/test shares are within 4 standard deviations of 90/5/5.
  * The last check fails by design: `consistentSample` keeps the k
  * lowest md5(doc_id) per language and `holdoutSplit` splits on the
  * same md5 prefix, so a language with more than k/0.1 docs sends its
  * whole sample to val/test, and the train-only `spanCorrupt` op then
  * fails on an empty aggregate.
  */
final class CorpusPrep(spark: SparkSession, data: String, work: Path,
    seed: Long) extends Workload {

  private val K = 1000
  private val out = work.resolve("prep_out").toString
  private var pass: Seq[(String, () => Any)] = Nil
  private var components: DataFrame = _
  private val writeOps = mutable.ArrayBuffer[Int]()
  private val splits = mutable.ArrayBuffer[(Int, Map[String, Long], Long, Long, Long)]()

  private def docs = Tables(spark, data).documents

  /** The flow's frames, rebuilt for each pass, and its actions in order. */
  private def newPass(): Seq[(String, () => Any)] = {
    val annotated = docs.select(
      (col("doc_id") +: col("text") +: col("lang") +: col("source") +:
        (TextAnalysis.quality(col("text")) :+
          TextAnalysis.langId(col("text")).as("lang_pred"))): _*)
    val filtered = annotated
      .filter(col("quality_score") >= 0.5 && col("n_tokens") >= 10)
      .withColumn("text", TextAnalysis.piiRedact(col("text")))
    components = DedupPipeline.componentsOf(filtered.select("doc_id", "text"), threshold = 0.8)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deduped = filtered.join(components.filter(col("doc_id") === col("component"))
      .select("doc_id"), "doc_id")
    val fingerprinted = deduped.select(
      (deduped.columns.filterNot(_ == "text").map(col).toSeq ++
        TextAnalysis.fingerprint(col("text"))): _*)
    val sampled = Sampling.consistentSample(fingerprinted, Seq("lang"), "doc_id", k = K)
    val split = Sampling.holdoutSplit(sampled, "doc_id")
    def written = spark.read.parquet(out)
    def cleaned = filtered.join(written.select("doc_id", "split"), "doc_id")
      .select("doc_id", "text", "split")
    Seq(
      "write_split" -> (() => split.write.mode("overwrite").partitionBy("split").parquet(out)),
      "count_in" -> (() => docs.count()),
      "count_kept" -> (() => written.count()),
      "by_lang" -> (() => written.groupBy("lang").count().orderBy("lang").collect()),
      "by_split" -> (() => written.groupBy("split").count().orderBy("split").collect()),
      "dup_families" -> (() => {
        val h = components.groupBy("component").agg(count(lit(1)).as("family_size"))
          .groupBy("family_size").agg(count(lit(1)).as("n_families"))
          .orderBy("family_size").collect()
        components.unpersist()
        h
      }),
      "cluster_topics" -> (() => Similarity.clusterTopics(
        Tables(spark, data).embeddings, docs, nClusters = 4, topTerms = 3)
        .orderBy("cell", "rank").collect()),
      "bpe_train" -> (() => Bpe.trainReport(cleaned).orderBy("rank").collect()),
      "bpe_encode" -> (() => Bpe.encodeStats(cleaned)
        .agg(sum("n_words"), sum("n_chars"), sum("n_tokens")).collect().head),
      "temperature_mix" -> (() => Sampling.temperatureWeights(written, "lang")
        .orderBy("lang").collect()),
      "span_targets" -> (() => {
        val r: Row = TextAnalysis.spanCorrupt(
            cleaned.filter(col("split") === "train").select("doc_id", "text"))
          .agg(count(lit(1)).as("docs"), sum("n_masked").as("spans")).collect().head
        (r.getLong(0), r.getLong(1)) // PipelineMain reads both as longs
      }))
  }

  def setUp(): Unit = {
    // warm-up: the first two actions of one pass
    pass = newPass()
    pass.take(2).foreach(_._2())
    spark.catalog.clearCache()
    pass = Nil
  }

  def op(i: Int, phase: Phase): String = {
    if (pass.isEmpty) pass = phase("build")(newPass())
    val (name, action) = pass.head
    pass = pass.tail
    phase("action")(action())
    if (name == "write_split") writeOps += i
    name
  }

  /** Reads the split table back after each write (untimed); items are
    * input docs, counted once per pass.
    */
  def afterOp(i: Int, label: String): Long = if (label != "write_split") 0L else {
    val w = spark.read.parquet(out)
    val bySplit = w.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val maxPerLang = w.groupBy("lang").count().agg(max("count")).head().getLong(0)
    val gateBroken = w.filter(!(col("quality_score") >= 0.5 && col("n_tokens") >= 10)).count()
    splits += ((i, bySplit, maxPerLang, gateBroken, w.count()))
    docs.count()
  }

  def check(results: Seq[(Int, String)]): (Seq[String], Seq[Failure]) = {
    val failures = splits.toSeq.flatMap { case (i, bySplit, maxPerLang, gateBroken, n) =>
      val shares = Seq("train" -> 0.90, "val" -> 0.05, "test" -> 0.05)
      val off = shares.filter { case (s, p) =>
        math.abs(bySplit.getOrElse(s, 0L) - p * n) > 4 * math.sqrt(n * p * (1 - p))
      }
      Seq(
        if (maxPerLang > K) Some(Failure("k per language", s"$maxPerLang > $K", Set(i))) else None,
        if (gateBroken > 0) Some(Failure("quality gate", s"$gateBroken docs", Set(i))) else None,
        if (off.nonEmpty) Some(Failure("split 90/5/5",
          shares.map(s => s"${s._1}=${bySplit.getOrElse(s._1, 0L)}").mkString(" ") + s" of $n",
          Set(i))) else None).flatten
    }
    (Seq("k per language", "quality gate", "split 90/5/5"), failures)
  }
}
