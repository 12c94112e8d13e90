package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, FileInputStream, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.security.{DigestOutputStream, MessageDigest}
import java.time.LocalDateTime
import java.util.UUID
import java.util.concurrent.{Callable, ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicReference
import java.util.zip.{ZipEntry, ZipOutputStream}
import scala.jdk.CollectionConverters._

import org.apache.spark.{JobExecutionStatus, SparkContext}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

/** The reference tool's export pipeline (export.py:229-349 +
  * zip_files_with_checksum export.py:145-210), Spark-first:
  *
  *   1. build every report,
  *   2. append constant facility columns (Region/Woreda/Facility/
  *      HMISCode in the reference; arbitrary here),
  *   3. one CSV per report,
  *   4. zip the CSVs, SHA-256 the zip, package zip+checksum.
  *
  * Concurrency: steps 1-3 of each report run as ONE task on a pool of
  * min(#reports, defaultParallelism) threads, so one report's
  * single-task stages and driver-side merge overlap the others' jobs
  * instead of leaving the rest of the cores idle. The builders are
  * thunks, so report construction (and any eager jobs it runs) is
  * inside the pool too; everything a builder reaches must be
  * thread-safe. Every worker sets the job description `export/<name>`
  * under one job group per run.
  *
  * Ordering: the calling thread writes the inner zip in sorted name
  * order, each entry as soon as its report is done, hashing the bytes
  * as they go out. Entry order, CSV bytes, `Result.csvFiles` and
  * `Result.dataDirs` are all in name order whatever order the reports
  * finish in, and every zip entry carries the same fixed time, so an
  * export of the same inputs gives the same package bytes.
  *
  * Failure: the first report that throws (in build or in write)
  * cancels the run's job group, present and future jobs; the run
  * waits for the other workers, deletes everything it wrote (part
  * dirs, CSVs, manifests, the data dirs it made, inner zip, checksum
  * file, unfinished package) and throws an exception naming the
  * report. The package is written under a temporary name and moved
  * into place, so `outDir` never holds a partial one.
  *
  * Scale: the CSV is written by Spark's distributed csv sink (every
  * partition writes its own part file in parallel) and the parts are
  * then stream-concatenated on the driver — file-level IO, never
  * rows-in-memory, so a 100 TB export streams through. The zip stage
  * is also streaming (4 MiB buffers).
  */
object ExportJob {

  final case class Result(
      packagePath: Path,
      innerZip: String,
      checksum: String,
      csvFiles: Seq[String],
      dataDirs: Seq[String] = Nil)

  /** Reports at or under this many bytes merge to one CSV on the
    * driver (the reference's facility-sized artifact — a byte-stream
    * concat, seconds at worst); past it the driver funnel would
    * SERIALIZE a distributed write through one machine, so the report
    * ships as its parallel part files + a manifest instead.
    */
  val MergeBudgetBytes: Long = 1L << 30

  /** The zip entry time: the DOS epoch, so package bytes do not depend
    * on when (or in which time zone) the export ran.
    */
  private val EntryTime = LocalDateTime.of(1980, 1, 1, 0, 0)

  /** What one report leaves in `outDir`: the file that rides the zip
    * (merged CSV or manifest) and, past the merge budget, the data dir.
    */
  private final case class Output(file: Path, dataDir: Option[Path])

  /** Exports `reports` (name → builder) as one package tagged `tag`.
    * `copies` maps an extra name to the report whose output it
    * repeats: that report is built and written once and its output is
    * copied under the extra name.
    */
  def run(
      spark: SparkSession,
      reports: Map[String, () => DataFrame],
      constants: Seq[(String, String)],
      outDir: Path,
      tag: String,
      mergeBudgetBytes: Long = MergeBudgetBytes,
      copies: Map[String, String] = Map.empty): Result = {
    require(copies.values.forall(reports.contains) &&
      !copies.keys.exists(reports.contains),
      s"copies must name new reports of existing ones: $copies")
    Files.createDirectories(outDir)
    val sc = spark.sparkContext
    val group = s"export/$tag/${UUID.randomUUID()}"
    val failure = new AtomicReference[Throwable]()
    def fail(e: Throwable): Unit =
      if (failure.compareAndSet(null, e))
        sc.cancelJobGroupAndFutureJobs(group, s"export $tag failed")
    val madeDirs = new ConcurrentLinkedQueue[Path]()

    val pool = Executors.newFixedThreadPool(
      math.max(1, math.min(reports.size, sc.defaultParallelism)),
      (r: Runnable) => { val t = new Thread(r, s"export-$tag"); t.setDaemon(true); t })
    // queued in name order: the zip takes the reports in that order
    val work = reports.toSeq.sortBy(_._1).map { case (name, build) =>
      val names = name +: copies.collect { case (c, `name`) => c }.toSeq.sorted
      name -> pool.submit(new Callable[Map[String, Output]] {
        def call(): Map[String, Output] = {
          // interrupt on cancel: a killed task otherwise runs on to its
          // end, holding a core and writing into the part dir
          sc.setJobGroup(group, s"export/$name", interruptOnCancel = true)
          try exportReport(spark, names, build, constants, outDir, tag,
            mergeBudgetBytes, madeDirs)
          catch { case e: Throwable =>
            fail(new RuntimeException(s"export report '$name' failed: $e", e))
            throw e
          }
        }
      })
    }.toMap
    def await(name: String): Output = work(copies.getOrElse(name, name)).get()(name)

    val names = (reports.keys ++ copies.keys).toSeq.sorted
    val innerZip = outDir.resolve(s"$tag.zip")
    val checksumFile = outDir.resolve(s"${tag}_checksum.txt")
    val pkg = outDir.resolve(s"${tag}_packaged.zip")
    val pkgTmp = outDir.resolve(s".${tag}_packaged.zip.tmp")
    try {
      val checksum = zip(innerZip, names.iterator.map { n =>
        val f = await(n).file
        f.getFileName.toString -> f
      })
      val outs = names.map(await)
      Files.write(checksumFile, checksum.getBytes(StandardCharsets.UTF_8))
      zip(pkgTmp, Iterator(
        innerZip.getFileName.toString -> innerZip,
        checksumFile.getFileName.toString -> checksumFile))
      Files.move(pkgTmp, pkg, StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
      // mirror the reference's cleanup of intermediates (export.py:204-210,317-326)
      Files.deleteIfExists(innerZip)
      Files.deleteIfExists(checksumFile)
      outs.foreach(o => Files.deleteIfExists(o.file))
      Result(pkg, innerZip.getFileName.toString, checksum,
        outs.map(_.file.getFileName.toString),
        outs.flatMap(_.dataDir).map(_.getFileName.toString))
    } catch { case e: Throwable =>
      fail(e)
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
      awaitTasks(sc, group)
      names.foreach { n =>
        deleteRecursively(outDir.resolve(s".parts_$n"))
        Files.deleteIfExists(outDir.resolve(s"${n}_$tag.csv"))
        Files.deleteIfExists(outDir.resolve(s"${n}_${tag}_manifest.csv"))
      }
      madeDirs.asScala.foreach(deleteRecursively)
      Seq(innerZip, checksumFile, pkgTmp).foreach(Files.deleteIfExists(_))
      throw failure.get()
    } finally pool.shutdown()
  }

  /** One report on a pool thread: build, append the constants, write
    * the parts, then merge them into one CSV (or place them behind a
    * manifest) under `names.head`; every further name gets a copy.
    */
  private def exportReport(spark: SparkSession, names: Seq[String],
      build: () => DataFrame, constants: Seq[(String, String)], outDir: Path,
      tag: String, mergeBudgetBytes: Long,
      madeDirs: ConcurrentLinkedQueue[Path]): Map[String, Output] = {
    val name = names.head
    val df = constants.foldLeft(build()) { case (d, (k, v)) => d.withColumn(k, lit(v)) }
    val partDir = outDir.resolve(s".parts_$name")
    df.write.mode("overwrite").option("header", "true").csv(partDir.toString)
    val parts = listParts(partDir)
    val totalBytes = parts.map(Files.size(_)).sum
    if (totalBytes <= mergeBudgetBytes) {
      val csv = outDir.resolve(s"${name}_$tag.csv")
      mergeCsvParts(parts, csv)
      deleteRecursively(partDir)
      names.map { n =>
        val f = outDir.resolve(s"${n}_$tag.csv")
        if (n != name) Files.copy(csv, f, StandardCopyOption.REPLACE_EXISTING)
        n -> Output(f, None)
      }.toMap
    } else {
      // manifest-at-scale path: the part files ARE the report (each
      // carries its own header — spark.read.csv(dir) reads the set
      // back as one table); the driver only renames them into place
      // and writes a name,bytes,sha256 manifest. The manifest rides
      // the checksummed zip in the CSV's stead, so the package
      // checksum TRANSITIVELY attests every part's content (the
      // reference contract: its checksum covers the full export) —
      // the data dir stays beside the package and nothing
      // corpus-sized moves through one machine.
      val placed = names.map { n =>
        val dataDir = outDir.resolve(s"${n}_$tag")
        madeDirs.add(dataDir)
        deleteRecursively(dataDir)
        Files.createDirectories(dataDir)
        n -> parts.indices.map(i => dataDir.resolve(f"part-$i%05d.csv"))
      }
      placed.tail.foreach { case (_, ps) =>
        parts.zip(ps).foreach { case (p, t) => Files.copy(p, t) } }
      parts.zip(placed.head._2).foreach { case (p, t) => Files.move(p, t) }
      deleteRecursively(partDir)
      // per-part digests run DISTRIBUTED (one task per part, where
      // the part lives on a shared FS) — the driver hashes nothing:
      // it only collects parts-many 64-char strings; copies carry the
      // same bytes, so one set of digests serves every name
      val digests = partDigests(spark, placed.head._2)
      placed.map { case (n, ps) =>
        val dataDir = outDir.resolve(s"${n}_$tag")
        val manifest = outDir.resolve(s"${n}_${tag}_manifest.csv")
        val lines = "file,bytes,sha256" +: ps.zip(placed.head._2).map { case (p, p0) =>
          s"${dataDir.getFileName}/${p.getFileName},${Files.size(p)}," +
            digests(p0.toString)
        }
        Files.write(manifest,
          lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
        n -> Output(manifest, Some(dataDir))
      }.toMap
    }
  }

  /** Waits (up to five minutes) until no task of `group` runs. A
    * cancelled job fails its caller before its killed tasks have
    * stopped, and such a task can still write into its report's part
    * dir. The status tracker sees a job's task starts before its end,
    * so a job it still shows running, or a stage with active tasks,
    * covers every task that can write.
    */
  private def awaitTasks(sc: SparkContext, group: String): Unit = {
    val st = sc.statusTracker
    def running = st.getJobIdsForGroup(group).toSeq.flatMap(st.getJobInfo).exists { j =>
      j.status == JobExecutionStatus.RUNNING ||
        j.stageIds.toSeq.flatMap(st.getStageInfo).exists(_.numActiveTasks > 0)
    }
    val deadline = System.nanoTime() + TimeUnit.MINUTES.toNanos(5)
    while (running && System.nanoTime() < deadline) Thread.sleep(50)
  }

  /** SHA-256 of every part file, computed on executors — one task per
    * part (the parts of a >1 GiB report live on a shared filesystem
    * in a real deployment; hashing them serially on the driver would
    * re-serialize the distributed write the manifest path exists to
    * avoid). Returns path → hex digest.
    */
  private def partDigests(spark: SparkSession,
      parts: Seq[Path]): Map[String, String] = {
    import spark.implicits._
    spark.createDataset(parts.map(_.toString))
      .repartition(parts.size)
      .map(p => (p, sha256(Paths.get(p))))
      .collect().toMap
  }

  private def listParts(partDir: Path): Seq[Path] = {
    // Files.list holds an OS directory fd until closed — a leak per
    // call in a long-lived driver running repeated exports
    val s = Files.list(partDir)
    try s.iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .toSeq.sortBy(_.getFileName.toString)
    finally s.close()
  }

  /** Concatenate Spark csv part files into one CSV, keeping a single
    * header row. Bytes are copied verbatim after the header line of
    * each part (a line-based merge would normalize newlines inside
    * quoted multiline fields); O(buffer) memory.
    */
  private def mergeCsvParts(parts: Seq[Path], target: Path): Unit = {
    val out = new BufferedOutputStream(new FileOutputStream(target.toFile), 4 << 20)
    try {
      var first = true
      parts.foreach { p =>
        val in = new BufferedInputStream(new FileInputStream(p.toFile), 4 << 20)
        try {
          // scan past the header line (headers never contain newlines)
          var b = in.read()
          val header = new java.io.ByteArrayOutputStream()
          while (b >= 0 && b != '\n') { header.write(b); b = in.read() }
          if (first && (header.size() > 0 || b == '\n')) {
            out.write(header.toByteArray); out.write('\n'); first = false
          }
          // raw byte copy of the remainder
          val buf = new Array[Byte](1 << 16)
          var n = in.read(buf)
          while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        } finally in.close()
      }
    } finally out.close()
  }

  /** Zips `entries` in the order given (pulling each one only when it
    * is its turn) and returns the SHA-256 hex of the zip's bytes,
    * hashed on the way out.
    */
  private def zip(target: Path, entries: Iterator[(String, Path)]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val zos = new ZipOutputStream(new BufferedOutputStream(
      new DigestOutputStream(new FileOutputStream(target.toFile), md), 4 << 20))
    try entries.foreach { case (name, p) =>
      val e = new ZipEntry(name)
      e.setTimeLocal(EntryTime)
      zos.putNextEntry(e)
      val in = new BufferedInputStream(new FileInputStream(p.toFile), 4 << 20)
      try {
        val buf = new Array[Byte](1 << 16)
        var n = in.read(buf)
        while (n >= 0) { zos.write(buf, 0, n); n = in.read(buf) }
      } finally in.close()
      zos.closeEntry()
    } finally zos.close()
    hex(md.digest())
  }

  def sha256(p: Path): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val in = new BufferedInputStream(new FileInputStream(p.toFile), 4 << 20)
    try {
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n >= 0) { md.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    hex(md.digest())
  }

  private def hex(digest: Array[Byte]): String = digest.map("%02x".format(_)).mkString

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.iterator().asScala.foreach(deleteRecursively)
      finally s.close()
    }
    Files.deleteIfExists(p)
  }
}
