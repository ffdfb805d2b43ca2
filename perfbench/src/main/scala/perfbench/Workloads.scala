package perfbench

import java.io.File

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.ops.Dedup
import graft.spark.{ExtractedRow, Pipeline, TableIO}

/** What a traced run's layer probes return: metrics, the check of any
  * outputs they produced, and the inputs of the runner's DuckDB oracle check.
  */
final case class Layers(metrics: Map[String, Double], check: Check = Check.Empty,
                        oracle: Map[String, String] = Map.empty)

/** One benchmark workload. The harness calls `generate` during set-up,
  * then times `job` in a closed loop at two widths, then checks outputs
  * with `check`; only `job` is timed.
  *
  * The input is `hi` parquet files of `docs / hi` docs each, one scan
  * partition per file. A job at width w reads the first w files, so each
  * task gets the same share at every width: the 1-task job does N docs
  * and the full-width job 4N on four times the tasks.
  */
abstract class Workload(val name: String, val seed: Long, val work: String, val hi: Int) {

  /** Docs of the full input, processed by one full-width job. */
  def docs: Long

  /** Docs one job at `width` processes. */
  def docsAt(width: Int): Long = docs * width / hi

  protected var input: String = _

  /** Writes this workload's seeded input as `hi` parquet files. */
  def generate(spark: SparkSession, rep: Int): Unit

  /** The timed unit of work at `width` concurrent tasks. With `traced`,
    * spans are recorded around the calls the workload makes.
    */
  def job(spark: SparkSession, width: Int, traced: Boolean): Unit

  /** Rows the last job produced that are missing or extra, checked
    * outside the timed region.
    */
  def lastJobCountError(spark: SparkSession): Long

  /** Full check of the last full-width job's outputs, outside the timed
    * region.
    */
  def check(spark: SparkSession): Check

  /** Per-layer probes of the traced run, beyond the Spark listener's;
    * `traceWindows` are the listener windows of the traced jobs and
    * `found` is what `check` found.
    */
  def layers(spark: SparkSession, metrics: SparkMetrics, traceWindows: Seq[SparkWindow],
             found: Check): Layers

  /** The first `width` input files, one partition each. */
  protected def scan(spark: SparkSession, width: Int): DataFrame = {
    val files = new File(input).listFiles().filter(_.getName.endsWith(".parquet"))
      .map(_.getPath).sorted
    require(files.length == hi, s"expected $hi input files, found ${files.length}")
    val biggest = files.map(f => new File(f).length()).max
    // With the open cost at the largest file size, the scan never packs
    // two files into one partition nor splits one file.
    spark.conf.set("spark.sql.files.openCostInBytes", biggest.toString)
    spark.conf.set("spark.sql.files.maxPartitionBytes", (biggest + 1).toString)
    spark.conf.set("spark.sql.shuffle.partitions", width.toString)
    spark.read.parquet(files.take(width).toIndexedSeq: _*)
  }

  /** Replaces the input of an earlier set-up with `df`, as `hi` files of
    * consecutive ids.
    */
  protected def writeInput(df: DataFrame, rep: Int): Unit = {
    if (input != null) TableIO.deleteRecursively(new File(input))
    input = s"$work/in-$name-$rep"
    df.write.parquet(input)
  }

  /** Ids 0 until docs, as `hi` partitions of consecutive ids. */
  protected def ids(spark: SparkSession) = {
    import spark.implicits._
    spark.range(0, docs, 1, hi).as[Long]
  }
}

/** Consumes `Pipeline.extract` output: counts rows and, when traced,
  * records one "pipeline.row" span per row (the time since the previous
  * row), parented to a "pipeline.task" span.
  */
object RowSink {
  val okRows = new java.util.concurrent.atomic.LongAdder

  def count(traced: Boolean)(it: Iterator[ExtractedRow]): Iterator[Long] = {
    var n = 0L
    if (!traced) {
      while (it.hasNext) { it.next(); n += 1 }
    } else {
      val task = Trace.newId()
      val t0 = System.nanoTime()
      var prev = t0
      var ok = 0L
      while (it.hasNext) {
        val r = it.next()
        val t = System.nanoTime()
        Trace.record(Span(Trace.newId(), task, "pipeline.row", Inputs.idOf(r.url), prev, t))
        prev = t
        n += 1
        if (r.status == "ok") ok += 1
      }
      okRows.add(ok)
      Trace.record(Span(task, 0, "pipeline.task", TaskContext.getPartitionId().toLong, t0,
        System.nanoTime()))
    }
    Iterator.single(n)
  }

  /** Row metrics from the recorded "pipeline.row" spans. */
  def metrics(spans: Seq[Span]): Map[String, Double] = {
    val gaps = spans.iterator.filter(_.name == "pipeline.row").map(_.duration / 1e3).toArray
    java.util.Arrays.sort(gaps)
    def p(q: Double) = if (gaps.isEmpty) 0.0 else Stats.percentileSorted(gaps, q)
    Map("pipeline.row_us_p50" -> p(50), "pipeline.row_us_p99" -> p(99),
      "pipeline.rows" -> gaps.length.toDouble, "pipeline.ok_rows" -> okRows.sumThenReset().toDouble)
  }
}

/** Read-only PDF extraction: `Pipeline.extract` into a counting sink. The
  * kernel does nearly all the work; no shuffle, no write.
  */
final class PdfExtract(seed: Long, work: String, hi: Int)
    extends Workload("pdf_extract", seed, work, hi) {
  val docs = 4000L * hi
  private var lastError = 0L

  def generate(spark: SparkSession, rep: Int): Unit = {
    import spark.implicits._
    val s = seed
    writeInput(ids(spark).map(id => Inputs.pdfRow(s, id)).toDF(), rep)
  }

  def job(spark: SparkSession, width: Int, traced: Boolean): Unit = {
    import spark.implicits._
    val rows = Pipeline.extract(spark, scan(spark, width), "bench")
      .mapPartitions(RowSink.count(traced)).reduce(_ + _)
    lastError = math.abs(rows - docsAt(width))
  }

  def lastJobCountError(spark: SparkSession): Long = lastError

  /** Extraction is deterministic, so one untimed pass over the full input
    * stands for the timed ones, whose row counts are checked per job.
    */
  def check(spark: SparkSession): Check = {
    import spark.implicits._
    val s = seed
    val verdicts = Pipeline.extract(spark, scan(spark, hi), "check")
      .map { r =>
        val id = Inputs.idOf(r.url)
        (id, Check.matches(r.status, r.text_bytes, Inputs.pdfExpected(s, id)))
      }.collect()
    Check.tally(docs, verdicts.toSeq)
  }

  def layers(spark: SparkSession, metrics: SparkMetrics, traceWindows: Seq[SparkWindow],
             found: Check): Layers =
    Layers(Kernel.profile(spark, scan(spark, hi)))
}

/** Common-Crawl-shaped warehouse run: `TableIO.runResumable` into a fresh
  * warehouse, crashed after two of four bucket batches, then resumed.
  */
final class CrawlWarehouse(seed: Long, work: String, hi: Int)
    extends Workload("crawl_warehouse", seed, work, hi) {
  /** Distinct urls; one in ten has a second, later capture. */
  val docs = 2000L * hi
  val Buckets = 16
  val BatchBuckets = 4
  private var jobNo = 0
  private var lastWarehouse: String = _
  private var lastWidth = 0
  /** Warehouse of the last full-width job, kept for the check. */
  private var kept: String = _

  def generate(spark: SparkSession, rep: Int): Unit = {
    import spark.implicits._
    val s = seed
    writeInput(ids(spark).flatMap(id => Inputs.crawlRows(s, id)).toDF(), rep)
  }

  private def run(spark: SparkSession, pages: DataFrame, wh: String, failAfter: Int) =
    TableIO.runResumable(spark, pages, wh, s"run-$jobNo", numBuckets = Buckets,
      batchBuckets = BatchBuckets, failAfterBatches = failAfter)

  def job(spark: SparkSession, width: Int, traced: Boolean): Unit = {
    jobNo += 1
    val wh = s"$work/wh-$jobNo"
    val pages = scan(spark, width)
    def step[T](span: String)(body: => T): T =
      if (traced) Trace.span(span, 0, jobNo.toLong)(_ => body) else body
    val crashed =
      try { step("tableio.crash_run")(run(spark, pages, wh, failAfter = 2)); false }
      catch { case e: RuntimeException if String.valueOf(e.getMessage).startsWith("injected failure") => true }
    require(crashed, "the injected crash did not happen")
    step("tableio.resume_run")(run(spark, pages, wh, failAfter = -1))
    lastWarehouse = wh
    lastWidth = width
  }

  /** Rows from the parquet footers of the committed snapshot, plus any
    * bucket the snapshot lacks.
    */
  def lastJobCountError(spark: SparkSession): Long = {
    val snap = TableIO.currentSnapshot(lastWarehouse).get
    val rows = snap.dataDirs.map(d => TableIO.parquetRowCount(spark, d)).sum
    if (lastWidth == hi) {
      if (kept != null) TableIO.deleteRecursively(new File(kept))
      kept = lastWarehouse
    } else TableIO.deleteRecursively(new File(lastWarehouse))
    math.abs(rows - docsAt(lastWidth)) + (Buckets - snap.committedBuckets.size)
  }

  def check(spark: SparkSession): Check = {
    import spark.implicits._
    val s = seed
    val verdicts = TableIO.readData(spark, kept).get
      .select("url", "status", "text_bytes").as[(String, String, Array[Byte])]
      .map { case (url, status, bytes) =>
        val id = Inputs.idOf(url)
        (id, Check.matches(status, bytes, Inputs.crawlExpected(s, id)))
      }.collect()
    Check.tally(docs, verdicts.toSeq)
  }

  /** Also probes the Dedup layer, on its own seeded documents table: the
    * step that runs over extracted text after the warehouse is written.
    */
  def layers(spark: SparkSession, metrics: SparkMetrics, traceWindows: Seq[SparkWindow],
             found: Check): Layers = {
    import spark.implicits._
    val resumeMs = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      run(spark, scan(spark, hi), kept, failAfter = -1)
      (System.nanoTime() - t0) / 1e6
    }
    val commitMs = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      TableIO.commit(kept, Set.empty, None, None, Buckets)
      (System.nanoTime() - t0) / 1e6
    }
    val writeS = traceWindows.map(_.jobWalls.filter(_._1.contains("TableIO")).map(_._2).sum)
    val rows = Pipeline.run(spark, scan(spark, hi), "trace")
      .mapPartitions(RowSink.count(traced = true)).reduce(_ + _)
    require(rows == docs, s"traced pipeline pass returned $rows rows, expected $docs")
    val base = Map(
      "tableio.commit_ms" -> Stats.median(commitMs),
      "tableio.resume_noop_ms" -> Stats.median(resumeMs),
      "tableio.write_job_s" -> Stats.median(writeS),
      "tableio.resume_dupes" -> found.dupes.toDouble,
      "tableio.resume_missing" -> found.missing.toDouble) ++
      RowSink.metrics(Trace.all()) ++ Kernel.profile(spark, scan(spark, hi))
    val dedup = new DedupProbe(seed, work, hi).run(spark, metrics)
    dedup.copy(metrics = base ++ dedup.metrics)
  }
}

/** The Dedup layer: MinHash near-duplicate pairs and their connected
  * component groups (the x25 and x16 operators) over a seeded documents
  * table, probed in the traced run of `crawl_warehouse`.
  */
final class DedupProbe(seed: Long, work: String, hi: Int) {
  /** A multiple of 5 per partition, so no near-duplicate family is split. */
  val docs = 500L * hi

  /** The repository's DuckDB oracle compares all pairs at about 0.1 ms a
    * pair, so it checks a seeded sample of whole families; the runner
    * executes it over the files written here.
    */
  val OracleDocs = 60L

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode(SaveMode.Overwrite).save()

  private def pairsOf(spark: SparkSession, docsDf: DataFrame) = {
    import spark.implicits._
    Dedup.minhashDupPairs(spark, docsDf).select("a", "b", "inter", "un").as[(Long, Long, Int, Int)]
  }

  private def groupsOf(spark: SparkSession, docsDf: DataFrame) = {
    import spark.implicits._
    Dedup.minhashDupGroupsCC(spark, docsDf).as[(Long, Long)]
  }

  def run(spark: SparkSession, metrics: SparkMetrics): Layers = {
    import spark.implicits._
    val s = seed
    val input = s"$work/dedup-docs"
    spark.range(0, docs, 1, hi).as[Long]
      .map(id => (id, Inputs.dedupText(s, id), Inputs.dedupLang(id)))
      .toDF("doc_id", "text", "lang").write.parquet(input)
    spark.conf.set("spark.sql.shuffle.partitions", hi.toString)
    val docsDf = spark.read.parquet(input)
    // The operators run checkpoint jobs while the plan is built, so the
    // plan is built inside the timed window too.
    def stage(df: => DataFrame): (Double, Int) = {
      val (t, w) = metrics.window {
        val t0 = System.nanoTime()
        noop(df)
        (System.nanoTime() - t0) / 1e9
      }
      (t, w.jobs)
    }
    val (signatureS, _) = stage(Dedup.withMinhash(docsDf))
    val (candidatesS, _) = stage(Dedup.minhashCandidatePairs(docsDf))
    val (pairsS, _) = stage(Dedup.minhashDupPairs(spark, docsDf))
    val (groupsS, groupsJobs) = stage(Dedup.minhashDupGroupsCC(spark, docsDf))
    val candidates = Dedup.minhashCandidatePairs(docsDf).count().toDouble
    val pairs = pairsOf(spark, docsDf).collect().toSeq
    val check = DedupCheck.compare(seed, docs, pairs, groupsOf(spark, docsDf).collect().toSeq)

    val sample = s"$work/oracle-docs"
    docsDf.filter(s"doc_id < $OracleDocs").coalesce(1).write.parquet(sample)
    val sampleDf = spark.read.parquet(sample)
    pairsOf(spark, sampleDf).write.parquet(s"$work/oracle-pairs")
    groupsOf(spark, sampleDf).toDF("doc_id", "dup_group").write.parquet(s"$work/oracle-groups")

    Layers(
      Map(
        "dedup.signature_s" -> signatureS,
        "dedup.candidates_s" -> candidatesS,
        "dedup.pairs_s" -> pairsS,
        "dedup.groups_s" -> groupsS,
        "dedup.jobs" -> groupsJobs.toDouble,
        "dedup.candidates" -> candidates,
        "dedup.verified_pairs" -> pairs.length.toDouble,
        "dedup.verified_per_candidate" -> (if (candidates == 0) 0.0 else pairs.length / candidates)),
      check,
      Map("documents" -> sample, "pairs" -> s"$work/oracle-pairs", "groups" -> s"$work/oracle-groups",
        "x25_sql" -> graft.SparkEntry.oracleSql("x25_minhash_pairs"),
        "x16_sql" -> graft.SparkEntry.oracleSql("x16_minhash_groups")))
  }
}
