package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark process: one JVM, one `local[nproc]` session, a closed loop of
  * jobs (each starts when the previous one has finished). See
  * perfbench/README.md for the workloads and metrics.
  *
  * Arguments: --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <scratch dir> --out <result json> --spans <span tsv>
  */
object Main {

  /** Set-up is repeated this many times and its median reported, so work
    * moved into set-up shows against a steady figure. The first, cold
    * repetition (class loading, JIT) is the slowest and so never the median.
    */
  val SetupReps = 4
  /** Rounds run before measuring. */
  val WarmupRounds = 3
  /** Fewest rounds a measurement takes, however long they run. */
  val MinRounds = 2

  val EndToEnd: Seq[(String, String)] = Seq(
    "docs_per_s" -> "docs/s", "docs_per_s_1task" -> "docs/s", "scaling_eff" -> "ratio",
    "heap_peak_mb" -> "MB", "setup_s" -> "s")

  val PerLayer: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.input_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes", "spark.output_bytes" -> "bytes",
    "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s", "spark.task_deser_s" -> "s",
    "spark.gc_s" -> "s", "spark.task_s_p50" -> "s", "spark.task_s_max" -> "s",
    "spark.task_skew" -> "ratio",
    "pipeline.row_us_p50" -> "us", "pipeline.row_us_p99" -> "us",
    "pipeline.rows" -> "count", "pipeline.ok_rows" -> "count",
    "extract.us_p50" -> "us", "extract.us_p99" -> "us",
    "extract.status.ok" -> "count", "extract.status.error" -> "count",
    "extract.status.empty" -> "count", "extract.status.timeout" -> "count",
    "extract.status.skipped_oversize" -> "count",
    "extract.bytes_in" -> "bytes", "extract.bytes_out" -> "bytes",
    "pdf.parse.self_us" -> "us", "pdf.open.self_us" -> "us", "pdf.content.self_us" -> "us",
    "pdf.content.bytes" -> "bytes", "pdf.lex.us" -> "us", "pdf.text.self_us" -> "us",
    "html.extract.self_us" -> "us", "html.encode.self_us" -> "us",
    "tableio.commit_ms" -> "ms", "tableio.resume_noop_ms" -> "ms", "tableio.write_job_s" -> "s",
    "tableio.resume_dupes" -> "count", "tableio.resume_missing" -> "count",
    "dedup.signature_s" -> "s", "dedup.candidates_s" -> "s", "dedup.pairs_s" -> "s",
    "dedup.groups_s" -> "s", "dedup.jobs" -> "count", "dedup.candidates" -> "count",
    "dedup.verified_pairs" -> "count", "dedup.verified_per_candidate" -> "ratio",
    "trace.docs_per_s" -> "docs/s", "trace.overhead_pct" -> "%", "fail_ratio" -> "ratio",
    "host.steal_pct" -> "%")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"--$k is required"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath.toString
    // The scaling pair: widths exactly 4x apart. Below 4 cores there is no
    // such pair, and the 1-task figures and scaling_eff are left out.
    val nproc = Runtime.getRuntime.availableProcessors()
    val lo = if (nproc >= 4) Some(nproc / 4) else None
    val hi = lo.map(_ * 4).getOrElse(nproc)
    val widths = Seq(hi) ++ lo
    val wl: Workload = opt("workload") match {
      case "pdf_extract"     => new PdfExtract(seed, work, hi)
      case "crawl_warehouse" => new CrawlWarehouse(seed, work, hi)
      case other             => sys.error(s"unknown workload $other")
    }

    val log = new StringBuilder
    def note(s: String): Unit = { System.err.println(s"[perfbench] $s"); log ++= s ++= "\n" }
    note(s"workload=${wl.name} seed=$seed nproc=$nproc widths=${widths.mkString(",")} " +
      s"docs per job=${widths.map(wl.docsAt).mkString(",")}")

    // ---- set-up: session start and input generation, repeated ----
    var spark: SparkSession = null
    val setup = (0 until SetupReps).map { rep =>
      val h0 = Host.ticks()
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(nproc, hi, work)
      wl.generate(spark, rep)
      Job((System.nanoTime() - t0) / 1e9, Host.stealShare(h0, Host.ticks()))
    }
    note(s"setup_s reps: ${setup.map(j => fmt(j.wall)).mkString(" ")}" +
      s" [${setup.map(j => f"${100 * j.steal}%.0f%%").mkString(" ")} stolen]")
    // Warm-up (JIT, codegen) outside set-up and measurement: a fixed number
    // of whole rounds, so every run starts measuring at the same point.
    val warm = System.nanoTime()
    for (_ <- 0 until WarmupRounds; w <- widths) { wl.job(spark, w, traced = false); wl.lastJobCountError(spark) }
    note(s"warm-up: ${fmt((System.nanoTime() - warm) / 1e9)} s")
    val metrics = new SparkMetrics(spark.sparkContext)

    // ---- measurement ----
    // Untraced: the scaling pair. Traced: untraced and traced full-width
    // jobs alternate, so the tracing overhead compares like with like.
    val slots =
      if (traced) Seq((hi, false), (hi, true))
      else widths.map(w => (w, false))
    HeapWatch.reset()
    val host0 = Host.ticks()
    val m = measure(spark, wl, metrics, slots, seconds)
    val steal = 100 * Host.stealShare(host0, Host.ticks())
    val heapMb = HeapWatch.peakMb()
    note(f"host steal during measurement: $steal%.1f%%")
    for (((w, t), js) <- m.jobs) {
      val slot = s"at $w tasks${if (t) ", traced" else ""}"
      note(s"job wall $slot: ${Stats.summarize(js.map(_.wall)).render("s")}" +
        s" [${js.map(j => fmt(j.wall)).mkString(" ")}]")
      note(s"job wall less steal $slot: ${Stats.summarize(js.map(_.unstolen)).render("s")}" +
        s" [${js.map(j => f"${100 * j.steal}%.0f%%").mkString(" ")} stolen]")
    }
    val check = wl.check(spark)
    check.examples.foreach(e => note(s"check: $e"))
    val failedDocs = check.failedDocs
    // Docs whose output fails the check are not done work, at any width.
    val good = 1.0 - failedDocs.toDouble / wl.docs
    def rate(width: Int, traced: Boolean) =
      m.jobs((width, traced)).map(j => wl.docsAt(width) * good / j.unstolen)
    var attempted = check.attempted + m.docs
    var failed = check.failed + m.countErrors
    var oracle = Map.empty[String, String]

    val out = mutable.LinkedHashMap.empty[String, (Double, String)]
    val units = (EndToEnd ++ PerLayer).toMap
    def put(name: String, v: Double): Unit = out(name) = (v, units(name))

    if (!traced) {
      put("docs_per_s", Stats.median(rate(hi, false)))
      lo.foreach { w =>
        put("docs_per_s_1task", Stats.median(rate(w, false)))
        // Rounds pair one job per width back to back, so each ratio sees
        // the same machine state on both sides.
        put("scaling_eff", Stats.median(rate(hi, false).zip(rate(w, false)).map { case (h, l) => h / (4 * l) }))
      }
      put("heap_peak_mb", heapMb)
      put("setup_s", Stats.median(setup.map(_.unstolen)))
    } else {
      val plainRate = Stats.median(rate(hi, false))
      val tracedRate = Stats.median(rate(hi, true))
      val layer = mutable.LinkedHashMap.empty[String, Double]
      PerLayer.foreach { case (n, _) => layer(n) = 0.0 }
      layer ++= sparkLayer(m.windows)
      layer ++= RowSink.metrics(Trace.all())
      val probes = wl.layers(spark, metrics, m.windows, check)
      layer ++= probes.metrics
      probes.check.examples.foreach(e => note(s"check: $e"))
      attempted += probes.check.attempted
      failed += probes.check.failed
      oracle = probes.oracle
      layer("host.steal_pct") = steal
      layer("trace.docs_per_s") = tracedRate
      layer("trace.overhead_pct") = 100.0 * (plainRate - tracedRate) / plainRate
      layer("fail_ratio") = failed.toDouble / attempted
      layer.foreach { case (n, v) => put(n, v) }
      val spans = Trace.all()
      Trace.write(spans, Paths.get(opt("spans")))
      note(s"wrote ${spans.length} spans to ${opt("spans")}")
    }

    spark.stop()

    val json = new StringBuilder
    json ++= s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"""
    json ++= s""""nproc":$nproc,"metrics":{"""
    json ++= out.map { case (n, (v, u)) => s""""$n":{"value":${num(v)},"unit":"$u"}""" }.mkString(",")
    json ++= "},\"oracle\":{"
    json ++= oracle.map { case (k, v) => s""""$k":"${esc(v)}"""" }.mkString(",")
    json ++= s"""},"log":"${esc(log.toString)}"}"""
    Files.write(Paths.get(opt("out")), json.toString.getBytes(UTF_8))
  }

  /** One timed job: its wall time and the share of the CPU time it wanted
    * that the hypervisor gave to other guests.
    */
  final case class Job(wall: Double, steal: Double) {
    /** The wall time without the stolen share. */
    def unstolen: Double = wall * (1 - steal)
  }

  /** Jobs per (width, traced) slot, and the Spark windows of the
    * full-width jobs (the traced ones when there are any).
    */
  final case class Measured(jobs: Map[(Int, Boolean), Seq[Job]], windows: Seq[SparkWindow],
                            docs: Long, countErrors: Long)

  /** Closed loop: rounds of one job per slot, back to back, until
    * `seconds` have passed and at least MinRounds rounds are done. Only the
    * job itself is timed.
    */
  def measure(spark: SparkSession, wl: Workload, metrics: SparkMetrics,
              slots: Seq[(Int, Boolean)], seconds: Double): Measured = {
    val jobs = mutable.LinkedHashMap.empty[(Int, Boolean), mutable.ArrayBuffer[Job]]
    val windowSlot = slots.find(_._2).getOrElse(slots.head)
    val windows = mutable.ArrayBuffer.empty[SparkWindow]
    var docs = 0L
    var countErrors = 0L
    var rounds = 0
    val start = System.nanoTime()
    while (rounds < MinRounds || (System.nanoTime() - start) / 1e9 < seconds) {
      for (slot @ (width, traced) <- slots) {
        val (job, win) = metrics.window {
          val h0 = Host.ticks()
          val t0 = System.nanoTime()
          wl.job(spark, width, traced)
          val wall = (System.nanoTime() - t0) / 1e9
          Job(wall, Host.stealShare(h0, Host.ticks()))
        }
        jobs.getOrElseUpdate(slot, mutable.ArrayBuffer.empty) += job
        if (slot == windowSlot) windows += win
        docs += wl.docsAt(width)
        countErrors += wl.lastJobCountError(spark)
      }
      rounds += 1
    }
    Measured(jobs.map { case (k, v) => k -> v.toSeq }.toMap, windows.toSeq, docs, countErrors)
  }

  /** Spark layer metrics: per full-width job, median over jobs. */
  def sparkLayer(ws: Seq[SparkWindow]): Map[String, Double] = {
    def med(f: SparkWindow => Double) = Stats.median(ws.map(f))
    def taskP50(w: SparkWindow) =
      if (w.kernelStageTasks.isEmpty) 0.0 else Stats.median(w.kernelStageTasks)
    def taskMax(w: SparkWindow) = if (w.kernelStageTasks.isEmpty) 0.0 else w.kernelStageTasks.max
    Map(
      "spark.jobs" -> med(_.jobs), "spark.stages" -> med(_.stages), "spark.tasks" -> med(_.tasks),
      "spark.input_bytes" -> med(_.inputBytes.toDouble),
      "spark.shuffle_write_bytes" -> med(_.shuffleWriteBytes.toDouble),
      "spark.shuffle_read_bytes" -> med(_.shuffleReadBytes.toDouble),
      "spark.output_bytes" -> med(_.outputBytes.toDouble),
      "spark.task_run_s" -> med(_.taskRunS), "spark.task_cpu_s" -> med(_.taskCpuS),
      "spark.task_deser_s" -> med(_.taskDeserS), "spark.gc_s" -> med(_.gcS),
      "spark.task_s_p50" -> med(taskP50), "spark.task_s_max" -> med(taskMax),
      "spark.task_skew" -> med(w => if (taskP50(w) > 0) taskMax(w) / taskP50(w) else 0.0))
  }

  def session(nproc: Int, width: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.shuffle.partitions", width.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Peak heap in use right after a collection, over a window. */
  object HeapWatch {
    @volatile private var peak = 0L

    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
          if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.iterator
              .filter { case (pool, _) => heapPools.contains(pool) }
              .map(_._2.getUsed).sum
            if (used > peak) peak = used
          }
        }, null, null)
      case _ => ()
    }

    private lazy val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

    def reset(): Unit = peak = 0L

    /** Ends the window with one full collection, so a window without any
      * collection still reports the heap it leaves live.
      */
    def peakMb(): Double = {
      System.gc()
      val live = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      math.max(peak, live) / 1048576.0
    }
  }

  def fmt(x: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, x)

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  private def esc(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c    => c.toString
  }
}
