package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.spark.PagesGen

/** Extra (non-contract) measurement harness for the optimization rounds —
  * guide §1.4: time computations against the noop sink so the measurement is
  * the transformation, not the sink or a count()'s column pruning. The
  * driver-contract bench (graft.Bench) is FROZEN; everything exploratory
  * lives here.
  *
  * Modes (args(0)):
  *  - "queries" [names...]: noop-time each named SparkEntry query (default:
  *    the Bench headline set), cold + 2 warm reps, one JSON line each.
  *  - "corpus": decompose corpus_build (payload flatMap alone -> noop, then
  *    + repartition write like the contract bench does).
  *  - "micro": single-threaded per-variant microbench of payload BUILD and
  *    kernel EXTRACT cost (the two sides of every extraction query).
  *  - "corpusparts": per-partition row/byte/time spread of the bench corpus.
  *  - "kernel": single-threaded phase profile of the extraction kernel
  *    (open / content / extractText, HTML split, fixture build phases).
  *  - "mh": minhash pipeline phase decomposition (signature, candidates,
  *    pairs, groups).
  *  - "plan" <name> <outFile>: write .explain("formatted") of a query.
  */
object BenchExtra {

  private def timed[T](f: => T): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val mode = if (args.nonEmpty) args(0) else "queries"

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    mode match {
      case "queries" =>
        val names =
          if (args.length > 1) args.drop(1).toSeq
          else Seq("q01_lineitem_agg", "q02_top_orders", "q04_latest_event",
            "q05_token_count", "q06_exact_dedup", "q09_ann_topk",
            "x16_minhash_groups", "x17_simhash", "x14_ann_lsh",
            "x20_multimodal_decode", "x25_minhash_pairs", "x27_bpe_tokens",
            "x28_winnow", "x29_ann_ivf", "x39_bpe_merges", "x40_image_decode",
            "x42_writer_roundtrip", "x43_pdf_images")
        for (name <- names) {
          SparkEntry.queries.get(name) match {
            case None => println(s"""{"query":"$name","error":"missing"}""")
            case Some(fn) =>
              spark.sparkContext.setJobDescription(s"bx:$name")
              val cold = timed(noop(fn(spark, sfDir)))
              val w1 = timed(noop(fn(spark, sfDir)))
              val w2 = timed(noop(fn(spark, sfDir)))
              println(f"""{"query":"$name","cold":$cold%.3f,"warm":[$w1%.3f,$w2%.3f]}""")
          }
        }

      case "corpus" =>
        val replicas = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPLICAS", "20").toInt
        val tmp = java.nio.file.Files.createTempDirectory(
          java.nio.file.Paths.get("/dev/shm"), "graft-bx").toString
        sys.addShutdownHook {
          graft.spark.TableIO.deleteRecursively(new java.io.File(tmp))
        }
        spark.sparkContext.setJobDescription("bx:corpus flatMap -> noop")
        val tGen = timed(noop(PagesGen.pagesBench(spark, sfDir, replicas).toDF()))
        val tGen2 = timed(noop(PagesGen.pagesBench(spark, sfDir, replicas).toDF()))
        spark.sparkContext.setJobDescription("bx:corpus full (repartition+write)")
        val tFull = timed {
          PagesGen.pagesBench(spark, sfDir, replicas).toDF()
            .repartition(cpus).write.parquet(s"$tmp/pages")
        }
        val bytes = Option(new java.io.File(s"$tmp/pages").listFiles())
          .map(_.filter(_.getName.endsWith(".parquet")).map(_.length()).sum).getOrElse(0L)
        println(f"""{"corpus_gen_noop_cold":$tGen%.3f,"corpus_gen_noop_warm":$tGen2%.3f,"corpus_full_write":$tFull%.3f,"corpus_bytes":$bytes}""")

      case "micro" =>
        import spark.implicits._
        // One local (driver-side) pass: per-variant build + extract cost over
        // the sf docs, single-threaded so the numbers are per-core truth.
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
          .select("doc_id", "text").as[(Long, String)].collect()
        val nDocs = math.min(docs.length, 500)
        val sample = docs.take(nDocs)
        // pagesBench shape: 40 perturbed lines, variants 0..4
        for (variant <- 0 until 5) {
          val lines0 = (0 until 40)
          var built: Array[Array[Byte]] = null
          val tBuild = timed {
            built = sample.map { case (id, text) =>
              val lines = lines0.map(k => s"[p$k r0 d$id] $text")
              if (variant == 4) graft.fixtures.PdfFixtures.htmlMultiPara(lines)
              else graft.fixtures.PdfFixtures.multiLinePdf(lines, variant)
            }
          }
          val bytes = built.map(_.length.toLong).sum
          val tExtract = timed { built.foreach(p => Extract(p)) }
          println(f"""{"micro":"bench_v$variant","n":$nDocs,"build_s":$tBuild%.3f,"extract_s":$tExtract%.3f,"payload_bytes":$bytes}""")
        }
        // x10/x42 shape: the 24 rotation variants, one doc each family
        for (variant <- 0 until PagesGen.PdfVariants) {
          val sub = sample.take(100)
          var built: Array[Array[Byte]] = null
          val tBuild = timed {
            built = sub.map { case (id, text) =>
              PagesGen.payloadFor(id, text, variant)
            }
          }
          val tExtract = timed { built.foreach(p => Extract(p)) }
          val tRewrite = timed {
            built.zip(sub).foreach { case (p, (id, _)) =>
              import graft.pdf.PdfWriter
              val enc = (id % 3) match {
                case 1 => Some(PdfWriter.WriterEncrypt(
                  ownerPass = "graft-owner".getBytes, aes = false, seed = s"x42-$id"))
                case 2 => Some(PdfWriter.WriterEncrypt(
                  ownerPass = "graft-owner".getBytes, aes = true, seed = s"x42-$id"))
                case _ => None
              }
              Extract(PdfWriter.rewrite(p, Nil, enc))
            }
          }
          println(f"""{"micro":"rot_v$variant","n":${sub.length},"build_s":$tBuild%.3f,"extract_s":$tExtract%.3f,"rewrite_extract_s":$tRewrite%.3f}""")
        }

      case "corpusparts" =>
        import spark.implicits._
        val replicas = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPLICAS", "20").toInt
        val ds = PagesGen.pagesBench(spark, sfDir, replicas)
        // warm
        ds.toDF().write.format("noop").mode("overwrite").save()
        val t0 = System.nanoTime()
        val stats = ds.mapPartitions { it =>
          val s = System.currentTimeMillis()
          var n = 0L
          var bytes = 0L
          while (it.hasNext) { val r = it.next(); n += 1; bytes += r.html.length }
          Iterator.single((org.apache.spark.TaskContext.getPartitionId(), n, bytes,
            System.currentTimeMillis() - s))
        }.collect()
        val wall = (System.nanoTime() - t0) / 1e9
        val times = stats.map(_._4)
        println(f"""{"corpusparts_wall":$wall%.3f,"parts":${stats.length},"rows":${stats.map(_._2).sum},"bytes":${stats.map(_._3).sum},"task_ms_min":${times.min},"task_ms_med":${times.sorted.apply(times.length / 2)},"task_ms_max":${times.max},"task_ms_sum":${times.sum}}""")

      case "kernel" =>
        // Single-threaded phase profile of the extraction kernel over the
        // bench-corpus payload shapes, with JIT warmup: where does a
        // per-document microsecond go (open/xref vs content lex vs filters)?
        import spark.implicits._
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
          .select("doc_id", "text").as[(Long, String)].collect().take(1000)
        for (variant <- 0 until 5) {
          val built = docs.map { case (id, text) =>
            val lines = (0 until 40).map(k => s"[p$k r0 d$id] $text")
            if (variant == 4) graft.fixtures.PdfFixtures.htmlMultiPara(lines)
            else graft.fixtures.PdfFixtures.multiLinePdf(lines, variant)
          }
          // warmup x2 then measure
          built.foreach(p => Extract(p)); built.foreach(p => Extract(p))
          val tAll = timed(built.foreach(p => Extract(p)))
          var tOpen = 0.0
          var tContent = 0.0
          var tExtract = 0.0
          if (variant != 4) {
            val t0 = System.nanoTime()
            val opened = built.map(graft.pdf.PdfDocument.open(_))
            val t1 = System.nanoTime()
            val contents = opened.map(d => d.allContentStreams(d.pages.head))
            val t2 = System.nanoTime()
            opened.zip(contents).foreach { case (d, c) =>
              graft.pdf.TextExtractor.extractText(c, d.pages.head.resources)
            }
            val t3 = System.nanoTime()
            tOpen = (t1 - t0) / 1e9; tContent = (t2 - t1) / 1e9; tExtract = (t3 - t2) / 1e9
          }
          val bytes = built.map(_.length.toLong).sum
          println(f"""{"kernel":"v$variant","n":${built.length},"extract_all_s":$tAll%.3f,"open_s":$tOpen%.3f,"content_s":$tContent%.3f,"extracttext_s":$tExtract%.3f,"bytes":$bytes}""")
        }
        // html split: decode vs block extraction vs full Extract
        {
          val payloads = docs.map { case (id, text) =>
            graft.fixtures.PdfFixtures.htmlMultiPara(
              (0 until 40).map(k => s"[p$k r0 d$id] $text"))
          }
          def rep(f: => Unit): Double = { f; f; timed(f) }
          val tDecode = rep { payloads.foreach(p => graft.html.HtmlExtract.extract(p)) }
          val tFull = rep { payloads.foreach(p => Extract(p)) }
          println(f"""{"kernel":"htmlsplit","htmlextract_s":$tDecode%.3f,"full_s":$tFull%.3f}""")
        }

        // open split: file parser (xref+trailer) vs full model load (v0)
        {
          val payloads = docs.map { case (id, text) =>
            graft.fixtures.PdfFixtures.multiLinePdf(
              (0 until 40).map(k => s"[p$k r0 d$id] $text"), 0)
          }
          def rep(f: => Unit): Double = { f; f; timed(f) }
          val tParser = rep { payloads.foreach { p =>
            val fp = new graft.pdf.PdfFileParser(p); fp.load() } }
          val tOpen = rep { payloads.foreach(p => graft.pdf.PdfDocument.open(p)) }
          val tExtractReal = rep { payloads.foreach { p =>
            val d = graft.pdf.PdfDocument.open(p)
            graft.pdf.TextExtractor.extractText(
              d.allContentStreams(d.pages.head), d.pages.head.resources) } }
          println(f"""{"kernel":"opensplit","parser_s":$tParser%.3f,"open_s":$tOpen%.3f,"open_extract_s":$tExtractReal%.3f}""")
        }

        // content parse vs full extractText split (v0 content)
        {
          val contents0 = docs.map { case (id, text) =>
            graft.fixtures.PdfFixtures.multiLineContent(
              (0 until 40).map(k => s"[p$k r0 d$id] $text"))
          }
          def rep(f: => Unit): Double = { f; f; timed(f) }
          val tParse = rep { contents0.foreach(c => new graft.pdf.ContentParser(c).parse()) }
          val tFull = rep { contents0.foreach(c =>
            graft.pdf.TextExtractor.extractText(c, null)) }
          println(f"""{"kernel":"split","parse_s":$tParse%.3f,"extracttext_s":$tFull%.3f}""")
        }

        // fixture build phases (corpus_build per-task work)
        val sample = docs.take(1000)
        def rep3(f: => Unit): Double = { f; f; timed(f) } // warm x2, time 3rd
        val tContentB = rep3 { sample.foreach { case (id, text) =>
          graft.fixtures.PdfFixtures.multiLineContent(
            (0 until 40).map(k => s"[p$k r0 d$id] $text")) } }
        val tLines = rep3 { sample.foreach { case (id, text) =>
          (0 until 40).map(k => s"[p$k r0 d$id] $text") } }
        val contents = sample.map { case (id, text) =>
          graft.fixtures.PdfFixtures.multiLineContent(
            (0 until 40).map(k => s"[p$k r0 d$id] $text")) }
        val tFlate = rep3 { contents.foreach(graft.pdf.Filters.flateEncode(_)) }
        println(f"""{"kernel":"build","lines_s":$tLines%.3f,"content_s":$tContentB%.3f,"flate_s":$tFlate%.3f}""")

      case "mh" =>
        // minhash pipeline phase decomposition (warm, 2 reps each)
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        def rep(f: => Unit): Double = { f; timed(f) }
        val tCand = rep(noop(graft.ops.Dedup.minhashCandidatePairs(docs)))
        val tPairs = rep(noop(graft.ops.Dedup.minhashDupPairs(spark, docs)))
        val tGroups = rep(noop(graft.ops.Dedup.minhashDupGroupsCC(spark, docs)
          .orderBy("doc_id")))
        // signature stage alone: fused UDF to noop (no banding joins)
        val tSig = rep(noop(graft.ops.Dedup.withMinhash(docs).select("doc_id", "mh_bands")))
        println(f"""{"mh_sig":$tSig%.3f,"mh_candidates":$tCand%.3f,"mh_pairs":$tPairs%.3f,"mh_groups":$tGroups%.3f}""")

      case "plan" =>
        val name = args(1)
        val outFile = args(2)
        val fn = SparkEntry.queries(name)
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
          txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"""{"plan":"$name","file":"$outFile"}""")

      case other =>
        System.err.println(s"unknown mode: $other")
    }
    spark.stop()
  }
}
