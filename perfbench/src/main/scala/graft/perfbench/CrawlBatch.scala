package graft.perfbench

import org.apache.spark.sql.{Encoders, SparkSession}
import graft.ExtractMain
import graft.gen.PagesGen
import graft.spark._

/** `crawl_batch`: one `ExtractMain.runJob` over a seeded pages table
  * into a fresh table — the job users run. Repeated while the clock runs.
  */
object CrawlBatch extends Workload {

  val Docs = 50000L
  val Parts = 16
  /** Timed runs per measurement, at least; the median is reported. The
    * JIT keeps warming over the first few runs, so one run is set-up.
    */
  val MinPasses = 4
  /** Pages the traced run's single-thread kernel pass samples. */
  val KernelSample = 3000

  def pageCount(seed: Long): Long = (0L until Docs).count(Corpus.isRecrawled(seed, _)) + Docs

  def jobArgs(ctx: Ctx, table: String, runId: String): ExtractMain.Args =
    ExtractMain.Args(input = ctx.dir("pages"), table = ctx.dir(table), runId = runId)

  /** Check a finished run: ledger parity, no missing bucket and (when
    * `oracle`) every committed row against the generator's expectation.
    */
  def check(ctx: Ctx, table: String, rows: Long, oracle: Boolean): Unit = {
    implicit val s: SparkSession = ctx.spark
    val committed = LakehouseIO.readResults(table)
    val n = committed.count()
    if (n != rows) ctx.out.problem(s"$table: runJob reported $rows rows, table holds $n")
    Oracle.ledgerProblems(table, n, Some(ExtractMain.Args().buckets)).foreach(ctx.out.problem)
    if (oracle) ctx.out.wrongRows += Oracle.wrongRows(ctx.spark, ctx.seed, 0, Docs, committed)
  }

  /** Corpus generation plus one warm-up run over it (JIT, codegen, page
    * cache), whose output is checked like any other run's.
    */
  def setup(ctx: Ctx): Double = {
    val t0 = System.nanoTime()
    Corpus.writePages(ctx.spark, ctx.seed, 0, Docs, Parts, ctx.dir("pages"))
    val a = jobArgs(ctx, "warm", "warm")
    val r = ctx.out.attempt("warm-up runJob")(ExtractMain.runJob(ctx.spark, a))
    val s = (System.nanoTime() - t0) / 1e9
    r.foreach { case (_, rows) => check(ctx, a.table, rows, oracle = true); ctx.rm(a.table) }
    s
  }

  /** One untraced run; its wall, or None when it threw. */
  def pass(ctx: Ctx, i: Int, oracle: Boolean): Option[Double] = {
    val a = jobArgs(ctx, s"table-$i", s"pass-$i")
    val t0 = System.nanoTime()
    val r = ctx.out.attempt(s"runJob pass $i")(ExtractMain.runJob(ctx.spark, a))
    val wall = (System.nanoTime() - t0) / 1e9
    r.map { case (_, rows) => check(ctx, a.table, rows, oracle); ctx.rm(a.table); wall }
  }

  def describeInput(ctx: Ctx): Unit = {
    val ids = 0L until Docs
    ctx.out.context("input") = Map("docs" -> Docs, "pages" -> pageCount(ctx.seed),
      "pages_bytes_on_disk" -> Oracle.treeBytes(ctx.dir("pages")),
      "kind_shares" -> ids.groupBy(PagesGen.kindOf).map { case (k, v) => k -> v.size.toDouble / Docs },
      "html_families" -> ids.filter(PagesGen.kindOf(_) == "html").groupBy(graft.gen.HtmlGen.familyOf)
        .map { case (k, v) => k -> v.size },
      "recrawl_share" -> (pageCount(ctx.seed) - Docs).toDouble / Docs)
  }

  def untraced(ctx: Ctx): Unit = {
    val setupS = ctx.sessionS + setup(ctx)
    describeInput(ctx)
    val pages = pageCount(ctx.seed)
    val rss = new Main.RssPeak
    ctx.startClock()
    val walls = ctx.repeat(MinPasses)(i => pass(ctx, i, oracle = false))
    if (walls.isEmpty) return
    val wall = Stats.median(walls)
    ctx.out.metric("setup_s", setupS, "s")
    ctx.out.metric("items_per_sec", pages / wall, "items/s")
    ctx.out.metric("peak_rss_mb", rss.stopMb(), "MB")
    ctx.out.context("docs_per_sec") = pages / wall
    ctx.out.context("pass_walls_s") = walls
  }

  def traced(ctx: Ctx): Unit = {
    implicit val spark: SparkSession = ctx.spark
    setup(ctx)
    describeInput(ctx)
    // untraced, traced, untraced: the overhead compares the traced run
    // with the mean of its neighbours, so JIT warming does not bias it
    val before = pass(ctx, 0, oracle = false).getOrElse(return)
    val tracer = new Tracer(s"crawl_batch-seed${ctx.seed}")
    val jobs = new JobListener
    spark.sparkContext.addSparkListener(jobs)
    val offset = Layers.clockOffsetNs()
    val a = jobArgs(ctx, "table-traced", "traced")
    val conf = ExtractConf(maxBytes = a.maxBytes, buckets = a.buckets, salt = a.salt,
      htmlParams = graft.core.HtmlParams(a.maxLinkDensity, a.minWordsDense),
      pdfParams = graft.core.PdfParams(a.xGap, a.yGap))
    var writeSpan = 0L
    var metricsS = 0.0
    // runJob's own sequence of calls, each a span
    val t0 = System.nanoTime()
    val ok = ctx.out.attempt("traced runJob") {
      Layers.call(spark, tracer, "runJob", "bench") {
        val pages = Layers.call(spark, tracer, "loadPages", "spark")(ExtractMain.loadPages(spark, a.input))
        val prep = Layers.call(spark, tracer, "prepared", "spark")(ExtractPipeline.prepared(pages, conf))
        val todo = Layers.call(spark, tracer, "resumeFilter", "spark")(LakehouseIO.resumeFilter(prep, a.table))
        val results = Layers.call(spark, tracer, "extractFrom", "spark")(ExtractPipeline.extractFrom(todo, conf))
        Layers.callId(spark, tracer, "writeCommitted", "spark") { id =>
          writeSpan = id
          LakehouseIO.writeCommitted(results, a.table, a.runId, a.input)
        }
        val m0 = System.nanoTime()
        Layers.call(spark, tracer, "MetricsStage.write", "spark")(MetricsStage.write(
          LakehouseIO.readResults(a.table).as[ResultRow](Encoders.product[ResultRow]), a.table, a.runId))
        metricsS = (System.nanoTime() - m0) / 1e9
      }
    }
    val tracedS = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.removeSparkListener(jobs)
    if (ok.isEmpty) return
    val untracedS = (before + pass(ctx, 1, oracle = false).getOrElse(return)) / 2
    val extraction = jobs.allJobs.filter(_.parentSpan == writeSpan).map(_.jobId).toSet
    val sparkLayer = Layers.sparkMetrics(jobs.allStages.filter(s => extraction.contains(s.jobId)),
      jobs.allJobs, jobs.allStages)
    val committed = LakehouseIO.readResults(a.table)
    val rows = committed.count()
    check(ctx, a.table, rows, oracle = true)
    val counts = committed.groupBy("engine", "status").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    ListenerSpans.emit(tracer, jobs.allJobs, jobs.allStages, Nil, 0L, offset)
    val spans = tracer.all
    val commitS = spans.find(_.id == writeSpan)
      .map(w => Span.selfNs(w, spans.filter(_.parent == w.id)) / 1e9).getOrElse(0.0)

    // the scan alone: the pages table through a full materialization
    val scanJobs = new JobListener
    spark.sparkContext.addSparkListener(scanJobs)
    val s0 = System.nanoTime()
    Layers.call(spark, tracer, "scan", "spark")(OpsSweep.materialize(spark.read.parquet(a.input)))
    val scanS = (System.nanoTime() - s0) / 1e9
    spark.sparkContext.removeSparkListener(scanJobs)
    ListenerSpans.emit(tracer, scanJobs.allJobs, scanJobs.allStages, Nil, 0L, offset)

    val sample = KernelPass.sample(ctx.seed, spark.read.parquet(a.input).as[PageRow](Encoders.product[PageRow]),
      pageCount(ctx.seed), KernelSample)
    val kernel = KernelPass.run(tracer, sample, ctx.out)
    // the datapipe layer rides on this traced run: ops_sweep is not a
    // gated workload (see perfbench/README.md)
    Corpus.writeOpsTables(spark, ctx.seed, ctx.dir("sf"))
    val opsJobs = new JobListener
    val opsWalls = OpsSweep.tracedSweep(ctx, tracer, ctx.dir("sf"), opsJobs)
    ListenerSpans.emit(tracer, opsJobs.allJobs, opsJobs.allStages, Nil, 0L, offset)
    ctx.out.context("ops_sample_walls_s") = opsWalls.toMap
    val ops = OpsSweep.familyWalls(opsWalls)

    Layers.report(ctx.out, sparkLayer ++ kernel ++ ops ++ Layers.statusCounts(counts) ++ Layers.selfTimes(tracer.all) ++ Map(
      "scan.wall_s" -> scanS, "scan.bytes" -> Oracle.treeBytes(a.input).toDouble,
      "dedup.rows_out" -> rows.toDouble,
      "dedup.kept_ratio" -> (if (sparkLayer("dedup.rows_in") > 0) rows / sparkLayer("dedup.rows_in") else 0.0),
      "commit.wall_s" -> commitS,
      "commit.files" -> Oracle.dataFiles(a.table).toDouble,
      "commit.buckets" -> LakehouseIO.bucketLedgers(a.table).size.toDouble,
      "metrics_stage.wall_s" -> metricsS,
      "table.bytes_per_doc" -> (if (rows > 0) Oracle.dataBytes(a.table).toDouble / rows else 0.0),
      "trace.untraced_s" -> untracedS, "trace.traced_s" -> tracedS,
      "trace.overhead_s" -> (tracedS - untracedS),
    ))
    ctx.out.context("kernel_sample_pages") = sample.size
    Layers.writeSpans(ctx, tracer)
  }
}
