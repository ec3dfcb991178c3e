package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry
import graft.gen.PagesGen

/** `ops_sweep`: a fixed, family-stratified sample of `SparkEntry.queries`
  * over seeded sf0.001-shaped tables, in name order, each query fully
  * materialized into a no-op sink. The sweep repeats while the clock runs.
  */
object OpsSweep extends Workload {

  /** The [[Offset]]-th query of each family (by name) and every
    * [[Stride]]-th after it — the first of a family smaller than that —
    * so each family is represented in proportion to its size.
    */
  val Stride = 24
  val Offset = 4
  val Families: Seq[String] = Seq("e", "t", "d", "p", "m", "q")
  /** Sweeps per measurement, at least; the median sweep is reported.
    * One sweep of the sample outlasts `run_seconds`, so a run makes one.
    */
  val MinPasses = 1

  def familyOf(name: String): String = name.take(1)

  def sample(names: Seq[String]): Seq[String] =
    names.groupBy(familyOf).values.flatMap { ns =>
      ns.sorted.zipWithIndex.collect {
        case (n, i) if i % Stride == Offset || (ns.size <= Offset && i == 0) => n
      }
    }.toVector.sorted

  def queries: Seq[String] = sample(SparkEntry.queries.keys.toVector)

  /** Time one frame through a full materialization: a `noop` write
    * evaluates every projected expression of every row, where `count()`
    * lets Catalyst prune them.
    */
  def materialize(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Release what a query left cached, so each query starts clean. */
  def release(spark: SparkSession): Unit = {
    graft.spark.Caches.drain()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** One query, materialized (through `wrap`, which a traced run uses to
    * open a span) and then released; its wall, or None when it threw.
    */
  def run(ctx: Ctx, name: String, dir: String, wrap: (=> Unit) => Unit = b => b): Option[Double] = {
    val t0 = System.nanoTime()
    val r = ctx.out.attempt(name)(wrap(materialize(SparkEntry.queries(name)(ctx.spark, dir))))
    val wall = (System.nanoTime() - t0) / 1e9
    release(ctx.spark)
    r.map(_ => wall)
  }

  /** One pass over the sample; per-query walls of the queries that ran. */
  def sweep(ctx: Ctx, dir: String, wrap: String => (=> Unit) => Unit = _ => b => b): Seq[(String, Double)] =
    queries.flatMap(n => run(ctx, n, dir, wrap(n)).map(n -> _))

  /** One sweep with each query a `datapipe` span; `jobs` records the
    * sweep's Spark jobs for the caller to turn into child spans.
    */
  def tracedSweep(ctx: Ctx, tracer: Tracer, dir: String, jobs: JobListener): Seq[(String, Double)] = {
    val spark = ctx.spark
    spark.sparkContext.addSparkListener(jobs)
    try Layers.call(spark, tracer, "sweep", "bench") {
      sweep(ctx, dir, n => body => Layers.call(spark, tracer, n, "datapipe")(body))
    }
    finally spark.sparkContext.removeSparkListener(jobs)
  }

  /** `ops.<family>.wall_s`: summed query walls per family. */
  def familyWalls(walls: Seq[(String, Double)]): Map[String, Double] =
    Families.map(f => s"ops.$f.wall_s" -> walls.filter(q => familyOf(q._1) == f).map(_._2).sum).toMap

  def setup(ctx: Ctx): Double = {
    val t0 = System.nanoTime()
    Corpus.writeOpsTables(ctx.spark, ctx.seed, ctx.dir("sf"))
    // warm-up outside the clock: the extraction spine and one relational op
    Seq("e1_extract_html", "t1_quality_filter").filter(SparkEntry.queries.contains)
      .foreach(n => run(ctx, n, ctx.dir("sf")))
    (System.nanoTime() - t0) / 1e9
  }

  def describeInput(ctx: Ctx): Unit = {
    val qs = queries
    ctx.out.context("input") = Map("sf" -> "0.001", "queries" -> qs.size,
      "queries_in_registry" -> SparkEntry.queries.size,
      "per_family" -> qs.groupBy(familyOf).map { case (k, v) => k -> v.size },
      "tables_bytes_on_disk" -> Oracle.treeBytes(ctx.dir("sf")))
  }

  def latencyContext(ctx: Ctx, walls: Seq[Double]): Unit = {
    ctx.out.context("query_samples") = walls.size
    ctx.out.context("query_walls_s") = walls
    Stats.tailPercentile(walls.size).foreach(p => ctx.out.context(s"query_p${p}_s") = Stats.percentile(walls, p))
    ctx.out.context("query_p95_needs_samples") = Stats.samplesFor(95)
  }

  def untraced(ctx: Ctx): Unit = {
    val setupS = ctx.sessionS + setup(ctx)
    describeInput(ctx)
    val rss = new Main.RssPeak
    ctx.startClock()
    val passes = ctx.repeat(MinPasses) { _ =>
      val w = sweep(ctx, ctx.dir("sf"))
      if (w.size == queries.size) Some(w) else None
    }
    if (passes.isEmpty) return
    val sweepS = Stats.median(passes.map(_.map(_._2).sum))
    ctx.out.metric("setup_s", setupS, "s")
    ctx.out.metric("items_per_sec", queries.size / sweepS, "items/s")
    ctx.out.metric("peak_rss_mb", rss.stopMb(), "MB")
    ctx.out.context("sweep_s") = sweepS
    ctx.out.context("passes") = passes.size
    latencyContext(ctx, passes.flatMap(_.map(_._2)))
  }

  def traced(ctx: Ctx): Unit = {
    implicit val spark: SparkSession = ctx.spark
    val dir = ctx.dir("sf")
    setup(ctx)
    describeInput(ctx)
    // untraced, traced, untraced: the overhead compares the traced sweep
    // with the mean of its neighbours, so JIT warming does not bias it
    val plain = sweep(ctx, dir)
    if (plain.size != queries.size) return
    val tracer = new Tracer(s"ops_sweep-seed${ctx.seed}")
    val jobs = new JobListener
    val offset = Layers.clockOffsetNs()
    val traced = tracedSweep(ctx, tracer, dir, jobs)
    ListenerSpans.emit(tracer, jobs.allJobs, jobs.allStages, Nil, 0L, offset)
    val after = sweep(ctx, dir)

    val scanJobs = new JobListener
    spark.sparkContext.addSparkListener(scanJobs)
    val s0 = System.nanoTime()
    val scanned = Seq("documents", "events", "lineitem", "orders")
    Layers.call(spark, tracer, "scan", "spark") {
      scanned.foreach(t => materialize(spark.read.parquet(s"$dir/$t.parquet")))
    }
    val scanS = (System.nanoTime() - s0) / 1e9
    spark.sparkContext.removeSparkListener(scanJobs)
    ListenerSpans.emit(tracer, scanJobs.allJobs, scanJobs.allStages, Nil, 0L, offset)

    // the kernel over the pages the extraction queries build from documents
    val pages = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text", "lang").collect()
      .toSeq.map(r => PagesGen.row(r.getLong(0), r.getString(1), r.getString(2)))
    val kernel = KernelPass.run(tracer, pages, ctx.out)

    val untracedS = (plain.map(_._2).sum + after.map(_._2).sum) / 2
    val tracedS = traced.map(_._2).sum
    // no dedup layer in a query sweep: its shuffle reads are the ops' own
    Layers.report(ctx.out, (Layers.sparkMetrics(jobs.allStages, jobs.allJobs, jobs.allStages) - "dedup.rows_in") ++ kernel ++
      Layers.selfTimes(tracer.all) ++ familyWalls(plain) ++ Map(
      "scan.wall_s" -> scanS, "scan.bytes" -> scanned.map(t => Oracle.treeBytes(s"$dir/$t.parquet")).sum.toDouble,
      "trace.untraced_s" -> untracedS, "trace.traced_s" -> tracedS,
      "trace.overhead_s" -> (tracedS - untracedS),
    ))
    latencyContext(ctx, plain.map(_._2))
    ctx.out.context("kernel_sample_pages") = pages.size
    Layers.writeSpans(ctx, tracer)
  }
}
