package graft.perfbench

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.spark.{ExtractConf, LakehouseIO, PageRow}
import graft.streaming.StreamingExtract

/** `stream_microbatch`: `StreamingExtract.start` with AvailableNow and
  * one file per trigger over pre-staged small page files — a closed loop
  * with one stream, each batch starting after the previous one commits.
  * The first [[WarmBatches]] batches warm the path and are set-up; the
  * rest are the samples.
  */
object StreamMicrobatch extends Workload {

  val WarmBatches = 2
  val Batches = 10
  val MinDocs = 20
  val MaxDocs = 200
  val KernelSample = 1500

  /** Documents per staged file: [[MinDocs]] for each warm file, then
    * evenly spaced sizes in [MinDocs, MaxDocs] in a seed-chosen order, so
    * every seed measures the same number of documents.
    */
  def fileRanges(seed: Long): Seq[(Long, Long)] = {
    val measured = (0 until Batches).map(k => MinDocs + k * (MaxDocs - MinDocs) / (Batches - 1))
      .sortBy(sz => Corpus.mix(seed, 17L, sz.toLong))
    val sizes = Seq.fill(WarmBatches)(MinDocs) ++ measured
    val starts = sizes.scanLeft(0L)(_ + _)
    sizes.indices.map(k => (starts(k), starts(k) + sizes(k)))
  }

  def docs(seed: Long): Long = fileRanges(seed).last._2

  /** One parquet file per range, holding every capture of its documents.
    * The file source reads the oldest file first, so file k gets the k-th
    * modification time: batch k then reads range k on every run.
    */
  def stage(spark: SparkSession, seed: Long, dir: String): Unit = {
    import spark.implicits._
    val ranges = fileRanges(seed)
    spark.sparkContext.parallelize(ranges, ranges.size)
      .flatMap { case (from, until) => (from until until).flatMap(id => Corpus.pagesOf(seed, id)) }
      .toDS().write.mode("overwrite").parquet(dir)
    // part-<k> holds partition k, that is range k
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    require(files.length == ranges.size, s"staged ${files.length} files for ${ranges.size} ranges")
    val base = System.currentTimeMillis() - 3600L * 1000
    files.zipWithIndex.foreach { case (f, k) => f.setLastModified(base + k * 1000L) }
  }

  /** Drain the staged files through one AvailableNow stream; returns the
    * batches in order, as the stream's own progress reports them.
    */
  def drain(spark: SparkSession, in: String, table: String): Seq[BatchRec] = {
    val q = StreamingExtract.start(spark, in, table, ExtractConf(), Trigger.AvailableNow(), Some(1))
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    q.recentProgress.toSeq.filter(_.numInputRows > 0).map { p =>
      BatchRec(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap, p.numInputRows)
    }.sortBy(_.batchId)
  }

  def endMs(b: BatchRec): Long = b.startMs + b.durations.getOrElse("triggerExecution", 0L)

  /** All rows committed across the stream's batch roots, tagged by batch. */
  def committed(spark: SparkSession, table: String): DataFrame =
    spark.read.schema(Encoders.product[graft.spark.ResultRow].schema)
      .parquet(s"$table/batches/batch=*/data/bucket=*")
      .withColumn("batch", regexp_extract(input_file_name(), "batch=(\\d+)", 1).cast("long"))

  /** Ledger parity per batch root and every row against the oracle. */
  def check(ctx: Ctx, table: String, batches: Seq[BatchRec]): Unit = {
    val rows = committed(ctx.spark, table).cache()
    val perBatch = rows.groupBy("batch").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    batches.foreach { b =>
      Oracle.ledgerProblems(StreamingExtract.batchRoot(table, b.batchId), perBatch.getOrElse(b.batchId, 0L), None)
        .foreach(ctx.out.problem)
    }
    val extra = perBatch.keySet -- batches.map(_.batchId)
    if (extra.nonEmpty) ctx.out.problem(s"$table: rows in batches the stream never reported: ${extra.mkString(",")}")
    ctx.out.wrongRows += Oracle.wrongRows(ctx.spark, ctx.seed, 0, docs(ctx.seed), rows)
    rows.unpersist()
  }

  /** Drain into a fresh table (through `wrap`, which a traced run uses to
    * open a span) and check it; returns the warm-up seconds and the
    * measured batches.
    */
  def measure(ctx: Ctx, table: String, wrap: (=> Seq[BatchRec]) => Seq[BatchRec] = b => b)
      : Option[(Double, Seq[BatchRec])] = {
    val startMs = System.currentTimeMillis()
    ctx.out.attempt(s"stream drain into $table")(
      wrap(drain(ctx.spark, ctx.dir("stream-in"), ctx.dir(table)))).flatMap { all =>
      ctx.out.attempted += all.size - 1 // each micro-batch is one operation
      if (all.size != WarmBatches + Batches) {
        ctx.out.problem(s"expected ${WarmBatches + Batches} batches, the stream reported ${all.size}")
        None
      } else {
        val expectedRows = fileRanges(ctx.seed).map { case (from, until) =>
          (from until until).map(id => if (Corpus.isRecrawled(ctx.seed, id)) 2L else 1L).sum }
        if (all.map(_.rows) != expectedRows)
          ctx.out.problem(s"batches read ${all.map(_.rows)} pages, staged order is $expectedRows")
        check(ctx, ctx.dir(table), all)
        val warmEnd = endMs(all(WarmBatches - 1))
        Some(((warmEnd - startMs) / 1e3, all.drop(WarmBatches)))
      }
    }
  }

  def describeInput(ctx: Ctx): Unit = {
    val ranges = fileRanges(ctx.seed)
    val pages = (0L until docs(ctx.seed)).map(id => if (Corpus.isRecrawled(ctx.seed, id)) 2 else 1).sum
    ctx.out.context("input") = Map("docs" -> docs(ctx.seed), "pages" -> pages, "files" -> ranges.size,
      "warm_files" -> WarmBatches, "docs_per_file" -> ranges.map { case (a, b) => b - a },
      "pages_bytes_on_disk" -> Oracle.treeBytes(ctx.dir("stream-in")))
  }

  def latencyContext(ctx: Ctx, bs: Seq[BatchRec]): Unit = {
    val lat = bs.map(_.durations.getOrElse("triggerExecution", 0L).toDouble)
    ctx.out.context("batch_latency_samples") = lat.size
    ctx.out.context("batch_latency_mean_ms") = lat.sum / lat.size
    Stats.tailPercentile(lat.size).foreach(p => ctx.out.context(s"batch_latency_p${p}_ms") = Stats.percentile(lat, p))
    ctx.out.context("batch_latency_ms") = lat
  }

  def untraced(ctx: Ctx): Unit = {
    val t0 = System.nanoTime()
    stage(ctx.spark, ctx.seed, ctx.dir("stream-in"))
    val stageS = (System.nanoTime() - t0) / 1e9
    describeInput(ctx)
    val rss = new Main.RssPeak
    measure(ctx, "table").foreach { case (warmS, bs) =>
      val pages = bs.map(_.rows).sum
      val wallMs = endMs(bs.last) - bs.head.startMs
      ctx.out.metric("setup_s", ctx.sessionS + stageS + warmS, "s")
      ctx.out.metric("items_per_sec", pages * 1000.0 / wallMs, "items/s")
      ctx.out.metric("peak_rss_mb", rss.stopMb(), "MB")
      ctx.out.context("docs_per_sec") = pages * 1000.0 / wallMs
      latencyContext(ctx, bs)
    }
  }

  def traced(ctx: Ctx): Unit = {
    implicit val spark: SparkSession = ctx.spark
    stage(spark, ctx.seed, ctx.dir("stream-in"))
    describeInput(ctx)
    // untraced then traced: a third drain to bracket the traced one would
    // not fit the run's time limit, so the overhead may read low by
    // whatever JIT warming the first drain leaves to the second
    def wallS(bs: Seq[BatchRec]) = (endMs(bs.last) - bs.head.startMs) / 1e3
    val (_, plain) = measure(ctx, "table").getOrElse(return)
    val tracer = new Tracer(s"stream_microbatch-seed${ctx.seed}")
    val jobs = new JobListener
    val batchesL = new BatchListener
    spark.sparkContext.addSparkListener(jobs)
    spark.streams.addListener(batchesL)
    val offset = Layers.clockOffsetNs()
    var streamSpan = 0L
    val traced = measure(ctx, "table-traced", body => Layers.call(spark, tracer, "stream", "bench") {
      Layers.callId(spark, tracer, "StreamingExtract.start", "streaming") { id =>
        streamSpan = id
        body
      }
    })
    spark.sparkContext.removeSparkListener(jobs)
    spark.streams.removeListener(batchesL)
    val (_, tbs) = traced.getOrElse(return)
    val tracedS = wallS(tbs)
    val untracedS = wallS(plain)
    // measured batches only: the warm batches' jobs are set-up
    val measuredIds = tbs.map(_.batchId).toSet
    val extraction = jobs.allJobs.filter(_.batchId.exists(measuredIds)).map(_.jobId).toSet
    val measuredJobs = jobs.allJobs.filter(j => extraction.contains(j.jobId))
    val measuredStages = jobs.allStages.filter(s => extraction.contains(s.jobId))
    val sparkLayer = Layers.sparkMetrics(measuredStages, measuredJobs, measuredStages)
    ListenerSpans.emit(tracer, jobs.allJobs, jobs.allStages, batchesL.all, streamSpan, offset)

    val table = ctx.dir("table-traced")
    val rows = committed(spark, table).filter(col("batch").isin(measuredIds.toSeq: _*))
    val nRows = rows.count()
    val counts = rows.groupBy("engine", "status").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val roots = tbs.map(b => StreamingExtract.batchRoot(table, b.batchId))
    // per batch: addBatch time not covered by that batch's Spark jobs —
    // the commit (renames, ledger, snapshot, metadata) plus planning
    val jobMsByBatch = measuredJobs.groupBy(_.batchId.get).map { case (b, js) => b -> js.map(j => j.endMs - j.startMs).sum }
    val commitS = tbs.map(b => math.max(0L, b.durations.getOrElse("addBatch", 0L) - jobMsByBatch.getOrElse(b.batchId, 0L))).sum / 1e3
    def medianDur(k: String) = Stats.median(plain.map(_.durations.getOrElse(k, 0L).toDouble))

    val scanJobs = new JobListener
    spark.sparkContext.addSparkListener(scanJobs)
    val s0 = System.nanoTime()
    Layers.call(spark, tracer, "scan", "spark")(OpsSweep.materialize(spark.read.parquet(ctx.dir("stream-in"))))
    val scanS = (System.nanoTime() - s0) / 1e9
    spark.sparkContext.removeSparkListener(scanJobs)
    ListenerSpans.emit(tracer, scanJobs.allJobs, scanJobs.allStages, Nil, 0L, offset)

    val pages = spark.read.parquet(ctx.dir("stream-in")).as[PageRow](Encoders.product[PageRow])
    val sample = KernelPass.sample(ctx.seed, pages, pages.count(), KernelSample)
    val kernel = KernelPass.run(tracer, sample, ctx.out)

    Layers.report(ctx.out, sparkLayer ++ kernel ++ Layers.statusCounts(counts) ++ Layers.selfTimes(tracer.all) ++ Map(
      "scan.wall_s" -> scanS, "scan.bytes" -> Oracle.treeBytes(ctx.dir("stream-in")).toDouble,
      "dedup.rows_out" -> nRows.toDouble,
      "dedup.kept_ratio" -> (if (sparkLayer("dedup.rows_in") > 0) nRows / sparkLayer("dedup.rows_in") else 0.0),
      "commit.wall_s" -> commitS,
      "commit.files" -> roots.map(Oracle.dataFiles).sum.toDouble,
      "commit.buckets" -> roots.map(r => LakehouseIO.bucketLedgers(r).size).sum.toDouble,
      "stream.add_batch_ms" -> medianDur("addBatch"),
      "stream.query_planning_ms" -> medianDur("queryPlanning"),
      "stream.get_batch_ms" -> medianDur("getBatch"),
      "stream.wal_commit_ms" -> medianDur("walCommit"),
      "table.bytes_per_doc" -> (if (nRows > 0) roots.map(Oracle.dataBytes).sum.toDouble / nRows else 0.0),
      "trace.untraced_s" -> untracedS, "trace.traced_s" -> tracedS,
      "trace.overhead_s" -> (tracedS - untracedS),
    ))
    latencyContext(ctx, plain)
    ctx.out.context("kernel_sample_pages") = sample.size
    Layers.writeSpans(ctx, tracer)
  }
}
