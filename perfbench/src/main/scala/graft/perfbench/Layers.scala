package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Per-layer metrics of a traced run, derived from the benchmark's own
  * listeners and spans. Every traced run reports every name in
  * [[PerLayer]]; a layer a workload does not reach reads 0.
  */
object Layers {

  /** (name, unit, better) — mirrored by BENCHMARK.json's `per_layer`. */
  val PerLayer: Seq[(String, String, String)] = Seq(
    ("scan.wall_s", "s", "lower"), ("scan.bytes", "B", "lower"),
    ("kernel.process_us.html", "us", "lower"), ("kernel.process_us.pdf", "us", "lower"),
    ("kernel.html.decode_us", "us", "lower"), ("kernel.html.build_us", "us", "lower"),
    ("kernel.html.classify_us", "us", "lower"), ("kernel.html.assemble_us", "us", "lower"),
    ("kernel.pdf.parse_us", "us", "lower"), ("kernel.pdf.chunks_us", "us", "lower"),
    ("kernel.pdf.xycut_us", "us", "lower"),
    ("kernel.single_thread_docs_per_sec", "1/s", "higher"),
    ("kernel.docs.html.ok", "count", "higher"), ("kernel.docs.pdf.ok", "count", "higher"),
    ("kernel.docs.none.rejected_format", "count", "lower"),
    ("kernel.docs.none.rejected_size", "count", "lower"),
    ("kernel.docs.other", "count", "lower"),
    ("shuffle.write_bytes", "B", "lower"), ("shuffle.records", "count", "lower"),
    ("shuffle.write_s", "s", "lower"), ("shuffle.fetch_wait_s", "s", "lower"),
    ("shuffle.partitions", "count", "lower"), ("shuffle.skew", "ratio", "lower"),
    ("dedup.rows_in", "count", "lower"), ("dedup.rows_out", "count", "higher"),
    ("dedup.kept_ratio", "ratio", "higher"), ("dedup.spill_bytes", "B", "lower"),
    ("map_stage.run_s", "s", "lower"), ("map_stage.cpu_s", "s", "lower"),
    ("map_stage.gc_s", "s", "lower"), ("write_stage.run_s", "s", "lower"),
    ("write_stage.gc_s", "s", "lower"), ("stage.peak_exec_mem_mb", "MB", "lower"),
    ("task.skew", "ratio", "lower"),
    ("commit.wall_s", "s", "lower"), ("commit.files", "count", "lower"),
    ("commit.buckets", "count", "lower"),
    ("metrics_stage.wall_s", "s", "lower"),
    ("stream.add_batch_ms", "ms", "lower"), ("stream.query_planning_ms", "ms", "lower"),
    ("stream.get_batch_ms", "ms", "lower"), ("stream.wal_commit_ms", "ms", "lower"),
    ("spark.jobs", "count", "lower"), ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("ops.e.wall_s", "s", "lower"), ("ops.t.wall_s", "s", "lower"), ("ops.d.wall_s", "s", "lower"),
    ("ops.p.wall_s", "s", "lower"), ("ops.m.wall_s", "s", "lower"), ("ops.q.wall_s", "s", "lower"),
    ("table.bytes_per_doc", "B", "lower"),
    ("self.bench_s", "s", "lower"), ("self.spark_s", "s", "lower"),
    ("self.streaming_s", "s", "lower"), ("self.datapipe_s", "s", "lower"),
    ("self.job_s", "s", "lower"), ("self.stage_s", "s", "lower"), ("self.core_s", "s", "lower"),
    ("trace.untraced_s", "s", "lower"), ("trace.traced_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
  )

  /** Layers a span can belong to; each gets a `self.<layer>_s` metric. */
  val SpanLayers: Seq[String] = Seq("bench", "spark", "streaming", "datapipe", "job", "stage", "core")

  /** Run `body` as a span whose Spark jobs the listener parents to it. */
  def call[T](spark: SparkSession, tracer: Tracer, name: String, layer: String)(body: => T): T =
    callId(spark, tracer, name, layer)(_ => body)

  /** [[call]], handing `body` its span id. */
  def callId[T](spark: SparkSession, tracer: Tracer, name: String, layer: String)(body: Long => T): T =
    tracer.span(name, layer) { id =>
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(JobListener.SpanProp)
      sc.setLocalProperty(JobListener.SpanProp, id.toString)
      try body(id)
      finally sc.setLocalProperty(JobListener.SpanProp, prev)
    }

  /** Max over median of the non-zero values (a micro-batch leaves most
    * of its shuffle partitions empty; those say nothing about skew).
    */
  def skew(xs: Seq[Long]): Double = {
    val nz = xs.filter(_ > 0)
    if (nz.isEmpty) 0.0 else nz.max / Stats.median(nz.map(_.toDouble))
  }

  private def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** Shuffle, dedup-input, stage and task figures of the given stages
    * (the jobs of the timed extraction, or of the whole sweep), plus
    * job/stage/task counts of `allJobs`.
    */
  def sparkMetrics(stages: Seq[StageRec], allJobs: Seq[JobRec], allStages: Seq[StageRec]): Map[String, Double] = {
    val mapStages = stages.filter(_.sum(_.shuffleWriteBytes) > 0)
    val readStages = stages.filter(_.sum(_.shuffleReadRecords) > 0)
    val writeStages = stages.filter(_.sum(_.outputBytes) > 0)
    Map(
      "shuffle.write_bytes" -> mapStages.map(_.sum(_.shuffleWriteBytes)).sum.toDouble,
      "shuffle.records" -> mapStages.map(_.sum(_.shuffleWriteRecords)).sum.toDouble,
      "shuffle.write_s" -> mapStages.map(_.sum(_.shuffleWriteNs)).sum / 1e9,
      "shuffle.fetch_wait_s" -> readStages.map(_.sum(_.fetchWaitMs)).sum / 1e3,
      "shuffle.partitions" -> medianOr0(readStages.map(_.tasks.size.toDouble)),
      "shuffle.skew" -> medianOr0(readStages.map(s => skew(s.tasks.map(_.shuffleReadBytes)))),
      "dedup.rows_in" -> readStages.map(_.sum(_.shuffleReadRecords)).sum.toDouble,
      "dedup.spill_bytes" -> readStages.map(_.sum(_.diskSpill)).sum.toDouble,
      "map_stage.run_s" -> mapStages.map(_.sum(_.runMs)).sum / 1e3,
      "map_stage.cpu_s" -> mapStages.map(_.sum(_.cpuNs)).sum / 1e9,
      "map_stage.gc_s" -> mapStages.map(_.sum(_.gcMs)).sum / 1e3,
      "write_stage.run_s" -> writeStages.map(_.sum(_.runMs)).sum / 1e3,
      "write_stage.gc_s" -> writeStages.map(_.sum(_.gcMs)).sum / 1e3,
      "stage.peak_exec_mem_mb" -> (if (allStages.isEmpty) 0.0 else allStages.map(_.max(_.peakExecMem)).max / 1048576.0),
      "task.skew" -> medianOr0(mapStages.map(s => skew(s.tasks.map(_.runMs)))),
      "spark.jobs" -> allJobs.size.toDouble,
      "spark.stages" -> allStages.size.toDouble,
      "spark.tasks" -> allStages.map(_.tasks.size).sum.toDouble,
    )
  }

  /** `self.<layer>_s` for every span layer. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val self = Span.selfByLayer(spans)
    SpanLayers.map(l => s"self.${l}_s" -> self.getOrElse(l, 0L) / 1e9).toMap
  }

  /** Kernel status counts by (engine, status), as committed. */
  def statusCounts(counts: Map[(String, String), Long]): Map[String, Double] = {
    val named = Seq(("html", "ok"), ("pdf", "ok"), ("none", "rejected_format"), ("none", "rejected_size"))
    named.map { case (e, s) => s"kernel.docs.$e.$s" -> counts.getOrElse((e, s), 0L).toDouble }.toMap +
      ("kernel.docs.other" -> counts.filter { case (k, _) => !named.contains(k) }.values.sum.toDouble)
  }

  /** Record the traced run's per-layer metrics, defaulting absent ones to 0. */
  def report(out: Outcome, values: Map[String, Double]): Unit = {
    val unknown = values.keySet -- PerLayer.map(_._1)
    require(unknown.isEmpty, s"unlisted per-layer metrics: ${unknown.mkString(",")}")
    PerLayer.foreach { case (name, unit, _) => out.metric(name, values.getOrElse(name, 0.0), unit) }
  }

  /** Epoch-ms → tracer nanoTime offset, for placing listener events. */
  def clockOffsetNs(): Long = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def writeSpans(ctx: Ctx, tracer: Tracer): Unit = {
    val dir = ctx.args.work.getParent.resolve("traces")
    java.nio.file.Files.createDirectories(dir)
    val f = dir.resolve(s"${ctx.args.workload}-seed${ctx.seed}.spans.jsonl")
    tracer.writeJsonl(f)
    ctx.out.context("spans_file") = ctx.args.work.getParent.getParent.relativize(f).toString
    ctx.out.context("spans") = tracer.all.size
  }
}
