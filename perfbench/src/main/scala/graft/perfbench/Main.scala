package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** What one workload run reports. End-to-end metrics go into `metrics`
  * on untraced runs; per-layer metrics on traced runs. `context` carries
  * everything else a reader needs (probe, sample counts, input shape).
  */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  var wrongRows = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val context = mutable.LinkedHashMap.empty[String, Any]

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def problem(msg: String): Unit = problems += msg
  def correct: Boolean = wrongRows == 0 && failed == 0 && problems.isEmpty

  /** Run one operation; a throw counts as failed and never as a timing. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        failed += 1
        problem(s"$what failed: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
        None
    }
  }
}

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: Path, out: Path)

/** Harness entry point: one workload, one seed, one session. */
object Main {

  val Workloads: Map[String, Workload] = Map(
    "crawl_batch" -> CrawlBatch,
    "stream_microbatch" -> StreamMicrobatch,
    "ops_sweep" -> OpsSweep,
  )

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")), Paths.get(need("out")))
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  /** The session `ExtractMain.main` builds (AQE on, 32 shuffle
    * partitions), at local[nproc]; only working directories differ.
    */
  def session(work: Path): SparkSession =
    SparkSession.builder()
      .appName("graft-extract")
      .master(s"local[${Runtime.getRuntime.availableProcessors()}]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString)
      .getOrCreate()

  /** Peak resident memory from construction to [[stopMb]]: a daemon
    * thread samples `VmRSS` from /proc/self/status every 20 ms.
    */
  final class RssPeak {
    @volatile private var running = true
    @volatile private var peakKb = 0L
    private val sampler = new Thread(() => while (running) {
      peakKb = math.max(peakKb, readStatusKb("VmRSS"))
      Thread.sleep(20)
    }, "perfbench-rss")
    sampler.setDaemon(true)
    sampler.start()

    def stopMb(): Double = {
      running = false
      sampler.join()
      math.max(peakKb, readStatusKb("VmRSS")) / 1024.0
    }
  }

  private def readStatusKb(key: String): Long =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith(key + ":"))
      line.map(_.split("\\s+")(1).toLong).getOrElse(0L)
    } catch { case _: Throwable => 0L }

  private val started = System.nanoTime()

  /** Progress line on stderr, stamped with seconds since start. */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${(System.nanoTime() - started) / 1e9}%7.2f s] $msg")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    val outcome = new Outcome
    val wl = Workloads(a.workload)
    val probe0 = Probe.run()
    val t0 = System.nanoTime()
    val spark = session(a.work)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    log(s"session ready; ${a.workload} seed ${a.seed} trace ${a.trace}")
    try {
      val ctx = new Ctx(spark, a, outcome, sessionS)
      if (a.trace) wl.traced(ctx) else wl.untraced(ctx)
    } catch {
      case e: Throwable =>
        outcome.failed += 1
        outcome.attempted = math.max(outcome.attempted, 1)
        outcome.problem(s"workload aborted: $e")
        e.printStackTrace()
    } finally {
      log("workload done")
      spark.stop()
    }
    val probe1 = Probe.run()
    log("stopped")
    outcome.context("probe_alu_ns_per_op") = Seq(probe0.aluNsPerOp, probe1.aluNsPerOp)
    outcome.context("probe_mem_ns_per_byte") = Seq(probe0.memNsPerByte, probe1.memNsPerByte)
    outcome.context("failed_ratio") =
      if (outcome.attempted > 0) outcome.failed.toDouble / outcome.attempted else 0.0
    outcome.context("wrong_rows") = outcome.wrongRows
    outcome.context("problems") = outcome.problems.toSeq
    val result = Json.obj(Seq(
      "correct" -> outcome.correct,
      "attempted" -> math.max(outcome.attempted, 1L),
      "failed" -> outcome.failed,
      "metrics" -> outcome.metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "context" -> outcome.context,
    ))
    Files.write(a.out, (result + "\n").getBytes("UTF-8"))
  }
}

/** Everything a workload needs from the harness. */
final class Ctx(val spark: SparkSession, val args: Args, val out: Outcome, val sessionS: Double) {
  def seed: Long = args.seed
  def dir(name: String): String = args.work.resolve(name).toString
  private var clockNs = System.nanoTime()
  /** Start the measurement clock; [[timeLeft]] counts `--seconds` from here. */
  def startClock(): Unit = { Main.log("set-up done, clock started"); clockNs = System.nanoTime() }
  def timeLeft: Boolean = System.nanoTime() - clockNs < args.seconds * 1000000000L
  /** Run `pass(i)` for i = 0, 1, ... at least `min` times and then while
    * the clock runs; stops at the first pass that yields None.
    */
  def repeat[T](min: Int)(pass: Int => Option[T]): Vector[T] = {
    val out = Vector.newBuilder[T]
    var i = 0
    var going = true
    while (going && (i < min || timeLeft)) {
      pass(i) match { case Some(t) => out += t; case None => going = false }
      i += 1
    }
    out.result()
  }
  def rm(path: String): Unit = Files.walk(Paths.get(path)).sorted(java.util.Comparator.reverseOrder())
    .forEach(p => Files.delete(p))
}

/** A benchmark workload: an untraced run reports end-to-end metrics, a
  * traced run the per-layer ones.
  */
trait Workload {
  def untraced(ctx: Ctx): Unit
  def traced(ctx: Ctx): Unit
}
