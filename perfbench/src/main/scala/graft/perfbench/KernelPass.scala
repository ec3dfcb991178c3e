package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.Dataset
import graft.core._
import graft.spark.{ExtractConf, ExtractPipeline, PageRow}

/** Single-thread pass of the kernel over a sample of a workload's own
  * pages: `ExtractPipeline.Kernel.process` per document (the per-engine
  * cost and the single-thread docs/s baseline), then the same document
  * again phase by phase through the public kernel functions the
  * extractors compose, each phase a span of layer `core`.
  */
object KernelPass {

  /** Seed-chosen sample of about `n` of the `total` pages, picked by url
    * hash inside the scan, so only the sample is collected.
    */
  def sample(seed: Long, pages: Dataset[PageRow], total: Long, n: Int): Seq[PageRow] = {
    val every = math.max(1L, total / math.max(1, n))
    pages.filter(p => java.lang.Long.remainderUnsigned(
      Corpus.mix(seed, 23L, p.url.hashCode.toLong ^ p.warc_ts.getTime), every) == 0).collect().toSeq
  }

  def run(tracer: Tracer, pages: Seq[PageRow], out: Outcome): Map[String, Double] = {
    val conf = ExtractConf()
    val processNs = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val docs = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val phaseNs = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var totalNs = 0L
    var mismatches = 0
    // JIT warm-up of both paths on the sample itself, untimed
    pages.take(200).foreach(p => ExtractPipeline.Kernel.process(p.url, p.html, null, 0, conf))

    def phase[T](engine: String, name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = tracer.span(s"$engine.$name", "core")(_ => body)
      phaseNs(s"$engine.$name") += System.nanoTime() - t0
      r
    }

    tracer.span("kernel pass", "bench") { _ =>
      pages.foreach { p =>
        val statusPre = if (p.html.length > conf.maxBytes) Status.RejectedSize else null
        val t0 = System.nanoTime()
        val r = tracer.span("Kernel.process", "core")(_ =>
          ExtractPipeline.Kernel.process(p.url, p.html, statusPre, 0, conf))
        val dt = System.nanoTime() - t0
        totalNs += dt
        processNs(r.engine) += dt
        docs(r.engine) += 1
        if (r.status == Status.Ok) r.engine match {
          case "html" =>
            val decoded = phase("html", "decode")(Html.decode(p.html))
            val blocks = phase("html", "build")(BlockBuilder.buildStreaming(decoded, Html.Deadline.unlimited))
            val content = phase("html", "classify")(BoilerplateClassifier.classify(blocks, conf.htmlParams))
            val ex = phase("html", "assemble")(HtmlExtractor.assemble(content.map(b => (b.text, b.tagPath))))
            if (ex.text != r.text) mismatches += 1
          case "pdf" =>
            val contents = phase("pdf", "parse") {
              val (objs, trailer) = Pdf.parseFile(p.html)
              Pdf.pageContents(objs, trailer)
            }
            val chunks = phase("pdf", "chunks")(contents.map(c => Pdf.contentChunks(c, Html.Deadline.unlimited)))
            phase("pdf", "xycut")(chunks.map(cs => Pdf.xyCut(cs, conf.pdfParams.xGap, conf.pdfParams.yGap)))
          case _ =>
        }
      }
    }
    if (mismatches > 0) out.problem(s"html phases disagree with Kernel.process on $mismatches docs")
    def perDoc(ns: Long, n: Long) = if (n == 0) 0.0 else ns / 1e3 / n
    Map(
      "kernel.process_us.html" -> perDoc(processNs("html"), docs("html")),
      "kernel.process_us.pdf" -> perDoc(processNs("pdf"), docs("pdf")),
      "kernel.single_thread_docs_per_sec" -> (if (totalNs == 0) 0.0 else pages.size / (totalNs / 1e9)),
    ) ++ Seq("decode", "build", "classify", "assemble").map(ph =>
      s"kernel.html.${ph}_us" -> perDoc(phaseNs(s"html.$ph"), docs("html"))) ++
      Seq("parse", "chunks", "xycut").map(ph =>
        s"kernel.pdf.${ph}_us" -> perDoc(phaseNs(s"pdf.$ph"), docs("pdf")))
  }
}
