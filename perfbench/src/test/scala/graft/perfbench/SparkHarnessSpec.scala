package graft.perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.gen.PagesGen
import graft.spark.{ExtractConf, ExtractPipeline}

/** Harness behaviour that needs a session: full materialization, the
  * generator's determinism and the by-construction oracle.
  */
class SparkHarnessSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var tmp: Path = _

  override def beforeAll(): Unit = {
    tmp = Files.createTempDirectory("perfbench-spec")
    spark = SparkSession.builder().master("local[2]").appName("perfbench-spec")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
  }

  override def afterAll(): Unit = {
    spark.stop()
    Files.walk(tmp).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
  }

  test("materialize evaluates every projected expression of every row; count() does not") {
    val seen = spark.sparkContext.longAccumulator("udf rows")
    val counting = udf { (x: Long) => seen.add(1); x * 2 }
    val df = spark.range(0, 5000, 1, 4).select(col("id"), counting(col("id")).as("twice"))
    df.count()
    val afterCount = seen.value
    OpsSweep.materialize(df)
    assert(seen.value - afterCount == 5000, "the noop write must run the UDF on every row")
    assert(afterCount < 5000, "count() prunes the projection, which is why the harness never times it")
  }

  private def bytesOf(rows: Seq[graft.spark.PageRow]): Seq[(String, Long, Seq[Byte])] =
    rows.map(r => (r.url, r.warc_ts.getTime, r.html.toSeq))

  test("the same seed gives identical corpus bytes; another seed another re-crawl set") {
    val ids = 0L until 3000L
    val a = ids.flatMap(Corpus.pagesOf(7, _))
    val b = ids.flatMap(Corpus.pagesOf(7, _))
    assert(bytesOf(a) == bytesOf(b))
    val recrawl7 = ids.filter(Corpus.isRecrawled(7, _)).toSet
    val recrawl8 = ids.filter(Corpus.isRecrawled(8, _)).toSet
    assert(recrawl7 != recrawl8)
    assert(math.abs(recrawl7.size - 300) < 60, s"~10% re-crawled, got ${recrawl7.size}")
    assert(StreamMicrobatch.fileRanges(7) == StreamMicrobatch.fileRanges(7))
    assert(StreamMicrobatch.docs(7) == StreamMicrobatch.docs(8), "every seed stages the same documents")
    // distributed generation writes the same rows as the pure function
    val dir = tmp.resolve("pages").toString
    Corpus.writePages(spark, 7, 0, 3000, 3, dir)
    val s = spark
    import s.implicits._
    val written = spark.read.parquet(dir).as[graft.spark.PageRow].collect().toSeq
    assert(bytesOf(written).sortBy(r => (r._1, r._2)) == bytesOf(a).sortBy(r => (r._1, r._2)))
  }

  test("op tables are a pure function of the seed") {
    def tables(seed: Long, name: String) = {
      val dir = tmp.resolve(s"ops-$seed-$name").toString
      Corpus.writeOpsTables(spark, seed, dir)
      Seq("customer", "documents", "embeddings", "events", "lineitem", "nation", "orders", "part",
        "region", "supplier").map(t => t -> spark.read.parquet(s"$dir/$t.parquet").collect().toSeq.map(_.toString))
    }
    val a = tables(3, "a")
    assert(a == tables(3, "b"))
    assert(a != tables(4, "a"))
    assert(a.toMap.apply("lineitem").size == 6000 && a.toMap.apply("orders").size == 1500)
  }

  test("the oracle's expectation equals the kernel's output, document by document") {
    val conf = ExtractConf()
    val mismatches = (0L until 4000L).filter { id =>
      val page = Corpus.pagesOf(11, id).last // the newest capture is the one that must win
      val statusPre = if (page.html.length > conf.maxBytes) "rejected_size" else null
      val r = ExtractPipeline.Kernel.process(page.url, page.html, statusPre, 0, conf)
      val e = Corpus.expected(11, id)
      (r.url, r.status, r.text, r.pages) != (e.url, e.status, e.text, e.pages)
    }
    assert(mismatches.isEmpty, s"first mismatching doc ids: ${mismatches.take(5)}")
    assert((0L until 4000L).map(PagesGen.kindOf).toSet == Set("html", "pdf", "junk", "oversize"))
  }

  test("the oracle counts wrong, missing and extra rows") {
    val s = spark
    import s.implicits._
    val good = (0L until 200L).map(Corpus.expected(5, _))
    def df(rows: Seq[Corpus.Expected]) = rows.toDF("url", "status", "text", "pages")
    assert(Oracle.wrongRows(spark, 5, 0, 200, df(good)) == 0)
    val bad = good.updated(3, good(3).copy(text = good(3).text + "x"))
      .filterNot(_ == good(7)) :+ good(9) :+ Corpus.Expected("https://nowhere/doc/x", "ok", "", 1)
    // one changed, one missing, one repeated, one unexpected
    assert(Oracle.wrongRows(spark, 5, 0, 200, df(bad)) == 4)
  }
}
