package graft.perfbench

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.gen.{HtmlGen, PagesGen, PdfGen}
import graft.spark.PageRow

/** Seeded corpus synthesis (the `gen` layer). Every byte is a pure
  * function of (seed, id), so a seed rebuilds the same inputs anywhere
  * and the oracle can re-derive every expected output without reading
  * what the program wrote.
  *
  * Documents: the word vocabulary, language and length distribution of
  * the repository's `documents` test tables (10-100 words of a 31-word
  * vocabulary). Pages: one [[PagesGen.row]] per document, so the kind
  * mix is PagesGen's (~85% HTML over families A/B/C, ~9% PDF, ~6% junk
  * or oversize), plus a seed-chosen ~10% of urls captured a second time
  * with a later `warc_ts` and different text (the re-crawl wins).
  */
object Corpus {

  val Vocab: Array[String] = Array("a", "agg", "batch", "big", "column", "customer",
    "data", "dup", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")
  val Langs: Array[String] = Array("en", "de", "es", "fr", "zh")

  /** Re-crawl share, in percent of urls. */
  val RecrawlPct = 10
  /** The re-crawl lands this much later than the first capture. */
  val RecrawlDelayMs: Long = 7L * 24 * 3600 * 1000

  /** splitmix64 finaliser: a well-mixed 64-bit hash of (seed, salt, id). */
  def mix(seed: Long, salt: Long, id: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + salt * 0xBF58476D1CE4E5B9L + id + 0x632BE59BD9B4E5L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def below(h: Long, n: Int): Int = java.lang.Long.remainderUnsigned(h, n.toLong).toInt

  /** Document text; `version` 0 is the first capture, 1 the re-crawl. */
  def text(seed: Long, docId: Long, version: Int = 0): String = {
    val salt = 11L + version
    val n = 10 + below(mix(seed, salt, docId), 91)
    val sb = new java.lang.StringBuilder(n * 6)
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(Vocab(below(mix(seed, salt * 1000003L + i, docId), Vocab.length)))
      i += 1
    }
    sb.toString
  }

  def lang(seed: Long, docId: Long): String = Langs(below(mix(seed, 7L, docId), Langs.length))

  def isRecrawled(seed: Long, docId: Long): Boolean = below(mix(seed, 3L, docId), 100) < RecrawlPct

  /** The text the committed row must be extracted from: the newest capture. */
  def finalText(seed: Long, docId: Long): String =
    text(seed, docId, if (isRecrawled(seed, docId)) 1 else 0)

  /** All captures of one document, first capture first. */
  def pagesOf(seed: Long, docId: Long): Seq[PageRow] = {
    val lg = lang(seed, docId)
    val first = PagesGen.row(docId, text(seed, docId), lg)
    if (!isRecrawled(seed, docId)) Seq(first)
    else Seq(first, first.copy(
      warc_ts = new Timestamp(first.warc_ts.getTime + RecrawlDelayMs),
      html = PagesGen.payload(docId, text(seed, docId, 1), lg)))
  }

  /** Pages for documents [from, until), generated inside tasks. Rows are
    * shuffled within each partition by a seeded key so a re-crawl is not
    * always adjacent to its first capture.
    */
  def pages(spark: SparkSession, seed: Long, from: Long, until: Long, parts: Int): Dataset[PageRow] = {
    import spark.implicits._
    spark.range(from, until, 1, parts).as[Long].mapPartitions { ids =>
      ids.flatMap(id => pagesOf(seed, id)).toVector
        .sortBy(p => mix(seed, 5L, p.url.hashCode.toLong ^ p.warc_ts.getTime)).iterator
    }
  }

  def writePages(spark: SparkSession, seed: Long, from: Long, until: Long, parts: Int, dir: String): Unit =
    pages(spark, seed, from, until, parts).write.mode("overwrite").parquet(dir)

  /** Expected committed (status, text, pages) of one document — derived
    * from the generator relations alone, never from the kernel.
    */
  final case class Expected(url: String, status: String, text: String, pages: Int)

  def expected(seed: Long, docId: Long): Expected = {
    val url = PagesGen.urlOf(docId)
    val t = finalText(seed, docId)
    PagesGen.kindOf(docId) match {
      case "junk"     => Expected(url, "rejected_format", "", 0)
      case "oversize" => Expected(url, "rejected_size", "", 0)
      case "pdf"      => Expected(url, "ok", PdfGen.expectedText(t), PdfGen.expectedPages(t))
      case _ =>
        val exp = HtmlGen.familyOf(docId) match {
          case "B" => HtmlGen.expectedTextB(t)
          case "C" => HtmlGen.expectedTextC(t)
          case _   => HtmlGen.expectedText(t)
        }
        Expected(url, "ok", exp, 1)
    }
  }

  // ------------------------------------------------------------ op tables

  /** The tables `SparkEntry.queries` read, at the sf0.001 shape of the
    * repository's test corpora: same names, column names, types and value domains,
    * row counts and key ranges; contents drawn from the seed.
    */
  def writeOpsTables(spark: SparkSession, seed: Long, dir: String): Unit = {
    def u(salt: Long, id: Long): Double = (mix(seed, salt, id) >>> 11).toDouble / (1L << 53)
    def pick[T](xs: Array[T], salt: Long, id: Long): T = xs(below(mix(seed, salt, id), xs.length))
    def int(salt: Long, id: Long, lo: Int, hi: Int): Int = lo + below(mix(seed, salt, id), hi - lo + 1)
    def money(salt: Long, id: Long, lo: Double, hi: Double): Double =
      math.round((lo + u(salt, id) * (hi - lo)) * 100) / 100.0
    def day(salt: Long, id: Long, from: String, days: Int): Timestamp =
      Timestamp.valueOf(java.time.LocalDate.parse(from).plusDays(int(salt, id, 0, days).toLong).atStartOfDay())
    def write(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def f(n: String, t: DataType) = StructField(n, t)

    write("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex.map { case (n, i) => Row(i, n) })
    write("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))), (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    write("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until 10).map(i => Row(i.toLong, f"Supplier#$i%09d", int(21, i, 0, 24), money(22, i, 500, 9999))))
    val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    write("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until 150).map(i => Row(i.toLong, f"Customer#$i%09d", int(31, i, 0, 24),
        money(32, i, -999, 9999), pick(segments, 33, i))))
    val adjs = Array("blue", "cold", "hot", "large", "new", "old", "red", "small")
    val nouns = Array("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
    val types = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    write("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      (0 until 200).map(i => Row(i.toLong, s"${pick(adjs, 41, i)} ${pick(nouns, 42, i)}",
        s"Brand#${int(43, i, 1, 25)}", pick(types, 44, i), int(45, i, 1, 50), 900.0 + i / 10.0)))
    val statuses = Array("F", "O", "P")
    val prios = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    write("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType), f("o_orderdate", TimestampType),
      f("o_orderpriority", StringType))),
      (0 until 1500).map(i => Row(i.toLong, int(51, i, 0, 149).toLong, pick(statuses, 52, i),
        money(53, i, 1000, 500000), day(54, i, "1995-01-01", 2403), pick(prios, 55, i))))
    // 6000 line items over the 1500 orders, 1-12 lines per order
    val flags = Array("A", "N", "R")
    val lineStatus = Array("F", "O")
    val orderOf = (0 until 6000).map(i => int(61, i, 0, 1499)).sorted
    val lineNo = orderOf.indices.map { i =>
      var k = i; while (k > 0 && orderOf(k - 1) == orderOf(i)) k -= 1
      i - k + 1
    }
    write("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType), f("l_shipdate", TimestampType))),
      (0 until 6000).map { i =>
        Row(orderOf(i).toLong, int(62, i, 0, 199).toLong, int(63, i, 0, 9).toLong, lineNo(i),
          int(64, i, 1, 50).toDouble, money(65, i, 900, 105000), int(66, i, 0, 10) / 100.0,
          int(67, i, 0, 8) / 100.0, pick(flags, 68, i), pick(lineStatus, 69, i),
          day(70, i, "1995-01-02", 2498))
      })
    val evTypes = Array("click", "error", "purchase", "signup", "view")
    val evBase = java.time.LocalDateTime.parse("2024-01-01T00:00:00")
    val evOffsets = (0 until 1000).map(i => (u(71, i) * 30 * 86400 * 1e6).toLong).sorted
    write("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType), f("props", StringType))),
      (0 until 1000).map(i => Row(i.toLong, Timestamp.valueOf(evBase.plusNanos(evOffsets(i) * 1000)),
        int(72, i, 0, 14).toLong, pick(evTypes, 73, i), money(74, i, 0.01, 330),
        s"""{"k": ${int(75, i, 0, 99)}}""")))
    write("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
      (0 until 500).map { i =>
        val t = text(seed, i)
        Row(i.toLong, t, lang(seed, i), s"src${int(81, i, 0, 19)}", t.length.toLong)
      })
    val rnd = new java.util.Random(seed)
    write("embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType, containsNull = true)), f("label", IntegerType))),
      (0 until 500).map { i =>
        val v = Array.fill(64)(rnd.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, int(91, i, 0, 9))
      })
  }
}
