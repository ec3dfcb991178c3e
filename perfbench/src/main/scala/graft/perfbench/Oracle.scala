package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import graft.spark.LakehouseIO

/** By-construction correctness checks on what the program committed. */
object Oracle {

  /** Committed rows that differ from the generator's expectation in
    * status, text or pages, plus missing urls and extra (unexpected or
    * repeated) rows. Expectations come from [[Corpus.expected]] only.
    */
  def wrongRows(spark: SparkSession, seed: Long, from: Long, until: Long, committed: DataFrame): Long = {
    import spark.implicits._
    val exp = spark.range(from, until).as[Long].map(id => Corpus.expected(seed, id))
      .toDF("url", "e_status", "e_text", "e_pages")
    val got = committed.select("url", "status", "text", "pages")
    val j = exp.join(got, Seq("url"), "full_outer")
    j.filter(!(col("e_status") <=> col("status") && col("e_text") <=> col("text") &&
      col("e_pages") <=> col("pages"))).count() +
      // a url committed twice matches the oracle once; the repeat is extra
      (got.count() - got.select("url").distinct().count())
  }

  /** Ledger ↔ data parity of one committed table root: the per-bucket
    * ledger row counts sum to the committed rows, every ledgered bucket
    * with rows has a data dir, and (when `buckets` is given) no bucket
    * is missing. Returns problems found.
    */
  def ledgerProblems(root: String, committedRows: Long,
      buckets: Option[Int]): Seq[String] = {
    val ledgers = LakehouseIO.bucketLedgers(root)
    val sum = ledgers.map(_.rows).sum
    val dataDirs = {
      val d = new java.io.File(LakehouseIO.dataDir(root).toString)
      Option(d.list()).getOrElse(Array.empty[String]).filter(_.startsWith("bucket="))
        .map(_.stripPrefix("bucket=").toInt).toSet
    }
    Seq(
      if (sum != committedRows) Some(s"$root: ledger rows $sum != committed rows $committedRows") else None,
      ledgers.filter(l => l.rows > 0 && !dataDirs.contains(l.bucket)).map(_.bucket) match {
        case Seq() => None
        case bs    => Some(s"$root: ledgered buckets without data: ${bs.mkString(",")}")
      },
      buckets.flatMap { n =>
        val missing = (0 until n).filterNot(ledgers.map(_.bucket).toSet)
        if (missing.isEmpty) None else Some(s"$root: missing buckets ${missing.mkString(",")}")
      },
    ).flatten
  }

  private def files(dir: String, suffix: String): Vector[java.nio.file.Path] = {
    val base = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(base)) Vector.empty
    else {
      val s = java.nio.file.Files.walk(base)
      try s.iterator().asScala.filter(p => java.nio.file.Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(suffix)).toVector
      finally s.close()
    }
  }

  /** Bytes of committed data files under a table's data dir. */
  def dataBytes(root: String): Long =
    files(LakehouseIO.dataDir(root).toString, ".parquet").map(java.nio.file.Files.size).sum

  def dataFiles(root: String): Long = files(LakehouseIO.dataDir(root).toString, ".parquet").size.toLong

  /** Bytes of the parquet files under `dir`. */
  def treeBytes(dir: String): Long = files(dir, ".parquet").map(java.nio.file.Files.size).sum
}
