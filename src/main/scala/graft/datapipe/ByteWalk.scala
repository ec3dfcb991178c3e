package graft.datapipe

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** The one Spark frame every payload walker in [[TrainingOps]] runs in
  * (the m-family byte walkers: image, audio, video, archive and
  * tensor-shard containers). A walk sees bytes only. The frame selects
  * `doc_id`/`payload`, walks a NULL payload as an empty one, runs inside
  * the scan stage (`mapPartitions` — zero exchange) and emits rows of
  * the walker's declared DDL schema, whose first column is `doc_id`.
  *
  * The walk is a by-name block evaluated once per partition: state a
  * walker needs per partition (a `MessageDigest`) is built in the block
  * before it returns the per-payload function. Column values may be
  * given as `Option`s; `None` is written as NULL. Serializable for the
  * same reason as [[TrainingOps]]: the task closure calls back into it.
  */
private[datapipe] object ByteWalk extends Serializable {

  /** A payload's element rows in walk order, each holding the schema's
    * element columns in order. A walk may update a row it already
    * appended (jpeg patches `ecs_len`) until it returns.
    */
  type Rows = ArrayBuffer[Array[Any]]

  /** One row per payload: `walk` returns every column after `doc_id`,
    * in schema order.
    */
  def perFile(payloads: DataFrame, schema: String)(
      walk: => Array[Byte] => Product): DataFrame = {
    val fileCols = StructType.fromDDL(schema).fieldNames.drop(1)
    elements(payloads, schema, fileCols.toIndexedSeq: _*) {
      val w = walk
      (b, _) => w(b).productIterator.toSeq
    }
  }

  /** Element rows plus file-level columns: `walk` appends one row per
    * element and returns the values of `fileCols` (the terminal status
    * first), which the frame stamps on every element row. A payload
    * with no elements yields one marker row, NULL in every element
    * column; a walker with no file-level columns has nothing to mark,
    * so there it yields no row.
    */
  def elements(payloads: DataFrame, schema: String, fileCols: String*)(
      walk: => (Array[Byte], Rows) => Seq[Any]): DataFrame = {
    val spark = payloads.sparkSession
    import spark.implicits._
    val st = StructType.fromDDL(schema)
    val filePos = fileCols.map(st.fieldIndex).toArray
    val elemPos = (1 until st.length).filterNot(filePos.contains).toArray
    def plain(v: Any): Any = v match {
      case Some(x) => x
      case None => null
      case x => x
    }
    payloads.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val w = walk
        it.flatMap { case (id, raw) =>
          val rows: Rows = ArrayBuffer.empty
          val file = w(if (raw == null) Array.emptyByteArray else raw, rows)
          def row(elem: Array[Any]): Row = {
            val r = new Array[Any](st.length)
            r(0) = id
            for (k <- filePos.indices) r(filePos(k)) = plain(file(k))
            if (elem != null) for (k <- elemPos.indices) r(elemPos(k)) = plain(elem(k))
            new GenericRow(r)
          }
          if (rows.nonEmpty) rows.iterator.map(row)
          else if (filePos.nonEmpty) Iterator.single(row(null))
          else Iterator.empty
        }
      }(Encoders.row(st))
  }
}
