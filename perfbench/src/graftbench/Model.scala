package graftbench

import org.apache.spark.sql.{DataFrame, Row}

import scala.util.hashing.MurmurHash3

/** Canonical text of a cell and an order-independent table fingerprint,
  * computed the same way over Spark rows and over model rows.
  */
object Canon {
  val Null = "∅"

  def cell(v: Any): String = v match {
    case null => Null
    case d: java.sql.Date => d.toLocalDate.toString
    case t: java.sql.Timestamp => micros(t.toInstant).toString
    case b: java.math.BigDecimal => b.toPlainString
    case x => x.toString
  }

  def micros(i: java.time.Instant): Long = i.getEpochSecond * 1000000L + i.getNano / 1000

  /** 64-bit hash of a row given as (column, canonical cell) pairs. */
  def rowHash(cells: Seq[(String, String)]): Long = {
    val s = cells.sortBy(_._1).map { case (c, v) => s"$c=$v" }.mkString("\u0001")
    (MurmurHash3.stringHash(s, 17).toLong << 32) | (MurmurHash3.stringHash(s, 91).toLong & 0xffffffffL)
  }

  /** (rows, Σ hash, xor hash) — equal for equal multisets of rows. */
  final case class Fingerprint(rows: Long, sum: Long, xor: Long) {
    def +(h: Long): Fingerprint = Fingerprint(rows + 1, sum + h, xor ^ h)
    def ++(o: Fingerprint): Fingerprint = Fingerprint(rows + o.rows, sum + o.sum, xor ^ o.xor)
  }
  val Empty = Fingerprint(0, 0, 0)

  def fingerprint(df: DataFrame): Fingerprint = {
    val cols = df.columns
    df.rdd.mapPartitions { it =>
      Iterator(it.foldLeft(Empty)((f, r: Row) => f + rowHash(cols.indices.map(i => cols(i) -> cell(r.get(i))))))
    }.fold(Empty)(_ ++ _)
  }

  def cells(r: Row, cols: Seq[String]): Seq[(String, String)] =
    cols.map(c => c -> cell(r.get(r.fieldIndex(c))))
}

/** Reference fold of a CDC stream onto its target tables, with the
  * reference's merge semantics:
  *  - per topic, schema pairs apply in ascending value-schema id order;
  *  - within a pair, only the highest-LSN change per pk survives
  *    (in-batch duplicates carry equal LSNs and equal payloads);
  *  - an upsert applies when the key is absent or its stored LSN is
  *    strictly lower (a tie keeps the stored row);
  *  - a change whose `__deleted` is the string 'true' removes the key,
  *    matched on pk only, with no LSN guard.
  */
final class Model {
  final case class Entry(lsn: Long, vid: Int, seed: Long)

  private val state = Array.fill(3)(new java.util.HashMap[Int, Entry])

  /** Rows the last [[apply]] upserted or deleted (after dedup). */
  var changedRows = 0L

  def apply(b: Batch): Unit = {
    changedRows = 0L
    for (t <- 0 until 3) {
      val idx = (0 until b.n).filter(j => b.table(j) == t)
      idx.groupBy(b.vid(_)).toSeq.sortBy(_._1).foreach { case (_, js) =>
        val latest = scala.collection.mutable.HashMap.empty[Int, Int]
        js.foreach { j =>
          latest.get(b.id(j)) match {
            case Some(cur) if b.lsn(cur) >= b.lsn(j) => ()
            case _ => latest(b.id(j)) = j
          }
        }
        latest.valuesIterator.foreach { j =>
          changedRows += 1
          if (b.del(j)) state(t).remove(b.id(j))
          else {
            val cur = state(t).get(b.id(j))
            if (cur == null || cur.lsn < b.lsn(j)) state(t).put(b.id(j), Entry(b.lsn(j), b.vid(j), b.seed(j)))
          }
        }
      }
    }
  }

  def count(t: Int): Long = state(t).size.toLong

  def get(t: Int, id: Int): Option[Entry] = Option(state(t).get(id))

  /** Canonical target row: decoded columns minus `__deleted`, plus the
    * derived `year`/`month` partition columns.
    */
  def row(t: Int, id: Int, e: Entry): Seq[(String, String)] = {
    val tbl = SrcTable.All(t)
    val vals = SrcTable.values(t, id, e.vid, e.seed)
    val day = SrcTable.createdDay(id, t)
    val date = java.time.LocalDate.ofEpochDay(day.toLong)
    tbl.fields(e.vid).zip(vals).map { case ((n, k), v) =>
      n -> (k match {
        case Kind.DateK => date.toString
        case Kind.MoneyK => java.math.BigDecimal.valueOf(v.asInstanceOf[Long], 2).toPlainString
        case _ => v.toString
      })
    } ++ Seq(
      "__timestamp" -> (SrcTable.BaseMillis + e.lsn).toString,
      "__log_sequence_number" -> e.lsn.toString,
      "year" -> date.getYear.toString,
      "month" -> date.getMonthValue.toString)
  }

  /** Fingerprint of the table the model predicts, over `cols` (the
    * target's columns; a column the row's schema version lacks is null).
    */
  def fingerprint(t: Int, cols: Seq[String]): Canon.Fingerprint = {
    var f = Canon.Empty
    state(t).forEach { (id, e) =>
      val m = row(t, id, e).toMap
      f = f + Canon.rowHash(cols.map(c => c -> m.getOrElse(c, Canon.Null)))
    }
    f
  }

  private val AmountAt = SrcTable.Orders.fields(21).indexWhere(_._1 == "total_amount")

  /** (rows, Σ cents of `total_amount`) of orders in one partition. */
  def ordersIn(year: Int, month: Int): (Long, Long) = {
    var n = 0L
    var cents = 0L
    state(1).forEach { (id, e) =>
      val d = java.time.LocalDate.ofEpochDay(SrcTable.createdDay(id, 1).toLong)
      if (d.getYear == year && d.getMonthValue == month) {
        n += 1
        cents += SrcTable.values(1, id, e.vid, e.seed)(AmountAt).asInstanceOf[Long]
      }
    }
    (n, cents)
  }

  def maxId(t: Int): Int = {
    var m = 0
    state(t).keySet().forEach(k => m = math.max(m, k))
    m
  }
}
