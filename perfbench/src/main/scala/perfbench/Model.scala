package perfbench

import scala.collection.mutable

/** The expected warehouse state: a plain-Scala latest-per-key fold with
  * the pipeline's semantics, replayed batch by batch.
  *
  *  - A row whose commit timestamp trails the high-water mark of the base
  *    snapshot and the EARLIER batches by more than the watermark delay is
  *    late: it is counted and never applied.
  *  - Within a batch, changes apply in commit-timestamp order. An INSERT
  *    writes the whole row, an UPDATE overwrites only the columns it
  *    carries (a missing column keeps its value), a DELETE removes the
  *    row. A change older than the stored row is ignored.
  */
final class Model(delayMicros: Long) {
  private val rows = mutable.HashMap.empty[(String, Long), Change]
  private var hwm: Option[Long] = None
  var lateRows = 0L
  var inputRows = 0L
  /** Σ over batches of the distinct keys each batch touches: the rows
    * a latest-per-key collapse leaves to merge. */
  var collapsedRows = 0L

  /** The base snapshot, merged before any batch: its newest commit sets
    * the high-water mark. */
  def load(base: Seq[Change]): Unit = {
    base.foreach(c => rows((c.table, c.id)) = c)
    if (base.nonEmpty) hwm = Some(base.map(_.ts).max)
  }

  def applyBatch(batch: Seq[Change]): Unit = {
    if (batch.isEmpty) return
    inputRows += batch.size
    val (late, current) = hwm match {
      case Some(h) => batch.partition(_.ts < h - delayMicros)
      case None => (Seq.empty, batch)
    }
    lateRows += late.size
    collapsedRows += current.map(c => (c.table, c.id)).distinct.size
    current.sortBy(_.ts).foreach(apply)
    hwm = Some((hwm.toList :+ batch.map(_.ts).max).max)
  }

  private def apply(c: Change): Unit = {
    val k = (c.table, c.id)
    rows.get(k) match {
      case Some(old) if old.ts > c.ts => ()
      case prev =>
        if (c.op == Gen.ChangeOpDelete) rows.remove(k)
        else rows(k) = prev match {
          case Some(old) => Change(c.table, c.op, c.id, c.ts,
            c.name.orElse(old.name), c.qty.orElse(old.qty),
            c.price.orElse(old.price), c.status.orElse(old.status))
          case None => c
        }
    }
  }

  def size: Int = rows.size

  /** The canonical string of every live row. */
  def canonicalRows: Iterator[String] = rows.valuesIterator.map(c =>
    Model.canonical(c.table, c.id, c.ts, c.name, c.qty, c.price, c.status))
}

object Model {
  private def s(v: Option[Any]): String = v.fold("∅")(_.toString)

  def canonical(table: String, id: Long, ts: Long, name: Option[String],
      qty: Option[Long], price: Option[Double], status: Option[String]): String =
    s"$table|$id|$ts|${s(name)}|${s(qty)}|${s(price)}|${s(status)}"

  /** Canonical string of a warehouse row read as [[Gen.RowColumns]]. */
  def canonical(table: String, r: org.apache.spark.sql.Row): String = {
    def opt[A](i: Int): Option[A] = if (r.isNullAt(i)) None else Some(r.get(i).asInstanceOf[A])
    canonical(table, r.getLong(0), r.getLong(1), opt[String](2), opt[Long](3),
      opt[Double](4), opt[String](5))
  }

  /** Order-independent digest of a row set: (count, Σ murmur3 hashes). */
  def digest(rows: Iterator[String]): (Long, Long) =
    rows.foldLeft((0L, 0L)) { case ((n, h), r) =>
      (n + 1, h + (scala.util.hashing.MurmurHash3.stringHash(r).toLong & 0xffffffffL))
    }
}
