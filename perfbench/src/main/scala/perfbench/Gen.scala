package perfbench

import org.apache.spark.sql.types._

/** One change to one row of one source table. `None` values are columns
  * the event does not carry: an UPDATE sends only what changed (partial
  * update), a DELETE sends only the key. */
final case class Change(table: String, op: String, id: Long, ts: Long,
    name: Option[String], qty: Option[Long], price: Option[Double],
    status: Option[String])

/** One envelope line of the generated backlog. `kind` is what the
  * pipeline should do with it: "change" (merge), "late" (quarantine to
  * `_late`), "heartbeat" (drop) or "poison" (dead-letter to `_dlq`). */
final case class Line(text: String, kind: String, change: Option[Change])

/** What a caller varies in the generator: the key space per table and the
  * shares of non-change lines. Shares are per generated line. */
final case class GenParams(
    keys: Int = 5000,
    heartbeatShare: Double = 0.01,
    poisonShare: Double = 0.002,
    lateShare: Double = 0.002)

/** Seeded change-event generator: Zipf-skewed keys over [[Gen.Tables]]
  * tables, inserts for absent keys, partial updates or deletes for live
  * ones, and heartbeat, poison and late lines at fixed shares. Everything
  * is a function of the seed, so a seed names one backlog exactly. */
final class Gen(seed: Long, p: GenParams) {
  import Gen._
  private val rnd = new java.util.Random(seed)
  private val tableNames = (0 until Tables).map(t => s"t$t")
  private val live = Array.fill(Tables)(new Array[Boolean](p.keys))
  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(p.keys)(k => 1.0 / math.pow(k + 1, ZipfS))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).drop(1).map(_ / total)
  }
  private var clock = StartTs

  private def zipfKey(): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, rnd.nextDouble())
    math.min(if (i >= 0) i else -i - 1, p.keys - 1)
  }

  private def fullRow(t: Int, id: Long, ts: Long, op: String): Change =
    Change(tableNames(t), op, id, ts, Some(s"${Words(rnd.nextInt(Words.size))}-${rnd.nextInt(1000)}"),
      Some(rnd.nextInt(10000).toLong), Some(rnd.nextInt(1000000) / 100.0),
      Some(Statuses(rnd.nextInt(Statuses.size))))

  private def partial(c: Change): Change = {
    def keep[A](v: Option[A]) = if (rnd.nextDouble() < NullShare) None else v
    val u = c.copy(name = keep(c.name), qty = keep(c.qty), price = keep(c.price),
      status = keep(c.status))
    if (u.name.isEmpty && u.qty.isEmpty && u.price.isEmpty && u.status.isEmpty)
      u.copy(qty = c.qty) else u
  }

  /** The seeded base snapshot: every key is live with [[Gen.LiveShare]];
    * all base rows predate every generated event. Marks those keys live. */
  def baseSnapshot(): Seq[Change] =
    for (t <- 0 until Tables; k <- 0 until p.keys if rnd.nextDouble() < LiveShare)
      yield {
        live(t)(k) = true
        fullRow(t, k, BaseTs + k, ChangeOpInsert)
      }

  /** The next envelope line. */
  def next(): Line = {
    clock += 1000 // 1 ms of commit time per line keeps timestamps unique
    val r = rnd.nextDouble()
    if (r < p.heartbeatShare)
      Line(s"""{"topic":"heartbeat.scylla-cluster","operation":"HEARTBEAT","commit_timestamp":$clock}""",
        "heartbeat", None)
    else if (r < p.heartbeatShare + p.poisonShare)
      Line(s"""{"topic":"scylla-cluster.app_data.${tableNames(rnd.nextInt(Tables))}","operation":"UPD""",
        "poison", None)
    else if (r < p.heartbeatShare + p.poisonShare + p.lateShare) {
      // an out-of-order update far behind the high-water mark
      val t = rnd.nextInt(Tables)
      val c = partial(fullRow(t, zipfKey(), clock - LateByMicros, ChangeOpUpdate))
      Line(toJson(c), "late", Some(c))
    } else {
      val t = rnd.nextInt(Tables)
      val k = zipfKey()
      val c =
        if (!live(t)(k)) { live(t)(k) = true; fullRow(t, k, clock, ChangeOpInsert) }
        else if (rnd.nextDouble() < DeleteShare) {
          live(t)(k) = false
          Change(tableNames(t), ChangeOpDelete, k, clock, None, None, None, None)
        } else partial(fullRow(t, k, clock, ChangeOpUpdate))
      Line(toJson(c), "change", Some(c))
    }
  }

  def tables: Seq[String] = tableNames
}

object Gen {
  /** The generator's fixed shape. These values are chosen, not measured
    * from a real change stream: a skew that gives hot keys many updates
    * per batch, a delete share that keeps about half of the touched keys
    * live, and partial updates that drop about half of their columns. */
  val Tables = 2
  val ZipfS = 1.1
  val LiveShare = 0.6
  val DeleteShare = 0.15
  val NullShare = 0.5
  val ChangeOpInsert = "INSERT"
  val ChangeOpUpdate = "UPDATE"
  val ChangeOpDelete = "DELETE"
  val StartTs: Long = 1700000000000000L
  /** Base rows commit in the second before the first event; merging the
    * base sets the pipeline's high-water mark, so late lines quarantine
    * from the first batch on. */
  val BaseTs: Long = StartTs - 1000000L
  /** Late lines trail the clock by two hours; the pipeline runs with a
    * one-hour watermark delay. */
  val LateByMicros: Long = 2L * 3600 * 1000000
  val WatermarkDelay = "1 hour"
  val WatermarkDelayMicros: Long = 3600L * 1000000
  val Topic = "scylla-cluster.app_data."
  private val Words = Vector("alpha", "bravo", "cedar", "delta", "ember", "fjord",
    "gale", "harbor", "iris", "jade", "kite", "lumen", "moss", "nova", "opal", "pike")
  private val Statuses = Vector("new", "active", "hold", "closed")

  /** The flat envelope schema the pipeline parses each line with. */
  val EnvelopeSchema: StructType = StructType(Seq(
    StructField("topic", StringType),
    StructField("operation", StringType),
    StructField("commit_timestamp", LongType),
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("qty", LongType),
    StructField("price", DoubleType),
    StructField("status", StringType)))

  /** Warehouse columns, in the order [[Model.canonical]] reads them. */
  val RowColumns: Seq[String] = Seq("id", "commit_timestamp", "name", "qty", "price", "status")

  def toJson(c: Change): String = {
    val sb = new StringBuilder
    sb ++= s"""{"topic":"$Topic${c.table}","operation":"${c.op}","commit_timestamp":${c.ts},"id":${c.id}"""
    c.name.foreach(v => sb ++= s""","name":"$v"""")
    c.qty.foreach(v => sb ++= s""","qty":$v""")
    c.price.foreach(v => sb ++= s""","price":$v""")
    c.status.foreach(v => sb ++= s""","status":"$v"""")
    sb += '}'
    sb.result()
  }
}
