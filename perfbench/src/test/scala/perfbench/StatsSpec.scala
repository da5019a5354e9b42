package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  import Stats._

  test("quantile interpolates linearly between order statistics") {
    assert(quantile(Seq(4.0, 1.0, 3.0, 2.0), 0.5) == 2.5)
    assert(quantile(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 0.9) == 4.6)
    assert(median(Seq(7.0)) == 7.0)
  }

  test("tail percentile: the highest one with at least ten samples beyond it") {
    assert(tailPercentile(1) == 50.0)
    assert(tailPercentile(19) == 50.0)
    assert(tailPercentile(99) == 50.0)   // 9.9 samples beyond p90
    assert(tailPercentile(100) == 90.0)  // exactly 10 beyond p90
    assert(tailPercentile(999) == 90.0)
    assert(tailPercentile(1000) == 99.0)
    assert(tailPercentile(10000) == 99.9)
    val xs = (1 to 1000).map(_.toDouble)
    assert(tail(xs) == (99.0, quantile(xs, 0.99)))
  }

  /** A file source log as the checkpoint holds it: batch 1's file, and a
    * compacted file repeating batches 0 and 1. */
  private val batch1 = Seq("v1",
    """{"path":"file:///w/in/part-000002.json","timestamp":1700000000300,"batchId":1}""")
  private val compact1 = Seq("v1",
    """{"path":"file:///w/in/part-000000.json","timestamp":1700000000100,"batchId":0}""",
    """{"path":"file:///w/in/part-000001.json","timestamp":1700000000200,"batchId":0}""") ++
    batch1.tail

  test("the source log maps each file name to the batch that read it") {
    assert(parseSourceLog(batch1.iterator) == Map("part-000002.json" -> 1L))
    assert(parseSourceLog(compact1.iterator) == Map("part-000000.json" -> 0L,
      "part-000001.json" -> 0L, "part-000002.json" -> 1L))
  }

  test("a file's commit time is its batch's; unread or uncommitted files have none") {
    val batchOf = parseSourceLog(compact1.iterator)
    val files = Seq("part-000000.json", "part-000001.json", "part-000002.json", "part-000003.json")
    // progress: batch 0 committed at 500, batch 1 at 900
    assert(fileCommitTimes(files, batchOf, Map(0L -> 500L, 1L -> 900L)) ==
      Seq(Some(500L), Some(500L), Some(900L), None))
    assert(fileCommitTimes(files, batchOf, Map(0L -> 500L)) ==
      Seq(Some(500L), Some(500L), None, None))
  }
}
