package graft.pipeline

import graft.SparkSpec
import Model.DemandLine

/** A1 unit + property tests: the distributed streaming allocator must
  * agree with a trivially-correct sequential in-memory reference on
  * arbitrary demand sequences, and satisfy the depletion invariants
  * (SURVEY §5.3). Randomized cases are seeded → deterministic.
  */
class AllocateSpec extends SparkSpec {

  private def demand(rows: Seq[(Long, Long, String, Long, Long, Long)]) = {
    import spark.implicits._
    rows.zipWithIndex.map { case ((oid, cid, ts, pid, qty, stock), i) =>
      DemandLine(oid, cid, ts, pid, qty, BigDecimal("2.50"), stock,
        ts.take(10).replace("-", "").toInt, i.toLong, 0)
    }.toDS()
  }

  /** Sequential oracle: exactly the reference loop semantics
    * (src/data_processor.py:293-320), global timestamp order. */
  private def oracle(rows: Seq[(Long, Long, String, Long, Long, Long)],
                     reloadDaily: Boolean): Map[(Long, Long), Long] = {
    val opening = rows.groupBy(_._4).map { case (pid, rs) => pid -> rs.head._6 }
    val remaining = scala.collection.mutable.Map(opening.toSeq: _*)
    var curDay = Map.empty[Long, String]
    // sequence key = (day, input position) — matches demand()'s seq
    rows.zipWithIndex.sortBy { case (r, i) => (r._3.take(10), i) }
        .map(_._1).map { case (oid, _, ts, pid, qty, _) =>
      val day = ts.take(10)
      if (reloadDaily && curDay.get(pid).exists(_ != day)) remaining(pid) = opening(pid)
      curDay += pid -> day
      val filled = if (remaining(pid) >= qty) { remaining(pid) -= qty; qty } else 0L
      (oid, pid) -> filled
    }.toMap
  }

  test("exhaustion cancels the later line but keeps stock intact") {
    val rows = Seq(
      (1L, 1L, "2024-02-01T08:00:00.000001", 10L, 3L, 5L),
      (2L, 1L, "2024-02-01T09:00:00.000001", 10L, 3L, 5L), // only 2 left → cancelled
      (3L, 1L, "2024-02-01T10:00:00.000001", 10L, 2L, 5L)) // 2 left → filled
    val out = Allocate(demand(rows)).collect().map(l => l.order_id -> l.quantity).toMap
    assert(out == Map(1L -> 3L, 2L -> 0L, 3L -> 2L))
  }

  test("cancelled line has zero line_total but is still emitted") {
    val rows = Seq((1L, 1L, "2024-02-01T08:00:00.000001", 10L, 9L, 5L))
    val out = Allocate(demand(rows)).collect()
    assert(out.length == 1 && out.head.quantity == 0L
      && out.head.line_total == BigDecimal("0.00"))
  }

  test("reloadDaily resets opening stock at each calendar day") {
    val rows = Seq(
      (1L, 1L, "2024-02-01T08:00:00.000001", 10L, 4L, 5L),
      (2L, 1L, "2024-02-02T08:00:00.000001", 10L, 4L, 5L), // reset → filled
      (3L, 1L, "2024-02-02T09:00:00.000001", 10L, 4L, 5L)) // 1 left → cancelled
    val carry = Allocate(demand(rows)).collect().map(l => l.order_id -> l.quantity).toMap
    val daily = Allocate(demand(rows), reloadDaily = true).collect()
      .map(l => l.order_id -> l.quantity).toMap
    assert(carry == Map(1L -> 4L, 2L -> 0L, 3L -> 0L))
    assert(daily == Map(1L -> 4L, 2L -> 4L, 3L -> 0L))
  }

  test("cross-midnight timestamp in a day file: reset follows the file day, both paths agree") {
    import spark.implicits._
    // Row 2's datetime is past midnight (Feb 2) but it belongs to the
    // Feb 1 day file — the sequence-key day, not the timestamp's date,
    // drives the reloadDaily reset (and the sort), exactly as in
    // GreedyAllocationExec. A datetime-date key would reset here.
    val ds = Seq(
      DemandLine(1L, 1L, "2024-02-01T23:00:00.000001", 10L, 4L, BigDecimal("2.50"), 5L, 20240201, 0L, 0),
      DemandLine(2L, 1L, "2024-02-02T00:30:00.000001", 10L, 4L, BigDecimal("2.50"), 5L, 20240201, 1L, 0),
      DemandLine(3L, 1L, "2024-02-02T08:00:00.000001", 10L, 4L, BigDecimal("2.50"), 5L, 20240202, 2L, 0)
    ).toDS()
    val typed = AllocateReference(ds, reloadDaily = true).collect()
      .map(l => l.order_id -> l.quantity).toMap
    // same day-file → no reset between rows 1 and 2; reset before row 3
    assert(typed == Map(1L -> 4L, 2L -> 0L, 3L -> 4L))
    val planned = Allocate(ds, reloadDaily = true).collect()
      .map(l => l.order_id -> l.quantity).toMap
    assert(planned == typed)
  }

  private def randomRows(rng: scala.util.Random): Seq[(Long, Long, String, Long, Long, Long)] = {
    val stocks = Array.fill(4)(rng.nextLong(31))
    (0 until (1 + rng.nextInt(60))).map { i =>
      val pidIdx = rng.nextInt(4)
      val day = 1 + rng.nextInt(3)
      val min = rng.nextInt(60)
      (i.toLong, 1L, f"2024-02-0$day%dT08:$min%02d:00.$i%06d", 100L + pidIdx,
        1L + rng.nextLong(10), stocks(pidIdx))
    }
  }

  test("property: distributed allocation equals the sequential oracle (both modes)") {
    val rng = new scala.util.Random(42)
    for (_ <- 1 to 25; mode <- Seq(false, true)) {
      val rows = randomRows(rng)
      val got = Allocate(demand(rows), mode).collect()
        .map(l => (l.order_id, l.product_id) -> l.quantity).toMap
      assert(got == oracle(rows, mode), s"reloadDaily=$mode rows=$rows")
    }
  }

  test("property: total filled never exceeds opening stock") {
    val rng = new scala.util.Random(7)
    for (_ <- 1 to 25) {
      val rows = randomRows(rng)
      val lines = Allocate(demand(rows)).collect()
      lines.groupBy(_.product_id).foreach { case (pid, ls) =>
        val opening = rows.find(_._4 == pid).get._6
        val filled = ls.map(_.quantity).sum
        assert(filled <= opening, s"pid=$pid filled=$filled opening=$opening")
        ls.foreach(l => assert(l.quantity == 0L ||
          rows.exists(r => r._1 == l.order_id && r._5 == l.quantity)))
      }
    }
  }
}
