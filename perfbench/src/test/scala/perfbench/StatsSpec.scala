package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentiles return observed values") {
    val xs = Seq(5.0, 1.0, 4.0, 2.0, 3.0)
    assert(Stats.percentile(xs, 50) == 3.0)
    assert(Stats.percentile(xs, 90) == 5.0)
    assert(Stats.percentile(xs, 20) == 1.0)
    assert(Stats.percentile(xs, 100) == 5.0)
    // even count: the lower middle, not a blend of the two
    assert(Stats.median(Seq(1.0, 2.0, 3.0, 4.0)) == 2.0)
    assert(Stats.percentile(Seq(7.0), 90) == 7.0)
    assert(Stats.percentile(Nil, 50).isNaN)
  }

  test("a percentile picks the same kind whatever the number of whole blocks") {
    // one etl_mix block of 25 ops in latency bands: 8 INSERTs and the
    // template; 3 DELETEs and 4 reads; 2 COPYs, OPTIMIZE and 2 UPDATEs;
    // 3 MERGEs and the micro-batch
    val block = Seq.fill(9)(0.1) ++ Seq.fill(7)(0.2) ++ Seq.fill(5)(0.4) ++ Seq.fill(4)(0.8)
    for (k <- 1 to 5) {
      val xs = Seq.fill(k)(block).flatten
      assert(Stats.percentile(xs, 50) == 0.2, s"p50 over $k blocks")
      assert(Stats.percentile(xs, 90) == 0.8, s"p90 over $k blocks")
    }
  }

  test("failed ops count as missing any latency limit") {
    val xs = Seq(0.1, 0.2, Double.PositiveInfinity, Double.PositiveInfinity)
    assert(Stats.percentile(xs, 50) == 0.2)
    assert(Stats.percentile(xs, 90).isPosInfinity)
  }

  test("interval union merges overlaps and touching ends") {
    assert(Stats.union(Seq(5L -> 7L, 1L -> 3L, 2L -> 4L, 7L -> 8L, 10L -> 10L)) ==
      Seq(1L -> 4L, 5L -> 8L))
    assert(Stats.unionLength(Seq(0L -> 10L, 2L -> 3L, 8L -> 12L)) == 12L)
    assert(Stats.unionLength(Nil) == 0L)
  }

  test("covered clips intervals to the span") {
    assert(Stats.covered(10L -> 20L, Seq(0L -> 12L, 18L -> 30L)) == 4L)
    assert(Stats.covered(10L -> 20L, Seq(0L -> 5L)) == 0L)
  }

  test("self time subtracts the union of children, counted once") {
    // two overlapping jobs and a planning phase inside a 100 ms statement
    val children = Seq(10L -> 50L, 30L -> 70L, 60L -> 65L, 90L -> 140L)
    assert(Stats.selfTime(0L -> 100L, children) == 100L - 60L - 10L)
    assert(Stats.selfTime(0L -> 100L, Nil) == 100L)
    assert(Stats.selfTime(0L -> 100L, Seq(-5L -> 200L)) == 0L)
  }

  test("rows_per_s of one half of a traced run counts only that half's rows") {
    def rec(id: String, kind: String, wallS: Double, traced: Boolean) =
      OpRecord(id, kind, 0L, 0L, wallS, ok = true, traced = traced, gcMs = 0L)
    val ops = Seq(rec("a", "copy", 1.0, traced = true), rec("b", "copy", 1.0, traced = false),
      rec("c", "microbatch", 2.0, traced = false), rec("d", "optimize", 2.0, traced = true),
      rec("e", "insert", 9.0, traced = true))
    val rows = Map("a" -> 300.0, "b" -> 300.0)
    def rate(os: Seq[OpRecord]) = IngestStream.rowsPerS(os, o => rows.getOrElse(o.id, 0.0))
    assert(rate(ops) == 100.0)
    assert(rate(ops.filter(_.traced)) == 100.0)
    assert(rate(ops.filterNot(_.traced)) == 100.0)
  }
}
