package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail percentile keeps at least ten entries at or beyond it") {
    assert(Stats.tailPercentile(144) == 90.0)
    assert(Stats.tailPercentile(94) == 90.0)
    assert(Stats.tailPercentile(41) == 75.0)
    for (n <- Seq(144, 94, 41, 36, 19)) {
      val p = Stats.tailPercentile(n)
      assert(n - Stats.rank(n, p) + 1 >= 10, s"n=$n p=$p")
    }
    // the next higher candidate would leave fewer than ten
    assert(144 - Stats.rank(144, 95.0) + 1 < 10)
    assert(94 - Stats.rank(94, 95.0) + 1 < 10)
    assert(41 - Stats.rank(41, 90.0) + 1 < 10)
  }

  test("percentile takes the nearest-rank sample") {
    val xs = (1 to 94).map(_.toDouble).reverse
    assert(Stats.percentile(xs, 90.0) == 85.0)
    assert(Stats.percentile((1 to 41).map(_.toDouble), 75.0) == 31.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("union of job intervals merges overlapping and nested jobs") {
    val jobs = Seq((10L, 20L), (12L, 15L), (18L, 30L), (40L, 50L), (50L, 55L), (60L, 60L))
    assert(Stats.union(jobs) == List((10L, 30L), (40L, 55L)))
    assert(Stats.covered(jobs, 0L, 100L) == 35L)
    // clipped to the entry window [15, 45)
    assert(Stats.covered(jobs, 15L, 45L) == 20L)
    assert(Stats.covered(Nil, 0L, 10L) == 0L)
  }

  test("self time subtracts the union of overlapping children, not their sum") {
    import Stats.Node
    val spans = Seq(
      Node(1, 0, 0, 100),   // entry
      Node(2, 1, 0, 60),    // frame
      Node(3, 1, 60, 100),  // sink
      Node(4, 2, 10, 40),   // two overlapping jobs under frame
      Node(5, 2, 30, 50),
      Node(6, 4, 10, 20),   // a stage of job 4
      Node(7, 3, 55, 90))   // a child reaching outside its parent
    val self = Stats.selfTimes(spans)
    assert(self(1) == 0)
    assert(self(2) == 60 - 40)
    assert(self(3) == 40 - 30)
    assert(self(4) == 30 - 10)
    assert(self(5) == 20)
    assert(self(6) == 10)
  }

  test("seeded order is a permutation fixed by the seed") {
    val names = (1 to 144).map(i => s"q$i")
    val a = Stats.seededOrder(names, 7L)
    assert(a == Stats.seededOrder(names, 7L))
    assert(a.sorted == names.sorted)
    val orders = (1L to 10L).map(Stats.seededOrder(names, _))
    assert(orders.distinct.size == orders.size)
    assert(Stats.seededOrder(Seq("only"), 3L) == Seq("only"))
  }
}
