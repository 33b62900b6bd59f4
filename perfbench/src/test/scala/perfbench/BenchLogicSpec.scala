package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own logic: the percentile sample-count rule, self
  * time from overlapping spans, and generator determinism. */
class BenchLogicSpec extends AnyFunSuite {

  test("a tail percentile is reported only with ten samples beyond it") {
    assert(Stats.tailPercentile(10).isEmpty)
    assert(Stats.tailPercentile(39).isEmpty)
    assert(Stats.tailPercentile(40).contains(0.75))
    assert(Stats.tailPercentile(100).contains(0.9))
    assert(Stats.tailPercentile(199).contains(0.9))
    assert(Stats.tailPercentile(200).contains(0.95))
    assert(Stats.tailPercentile(1000).contains(0.99))
    assert(Stats.tailPercentile(10000).contains(0.999))
    for (n <- 1 to 3000; p <- Stats.tailPercentile(n))
      assert(n - math.ceil(p * n).toInt >= 10, s"n=$n p=$p")
  }

  test("nearest-rank percentiles and medians") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 0.95) == 95.0)
    assert(Stats.percentile(xs, 0.5) == 50.0)
    assert(Stats.percentile(Seq(3.0), 0.99) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0)) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("self time subtracts the union of children, clipped to the parent") {
    assert(Stats.selfTime(0, 100, Nil) == 100)
    assert(Stats.selfTime(0, 100, Seq((10L, 30L), (20L, 40L))) == 70)
    assert(Stats.selfTime(0, 100, Seq((10L, 20L), (50L, 60L))) == 80)
    assert(Stats.selfTime(0, 100, Seq((-50L, 10L), (90L, 150L))) == 80)
    assert(Stats.selfTime(0, 100, Seq((0L, 100L), (20L, 30L))) == 0)
    assert(Stats.selfTime(0, 100, Seq((200L, 300L))) == 100)
  }

  test("layer metrics: self time and per-call medians from spans") {
    val spans = Seq(
      Span(1, Layers.Root, 0, 1, 0, 10000, "g1", ""),
      Span(2, "store.upsert", 1, 1, 1000, 5000, "g2", ""),
      Span(3, "store.read_back", 1, 1, 4000, 9000, "g3", ""),
      Span(4, "serving.get", 0, 4, 20000, 30000, "g4", "k"),
      Span(5, "store.read_plan", 0, 0, 21000, 23000, "g5", "k"))
    val m = Layers.metrics(spans, Nil, Nil, Nil)
    assert(m("store.upsert.wall_ms") == 4.0)
    assert(m("store.read_back.self_ms") == 5.0)
    // the handler-thread span is re-parented under the request with its key
    assert(m("serving.get.self_ms") == 8.0)
    // no job ran during the root operation
    assert(m("spark.driver_gap_ms") == 10.0)
    assert(Layers.names.size == Layers.names.distinct.size)
  }

  test("generators: the same seed gives the same inputs") {
    def sums(seed: Long) = Seq(
      Gen.checksum(Gen.bars(seed, 3, 0, 3000).iterator),
      Gen.checksum(Gen.social(seed, 0, 600, 20).iterator),
      Gen.checksum(Gen.bookDeltas(seed, 2, 0, 120, 2).iterator),
      Gen.checksum(Gen.documents(seed, 300, 40, 10).iterator),
      Gen.checksum(Reads.requests(seed, 1).iterator))
    assert(sums(7) == sums(7))
    assert(sums(7).zip(sums(8)).forall { case (a, b) => a != b })
  }

  test("generators: any slice of a bar series agrees with the whole") {
    val whole = Gen.bars(5, 1, 0, 4000)
    assert(Gen.bars(5, 1, 1500, 2500).toSeq == whole.slice(1500, 2500).toSeq)
    assert(whole.map(_.tsMs).sliding(2).forall(p => p(1) - p(0) == Gen.MinuteMs))
  }

  test("planted near-duplicates re-verify above the threshold") {
    val docs = Gen.documents(11, 200, 40, 10)
    val dups = docs.indices.filter(i => i % 10 == 9 && i > 10)
    assert(dups.forall { i =>
      docs.take(i).exists(d => Gen.shingleJaccard(d._2, docs(i)._2) >= 0.8)
    })
    assert(Gen.shingleJaccard("a b c d", "a b c d") == 1.0)
    assert(Gen.shingleJaccard("a b c d", "x y z w") == 0.0)
  }

  test("planted gaps stay inside their tick") {
    for (t <- 0 until 30; (s, ms) <- Gen.tickGaps(3, t, 3, 2, 1000, 60)) {
      assert(t % 3 == 0 && s >= 0 && s < 2)
      assert(ms.nonEmpty && ms.head >= 1005 && ms.last < 1055)
    }
  }
}
