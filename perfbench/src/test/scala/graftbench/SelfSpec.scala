package graftbench

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

class SelfSpec extends AnyFunSuite {

  private def inputs(seed: Long): String = {
    val shape = LogStream.shape
    val events = (0 until 3).flatMap(Gen.events(seed, 1, _, shape)).mkString("\n")
    val csv = (0 until 2).map(c => Gen.irisCsv(Gen.iris(seed, c, 0, 50)) +
      Gen.irisCsv(Gen.iris(seed, c, 1, 20))).mkString
    val order = (0 until 3).map(p => Gen.keyOrder(Relational.keys, seed, p)).mkString
    events + csv + order
  }

  test("the same seed gives byte-identical inputs, another seed different ones") {
    assert(inputs(7) == inputs(7))
    assert(inputs(7) != inputs(8))
    assert(Gen.keyOrder(Relational.keys, 7, 1).sorted == Relational.keys.sorted)
  }

  test("generated events stay ahead of the watermark and ids are unique") {
    val shape = LogStream.shape
    val evs = (0 until 20).flatMap(Gen.events(3, 1, _, shape))
    assert(evs.map(_.eventId).distinct.size == evs.size)
    // an event of tick k is never older than tick k-1's newest event
    // minus the 10-minute watermark delay
    (1 until 20).foreach { k =>
      val prevMax = Gen.events(3, 1, k - 1, shape).map(_.tsNanos).max
      assert(Gen.events(3, 1, k, shape).map(_.tsNanos).min > prevMax - 600L * 1000000000L)
    }
    val late = evs.count(e => e.tsNanos < (Gen.EpochS + (e.eventId / shape.perTick) *
      shape.tickSpanS) * 1000000000L)
    assert(late > evs.size / 40 && late < evs.size / 10)
  }

  test("the tail is the highest percentile with ten samples beyond it") {
    val xs = (1 to 40).map(_.toDouble)
    val t = Stats.tail(xs).get
    assert(t.value == 30.0 && xs.count(_ > t.value) == 10)
    assert(t.percentile == 75.0 && t.n == 40)
    assert(Stats.tail(xs.take(10)).isEmpty)
    assert(Stats.tail(xs.take(11)).get.value == 1.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("brute-force KNN votes by count, then by lowest label") {
    def iris(x: Float, l: Int) = Gen.Iris(Array(x, 0f, 0f, 0f), l)
    val refs = IndexedSeq(iris(0f, 2), iris(1f, 1), iris(2f, 1), iris(3f, 2), iris(9f, 0))
    assert(Gen.knnPredict(refs, Array(0f, 0f, 0f, 0f), 4) == 1)
    assert(Gen.knnPredict(refs, Array(0f, 0f, 0f, 0f), 1) == 2)
  }

  test("the printed end-to-end metrics and the workloads are those BENCHMARK.json declares") {
    // units and directions are read from BENCHMARK.json alone (run.py);
    // per-layer names are passed to the harness from it, which refuses any
    // metric it computes that is not declared
    val spec = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("../BENCHMARK.json"))
    def names(key: String) = spec.get(key).elements().asScala.map(_.get("name").asText).toSeq
    assert(Main.endToEnd(0L, Seq(1.0), Seq(1.0)).map(_._1) == names("end_to_end"))
    assert(names("workloads") == Workload.all.map(_.name))
  }
}
