package graftbench

import scala.util.Random

/** Seeded input generators. Every input the engine sees is a pure function
  * of (seed, stream or cycle, index), so one seed gives byte-identical
  * inputs in any process. */
object Gen {

  /** An independent, reproducible stream of randomness per (seed, parts). */
  def rng(seed: Long, parts: Long*): Random =
    new Random(parts.foldLeft(seed * 0x9E3779B97F4A7C15L) { (h, p) =>
      java.lang.Long.rotateLeft(h ^ (p * 0xC2B2AE3D27D4EB4FL), 29) * 31 + 7
    })

  /** The key order of one pass over a query mix. */
  def keyOrder(keys: Seq[String], seed: Long, pass: Int): Seq[String] =
    rng(seed, 1, pass).shuffle(keys)

  // --- log_stream events --------------------------------------------

  /** One event, in the engine's stream event schema (ts in epoch nanos). */
  final case class Event(eventId: Long, tsNanos: Long, userId: Long,
      eventType: String, cents: Long, props: String) {
    def value: Double = cents / 100.0
  }

  val EventTypes: IndexedSeq[String] =
    IndexedSeq("view", "click", "cart", "purchase", "share")

  /** Shape of the event stream.
    * @param perTick    events appended per tick
    * @param tickSpanS  event time that one tick advances, in seconds
    * @param users      distinct user ids, Zipf(zipfS)-skewed
    * @param lateFrac   share of events shifted back in event time
    * @param maxLateS   largest shift; below the 10-minute watermark delay,
    *                   so no event is ever behind the watermark */
  final case class EventShape(perTick: Int, tickSpanS: Int,
      users: Int = 10000, zipfS: Double = 1.1, lateFrac: Double = 0.05,
      maxLateS: Int = 480)

  /** Event time of tick 0: a multiple of the 300 s window length. */
  val EpochS: Long = 1699999800L

  private val zipfCache = new java.util.concurrent.ConcurrentHashMap[(Int, Double), Array[Double]]

  private def zipfCdf(n: Int, s: Double): Array[Double] =
    zipfCache.computeIfAbsent((n, s), _ => {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    })

  /** The events of tick `tick` of stream `stream`. Event ids are unique
    * across ticks of one stream. */
  def events(seed: Long, stream: Int, tick: Int, shape: EventShape): Seq[Event] = {
    val r = rng(seed, 2, stream, tick)
    val cdf = zipfCdf(shape.users, shape.zipfS)
    val t0 = (EpochS + tick.toLong * shape.tickSpanS) * 1000000000L
    val step = shape.tickSpanS * 1000000000L / shape.perTick
    (0 until shape.perTick).map { i =>
      val late =
        if (r.nextDouble() < shape.lateFrac)
          (r.nextDouble() * shape.maxLateS * 1e9).toLong
        else 0L
      val u = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      val user = (if (u >= 0) u else math.min(-u - 1, shape.users - 1)) + 1
      Event(tick.toLong * shape.perTick + i, t0 + i * step - late, user,
        EventTypes(r.nextInt(EventTypes.size)), r.nextInt(100000).toLong,
        s"""{"src":"gen","n":${r.nextInt(8)}}""")
    }
  }

  /** Expected closed-window output of the engine's tumbling 300 s
    * window count/sum: (win_start_s, event_type) -> (n, sum of cents). */
  def windowTally(evs: Iterable[Event]): Map[(Long, String), (Long, Long)] =
    evs.groupMapReduce { e =>
      (Math.floorDiv(e.tsNanos, 300000000000L) * 300L, e.eventType)
    }(e => (1L, e.cents)) { case ((a, b), (c, d)) => (a + c, b + d) }

  // --- train_predict inputs -------------------------------------------

  /** An iris-shaped labelled row: four features and a class 0..2. */
  final case class Iris(x: Array[Float], label: Int)

  private val centers = Array(
    Array(5.0, 3.4, 1.5, 0.2), Array(5.9, 2.8, 4.3, 1.3),
    Array(6.6, 3.0, 5.6, 2.0))

  /** `n` rows from three Gaussian clusters. Sigma 0.12 keeps the clusters
    * apart, so every model version scores 100%, each challenger ties the
    * deployed version and is deployed, and every cycle runs all four
    * jobs. `part` separates the train and test sets of one cycle. */
  def iris(seed: Long, cycle: Int, part: Int, n: Int): IndexedSeq[Iris] = {
    val r = rng(seed, 3, cycle, part)
    IndexedSeq.fill(n) {
      val c = r.nextInt(3)
      Iris(Array.tabulate(4)(j =>
        (centers(c)(j) + 0.12 * r.nextGaussian()).toFloat), c)
    }
  }

  /** The engine's iris CSV layout: no header, sl,sw,pl,pw,type. */
  def irisCsv(rows: Seq[Iris]): String =
    rows.map(r => (r.x.map(_.toString) :+ r.label.toFloat.toString)
      .mkString(",")).mkString("", "\n", "\n")

  /** Brute-force k-NN: squared L2 over the float features widened to
    * double; neighbours ordered by (distance, reference index); the vote
    * takes the highest count, then the lowest label. */
  def knnPredict(refs: IndexedSeq[Iris], q: Array[Float], k: Int): Int = {
    val d = refs.indices.map { i =>
      var s = 0.0
      var j = 0
      while (j < 4) {
        val x = q(j).toDouble - refs(i).x(j).toDouble; s += x * x; j += 1
      }
      (s, i)
    }.sorted.take(k)
    d.groupBy { case (_, i) => refs(i).label }.toSeq
      .map { case (lab, xs) => (-xs.size, lab) }.min._2
  }
}
