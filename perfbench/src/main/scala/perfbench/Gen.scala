package perfbench

import java.util.SplittableRandom

/** Seeded input generators. Every generator is a pure function of its
  * seed and size arguments, so the same seed always yields the same
  * inputs; the engine only ever receives the frames built from them.
  *
  * Streams are keyed by (seed, stream tag, item), so adding a symbol or
  * a document does not shift the values of the others. */
object Gen {

  val MinuteMs: Long = 60000L
  /** 2024-01-01T00:00:00Z: every generated time is on the minute grid from here. */
  val Epoch0Ms: Long = 1704067200000L

  def rng(seed: Long, tag: Long, item: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed) ^ mix(tag * 0x9E3779B97F4A7C15L) ^ item))

  private def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  private def gauss(r: SplittableRandom): Double = {
    // Box–Muller; one draw per call keeps the stream position simple
    val u1 = 1.0 - r.nextDouble()
    val u2 = r.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }

  def symbol(i: Int): String = f"SYM$i%02d"

  /** One 1m OHLCV bar: (ts ms, open, high, low, close, volume). */
  final case class Bar(tsMs: Long, open: Double, high: Double, low: Double,
                       close: Double, volume: Double)

  /** Bars `from until until` (minute indices from [[Epoch0Ms]]) of symbol
    * `sym`'s random walk. The walk restarts from a per-day anchor, so any
    * slice is generated without its prefix yet always agrees with it. */
  def bars(seed: Long, sym: Int, from: Long, until: Long): Array[Bar] = {
    val out = Array.newBuilder[Bar]
    var day = from / 1440L
    var m = from
    while (m < until) {
      val r = rng(seed, 1L, sym.toLong * 1000003L + day)
      var close = 100.0 * (1 + sym) * math.exp(0.02 * gauss(r))
      var k = day * 1440L
      val dayEnd = math.min(until, (day + 1) * 1440L)
      while (k < dayEnd) {
        val open = close
        close = open * math.exp(0.0015 * gauss(r))
        val hi = math.max(open, close) * (1.0 + 0.0005 * math.abs(gauss(r)))
        val lo = math.min(open, close) * (1.0 - 0.0005 * math.abs(gauss(r)))
        val vol = math.rint(1000.0 * math.exp(0.5 * gauss(r)) * 1000.0) / 1000.0
        if (k >= m) out += Bar(Epoch0Ms + k * MinuteMs, open, hi, lo, close, vol)
        k += 1
      }
      m = dayEnd
      day += 1
    }
    out.result()
  }

  /** Planted gaps of one ingest tick: the minute indices a payload omits.
    * Every `every`-th tick, from tick 0, drops a run of 1–3 consecutive
    * bars of one symbol, away from the tick's edges. */
  def tickGaps(seed: Long, tick: Int, every: Int, symbols: Int,
               tickStart: Long, tickBars: Int): Map[Int, Seq[Long]] =
    if (tick % every != 0) Map.empty
    else {
      val r = rng(seed, 2L, tick.toLong)
      val sym = r.nextInt(symbols)
      val len = 1 + r.nextInt(3)
      val at = tickStart + 5 + r.nextInt(tickBars - 10 - len)
      Map(sym -> (at until at + len))
    }

  /** Hourly social posts: (post_id, ts ms, sentiment in [-1, 1]). */
  def social(seed: Long, fromMin: Long, minutes: Long, perHour: Int)
      : Array[(Long, Long, Double)] = {
    val hours = minutes / 60
    (0L until hours).iterator.flatMap { h =>
      val r = rng(seed, 3L, fromMin / 60 + h)
      val n = 1 + r.nextInt(2 * perHour)
      (0 until n).map { i =>
        val ts = Epoch0Ms + (fromMin + h * 60) * MinuteMs + r.nextLong(3600000L)
        ((fromMin / 60 + h) * 1000 + i, ts, math.tanh(gauss(r)))
      }
    }.toArray
  }

  /** News items: (news_id, ts ms, sentiment), sparser than social. */
  def news(seed: Long, fromMin: Long, minutes: Long): Array[(Long, Long, Double)] =
    social(seed ^ 0x5EED5EEDL, fromMin, minutes, 2).filter(_._1 % 3 == 0)

  /** L2 book deltas: (symbol, ts ms, event_id, side, price, amount) —
    * `perMinute` updates per minute over a 20-tick price ladder; amount 0
    * deletes a level. Event ids are unique per symbol. */
  def bookDeltas(seed: Long, symbols: Int, fromMin: Long, minutes: Long,
                 perMinute: Int): Array[(String, Long, Long, String, Double, Double)] =
    (0 until symbols).iterator.flatMap { s =>
      val r = rng(seed, 4L, s.toLong)
      (0L until minutes * perMinute).iterator.map { e =>
        val slot = MinuteMs / perMinute
        val ts = Epoch0Ms + (fromMin + e / perMinute) * MinuteMs + (e % perMinute) * slot +
          r.nextLong(slot)
        val side = if (r.nextBoolean()) "bid" else "ask"
        val price = (if (side == "bid") 100.0 - r.nextInt(20) * 0.5 else 100.5 + r.nextInt(20) * 0.5)
        val amount = if (r.nextInt(7) == 0) 0.0 else math.rint(r.nextDouble() * 10000.0) / 100.0
        (symbol(s), ts, e, side, price, amount)
      }
    }.toArray

  private val Vocab: Array[String] = {
    val r = new SplittableRandom(7L)
    Array.fill(2000) {
      val n = 3 + r.nextInt(6)
      new String(Array.fill(n)(('a' + r.nextInt(26)).toChar))
    }
  }

  /** Documents (doc_id, text) of `words` words with planted
    * near-duplicates: every `dupEvery`-th doc copies an earlier doc with
    * one word replaced, which keeps the pair's 3-shingle Jaccard above
    * 0.8 for `words` ≥ 30. */
  def documents(seed: Long, docs: Int, words: Int, dupEvery: Int)
      : Array[(Long, String)] = {
    val out = new Array[(Long, String)](docs)
    var i = 0
    while (i < docs) {
      val r = rng(seed, 5L, i.toLong)
      val text =
        if (i % dupEvery == dupEvery - 1 && i > dupEvery) {
          val src = out(r.nextInt(i))._2.split(" ")
          val w = src.clone()
          w(r.nextInt(w.length)) = Vocab(r.nextInt(Vocab.length))
          w.mkString(" ")
        } else Array.fill(words)(Vocab(r.nextInt(Vocab.length))).mkString(" ")
      out(i) = (i.toLong, text)
      i += 1
    }
    out
  }

  /** Exact Jaccard of two texts' distinct word 3-shingle sets — the
    * benchmark's own re-check of emitted near-dup pairs. */
  def shingleJaccard(a: String, b: String, n: Int = 3): Double = {
    def sh(t: String): Set[String] = {
      val toks = t.trim.split("\\s+")
      if (toks.length < n) Set(toks.mkString(" "))
      else toks.sliding(n).map(_.mkString(" ")).toSet
    }
    val (x, y) = (sh(a), sh(b))
    (x intersect y).size.toDouble / (x union y).size.toDouble
  }

  /** Order-independent checksum of generated rows: the sum of a 64-bit
    * hash per row, so equal multisets give equal sums whatever the order. */
  def checksum(rows: Iterator[Product]): Long =
    rows.foldLeft(0L)((acc, p) => acc + mix(p.productIterator.map(_.##.toLong)
      .foldLeft(17L)((h, v) => mix(h ^ v))))
}
