package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.features.MarketFeatures
import graft.jobs.Scheduler
import graft.operators.MarketIncremental
import graft.sources.{Connectors, LakeWriter}
import graft.store.FeatureStore

/** The write side of `live`: the scheduler's tick loop. A tick is one
  * seeded raw CCXT payload per symbol; it is normalized and appended to
  * the lake (`Scheduler.ingestOnce`), folded into the feature state
  * (`MarketIncremental.marketFeaturesBatch`), upserted into the store and
  * read back (`rangeRead`). In every other tick one symbol's payload
  * misses a run of bars, which the next operation,
  * `Scheduler.backfillOnce`, fills from the exchange (a seeded fetch).
  * The store starts pre-populated, ending one tick before a day boundary
  * so the ticks cross it: connectors, lake writes, state commits and
  * upsert's rewrite of whole dt partitions. */
final class Writes {
  import Store._

  private var store: FeatureStore = _
  var storeDir = ""
  private var lakeDir, stateDir = ""
  private var tick = 0
  private var barsSent = 0L
  private val gaps = scala.collection.mutable.ArrayBuffer.empty[(Int, Seq[Long])]
  private val readBacks = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long, Long)]
  private val tracedTicks = scala.collection.mutable.ArrayBuffer.empty[Int]
  private var storeSize: Map[String, Long] = Map.empty

  def inputs: Map[String, Long] = Map(
    "store_symbols" -> Symbols.toLong, "store_days" -> Days.toLong,
    "store_bars" -> Symbols.toLong * HistoryMinutes,
    "tick_symbols" -> TickSymbols.toLong, "tick_bars" -> TickBars.toLong,
    "ticks" -> tick.toLong, "bars_sent" -> barsSent, "gaps" -> gaps.size.toLong) ++ storeSize

  def setup(ctx: Ctx, rep: Int): Unit = {
    storeDir = ctx.dir(s"store-$rep")
    lakeDir = ctx.dir(s"lake-$rep")
    stateDir = ctx.dir(s"state-$rep")
    store = new FeatureStore(ctx.spark, storeDir)
    store.upsert(MarketFeatures.build(
      Frames.ohlcv(ctx.spark, ctx.seed, Symbols, 0L, HistoryMinutes)), "market", 1L)
    tick = 0
    pending = Nil
    barsSent = 0L
    gaps.clear(); readBacks.clear(); tracedTicks.clear()
    storeSize = Files.census(storeDir)
  }

  private def epochOfMinute(m: Long): Long = Gen.Epoch0Ms / 1000L + m * 60L

  /** The exchange's view of `sym`'s bars in [lo, hi] epoch seconds — the
    * backfill's fetch edge. */
  private def fetch(ctx: Ctx, sym: Int)(lo: Long, hi: Long): DataFrame = {
    val m0 = (lo - Gen.Epoch0Ms / 1000L) / 60L
    val m1 = (hi - Gen.Epoch0Ms / 1000L) / 60L + 1
    val rows = Gen.bars(ctx.seed, sym, m0, m1).toSeq.map(b => Frames.barRow(sym, b))
    ctx.spark.createDataFrame(java.util.Arrays.asList(rows: _*), Frames.OhlcvSchema)
  }

  def runTick(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    val k = tick
    tick += 1
    if (t.enabled) tracedTicks += k
    val start = HistoryMinutes + k.toLong * TickBars
    val planted = Gen.tickGaps(ctx.seed, k, GapEvery, TickSymbols, start, TickBars)
    val payloads = (0 until TickSymbols).map { s =>
      val skip = planted.getOrElse(s, Nil).toSet
      val bars = Gen.bars(ctx.seed, s, start, start + TickBars)
        .filterNot(b => skip((b.tsMs - Gen.Epoch0Ms) / Gen.MinuteMs))
      s -> bars.toSeq
    }
    t.span(Layers.Root) {
      payloads.foreach { case (s, bars) =>
        t.span("jobs.ingest_once") {
          barsSent += Scheduler.ingestOnce(Frames.ccxtPayload(spark, bars), Frames.Exchange,
            Gen.symbol(s), Frames.Timeframe, lakeDir)
        }
      }
      val lo = epochOfMinute(start)
      val hi = epochOfMinute(start + TickBars - 1)
      val fresh = t.span("operators.features_batch") {
        val batch = payloads.map { case (s, bars) =>
          Connectors.CcxtOhlcv(Gen.symbol(s), Frames.Exchange, Frames.Timeframe)
            .normalize(Frames.ccxtPayload(spark, bars))
        }.reduce(_ unionByName _)
        MarketIncremental.marketFeaturesBatch(spark, stateDir, k.toLong, batch, FoldCfg)
          .filter(unix_timestamp(col("timestamp")).between(lo, hi))
      }
      t.span("store.upsert") { store.upsert(fresh, "market", 1000L + k) }
      val sym = Gen.symbol(k % TickSymbols)
      val back = t.span("store.read_back") {
        store.rangeRead("market", sym, Frames.Timeframe, lo, hi, limit = 500).collect()
      }
      readBacks += ((sym, lo, hi, back.length.toLong))
      pending = planted.toSeq.map { case (s, missing) => (s, missing, hi) }
    }
  }

  /** Gaps the last tick left, with the epoch its backfill plans back from. */
  private var pending: Seq[(Int, Seq[Long], Long)] = Nil

  def gapPending: Boolean = pending.nonEmpty

  /** Bars sent so far. */
  def bars: Long = barsSent

  def runBackfill(ctx: Ctx): Unit = {
    val t = ctx.tracer
    t.span(Layers.Root) {
      pending.foreach { case (s, missing, now) =>
        t.span("jobs.backfill_once") {
          Scheduler.backfillOnce(ctx.spark, store, Gen.symbol(s), Frames.Timeframe, TickBars,
            fetch(ctx, s), nowEpochSec = now)
        }
        gaps += ((s, missing))
      }
    }
    pending = Nil
  }

  /** The lake holds exactly the bars sent; the store's rows for the
    * ingested hours equal `MarketFeatures.build` over the lake, plus the
    * backfilled bars' features; every read-back returned the store's rows. */
  def check(ctx: Ctx): Checked = {
    val spark = ctx.spark
    val notes = Seq.newBuilder[String]
    var bad = 0L
    val lake = LakeWriter.read(spark, lakeDir)
    val lakeRows = lake.count()
    if (lakeRows != barsSent) { bad += 1; notes += s"writes: lake has $lakeRows rows, sent $barsSent" }
    val cols = Seq(col("symbol"), col("timestamp")) ++ MarketFeatures.featureCols.map(col)
    val fromLake = MarketFeatures.build(lake)
    val backfilled = gaps.groupBy(_._1).toSeq.flatMap { case (s, gs) =>
      gs.map { case (_, missing) =>
        val bars = Gen.bars(ctx.seed, s, missing.head, missing.last + 1)
        MarketFeatures.build(ctx.spark.createDataFrame(java.util.Arrays.asList(
          bars.toSeq.map(b => Frames.barRow(s, b)): _*), Frames.OhlcvSchema))
      }
    }
    val expected = (fromLake +: backfilled).map(_.select(cols: _*)).reduce(_ unionByName _)
    val stored = spark.read.parquet(storeDir)
      .filter(unix_timestamp(col("timestamp")) >= epochOfMinute(HistoryMinutes))
      .select(cols: _*)
    val missing = expected.exceptAll(stored).count()
    val extra = stored.exceptAll(expected).count()
    if (missing + extra > 0) {
      bad += 1
      notes += s"writes: store differs from build over the lake ($missing missing, $extra extra rows)"
    }
    val expectedBySym = stored.groupBy(col("symbol"), unix_timestamp(col("timestamp")).as("e"))
      .count().collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // a read-back runs before its tick's backfill, so gap epochs are not in it
    val filled = gaps.flatMap { case (s, ms) => ms.map(m => (Gen.symbol(s), epochOfMinute(m))) }.toSet
    readBacks.foreach { case (sym, lo, hi, n) =>
      val want = expectedBySym.count { case (s, e) =>
        s == sym && e >= lo && e <= hi && !filled((s, e)) }
      if (want != n) { bad += 1; notes += s"writes: read-back of $sym [$lo, $hi] gave $n rows, want $want" }
    }
    Checked(bad, notes.result() ++ Seq(
      s"writes: $tick ticks, $barsSent bars, ${gaps.size} gaps backfilled, ${readBacks.size} read-backs checked"),
      Map("lake" -> Frames.checksum(lake.select(LakeCols.map(col): _*))._1.toString,
        "store_ingested" -> Frames.checksum(stored)._1.toString))
  }

  def extras(ctx: Ctx, spans: Seq[Span]): Map[String, Double] = {
    val (_, tasks, _) = ctx.counters.snapshot()
    val upserts = spans.filter(_.name == "store.upsert").map(_.group).toSet
    val written = tasks.filter(t => upserts(t.group)).map(_.bytesWritten).sum
    val incoming = tracedTicks.map(k => Files.census(s"$stateDir/features/batch=$k")("store_bytes")).sum
    val state = Files.census(stateDir)
    Map(
      "store.upsert_write_amp" -> written.toDouble / math.max(1L, incoming),
      "store.partitions" -> Files.census(storeDir)("store_partition_dirs").toDouble,
      "operators.state_files" -> state("store_files").toDouble,
      "operators.state_bytes" -> state("store_bytes").toDouble)
  }
}

/** The store both sides of `live` use, and the tick shape. */
object Store {
  val Symbols = 8
  val Days = 3
  val TickSymbols = 2
  val TickBars = 60
  /** Even ticks plant a gap: the warm-up tick 0 and its backfill warm both
    * paths, and later ticks alternate with and without a backfill. */
  val GapEvery = 2
  /** The pre-populated history ends one tick before a day boundary: the
    * warm-up tick closes the day and the measured ticks grow the next. */
  val HistoryMinutes: Long = Days * 1440L - TickBars
  val FoldCfg: MarketIncremental.FeatCfg =
    MarketIncremental.FeatCfg(MarketFeatures.seriesKeys, "timestamp", MarketFeatures.FeatureVersion)
  val LakeCols: Seq[String] = Seq("timestamp", "symbol", "exchange", "open", "high", "low", "close", "volume")
}

/** `live`: the feature store as it runs — ingest ticks (the write path,
  * [[Writes]]) and bursts of HTTP reads by concurrent clients (the read
  * path, [[Reads]]) take turns on one store, so a read-side gain that
  * costs writes shows on the same workload. Writes and reads do not
  * overlap: upsert's partition overwrite is not isolated from readers.
  * `op_p50_ms` is the point-read median (read side); `work_per_s` is bars
  * from raw payload into the store per second of write time (write side). */
final class Live extends Workload {
  private val writes = new Writes
  private val reads = new Reads

  def inputs: Map[String, Long] = writes.inputs + ("clients" -> Reads.Clients.toLong)

  def setup(ctx: Ctx, rep: Int): Unit = {
    writes.setup(ctx, rep)
    reads.attach(ctx, writes.storeDir)
  }

  override def close(): Unit = reads.close()

  /** Tick 0 and its backfill, then one read burst; none of it is checked. */
  override def warmUp(ctx: Ctx): Unit = {
    writes.runTick(ctx)
    if (writes.gapPending) writes.runBackfill(ctx)
    reads.burst(ctx, Live.BurstSeconds, keep = false)
  }

  def measure(ctx: Ctx, seconds: Double): Loop = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val sent0 = writes.bars
    val ticks, fills, point, range = Seq.newBuilder[Double]
    var writeS, readS = 0.0
    var n, failed = 0L
    def timed(body: => Unit): Double = {
      val s0 = System.nanoTime()
      try body catch { case e: Exception =>
        failed += 1
        System.err.println(s"[perfbench] live operation failed: $e")
      }
      (System.nanoTime() - s0) / 1e6
    }
    while (System.nanoTime() < deadline) {
      val t = timed(writes.runTick(ctx))
      ticks += t
      writeS += t / 1000.0
      n += 1
      if (writes.gapPending) {
        val f = timed(writes.runBackfill(ctx))
        fills += f
        writeS += f / 1000.0
        n += 1
      }
      val r0 = System.nanoTime()
      val got = reads.burst(ctx, Live.BurstSeconds, keep = true)
      readS += (System.nanoTime() - r0) / 1e9
      point ++= got.filter(_.q.kind == "point").map(_.ms)
      range ++= got.filter(_.q.kind == "range").map(_.ms)
      n += got.size
      failed += got.count(_.code != 200)
    }
    val p = point.result()
    val r = range.result()
    Loop(Map("point" -> p, "range" -> r, "tick" -> ticks.result(), "backfill" -> fills.result(),
        "read_s" -> Seq(readS), "reads" -> Seq((p.size + r.size).toDouble)),
      "point", n, failed, writes.bars - sent0, writeS)
  }

  def named(loop: Loop): Seq[(String, Double, String)] = {
    val point = loop.samples("point")
    val tail = Stats.tailPercentile(point.size)
    Seq(("point_p50_ms", Stats.median(point), "ms")) ++
      tail.map(p => (f"point_p${p * 100}%.4g_ms".replace(".", "_"), Stats.percentile(point, p), "ms")) ++
      Seq(("range_p50_ms", Stats.median(loop.samples("range")), "ms"),
        ("reads_per_s", loop.samples("reads").sum / loop.samples("read_s").sum, "1/s"),
        ("tick_p50_s", Stats.median(loop.samples("tick")) / 1000.0, "s"),
        ("backfill_p50_s", Stats.median(loop.samples("backfill")) / 1000.0, "s"),
        ("bars_per_s", loop.units / loop.wallS, "1/s"),
        ("point_reads", point.size.toDouble, "count"),
        ("range_reads", loop.samples("range").size.toDouble, "count"),
        ("ticks", loop.samples("tick").size.toDouble, "count"),
        ("backfills", loop.samples("backfill").size.toDouble, "count"))
  }

  def check(ctx: Ctx): Checked = {
    val w = writes.check(ctx)
    val r = reads.check(ctx)
    Checked(w.failed + r.failed, w.notes ++ r.notes, w.checksums ++ r.checksums)
  }

  override def layerExtras(ctx: Ctx, spans: Seq[Span]): Map[String, Double] =
    writes.extras(ctx, spans) ++ reads.extras(ctx, spans)
}

object Live {
  val BurstSeconds = 2.5
}
