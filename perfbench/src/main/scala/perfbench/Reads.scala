package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.features.MarketFeatures
import graft.serving.FeatureServer
import graft.store.FeatureStore

/** A [[FeatureStore]] whose read entry points run inside a
  * `store.read_plan` span. The server collects the returned frame on the
  * same handler thread, so the thread keeps the span's job group and the
  * read query's Spark jobs are labelled with it too. */
final class TracedStore(spark: SparkSession, base: String, ctx: Ctx)
    extends FeatureStore(spark, base) {
  private def planned(key: String)(read: => DataFrame): DataFrame = {
    val df = ctx.tracer.span("store.read_plan", key)(read)
    ctx.tracer.relabel()
    df
  }
  override def batchRead(domain: String, symbol: String, timeframe: String,
                         epochs: Seq[Long]): DataFrame =
    planned(Reads.pointKey(symbol, epochs)) {
      super.batchRead(domain, symbol, timeframe, epochs)
    }
  override def rangeRead(domain: String, symbol: String, timeframe: String,
                         startEpochSec: Long, endEpochSec: Long,
                         limit: Int, reverse: Boolean): DataFrame =
    planned(Reads.rangeKey(symbol, startEpochSec, endEpochSec, limit, reverse)) {
      super.rangeRead(domain, symbol, timeframe, startEpochSec, endEpochSec, limit, reverse)
    }
}

/** The read side of `live`: a [[FeatureServer]] over the store, read by
  * a closed loop of HTTP clients — one per core, as many as the server's
  * handler threads — in bursts between writes. ~80% batch point reads of
  * 1–8 epochs (some absent), ~20% range reads (limit ≤ 500, some
  * newest-first); symbols are Zipf-skewed and epochs favour recent times,
  * so a hot-key cache would hit while the long tail still misses. Reads
  * cover the pre-populated history only, whose rows writes never change. */
final class Reads {
  import Reads._

  private var server: FeatureServer = _
  private var port = 0
  private val served = new java.util.concurrent.ConcurrentLinkedQueue[Served]()
  /** Every response of the measured bursts, checked after the run. */
  private val kept = scala.collection.mutable.ArrayBuffer.empty[Served]
  /** Request streams already used; each burst draws fresh ones. */
  private var streams = 0

  /** Serves the store at `dir` (replacing any earlier server). */
  def attach(ctx: Ctx, dir: String): Unit = {
    close()
    server = new FeatureServer(new TracedStore(ctx.spark, dir, ctx), None)
    port = server.start()
    kept.clear()
  }

  def close(): Unit = {
    if (server != null) server.stop()
    server = null
  }

  /** `Clients` closed-loop clients for `seconds`; the responses are kept
    * for the checks when `keep`. */
  def burst(ctx: Ctx, seconds: Double, keep: Boolean): Seq[Served] = {
    served.clear()
    val first = streams
    streams += Clients
    val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val threads = (0 until Clients).map { c =>
      new Thread(() => {
        val reqs = requests(ctx.seed, first + c)
        var i = 0
        while (System.nanoTime() < deadline) {
          val q = reqs(i % reqs.length)
          i += 1
          ctx.tracer.span(Layers.Root) {
            ctx.tracer.span("serving.get", q.key) {
              val s0 = System.nanoTime()
              val (code, body) =
                try {
                  val r = http.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port${q.path}"))
                    .GET().build(), HttpResponse.BodyHandlers.ofString())
                  (r.statusCode(), r.body())
                } catch { case e: Exception => (-1, e.toString) }
              served.add(Served(q, code, body, (System.nanoTime() - s0) / 1e6, ctx.tracer.enabled))
            }
          }
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val all = served.toArray(new Array[Served](0)).toSeq
    if (keep) kept ++= all
    all
  }

  /** Every response equals the rows the store was built from, in request
    * order, missing epochs skipped and non-finite numbers as null. The
    * expected rows come from recomputing the features, not from the store. */
  def check(ctx: Ctx): Checked = {
    val expected = Expected.load(MarketFeatures.build(
      Frames.ohlcv(ctx.spark, ctx.seed, Store.Symbols, 0L, Store.HistoryMinutes)))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    var bad = 0L
    val notes = Seq.newBuilder[String]
    var checksum = 0L
    kept.foreach { s =>
      val want = s.q match {
        case Req("point", sym, eps, _, _, _, _, _) => eps.flatMap(e => expected.row(sym, e))
        case Req(_, sym, _, lo, hi, lim, rev, _) => expected.range(sym, lo, hi, lim, rev)
      }
      val ok = s.code == 200 && {
        val tree = mapper.readTree(s.body)
        val data = tree.get("data")
        tree.get("rows").asLong() == want.size && data.size() == want.size &&
          want.indices.forall(i => expected.matches(data.get(i), want(i)))
      }
      if (!ok) {
        bad += 1
        if (bad <= 3) notes += s"reads: mismatch on ${s.q.path} (status ${s.code})"
      } else checksum += want.map(_.hashCode.toLong).sum
    }
    Checked(bad, notes.result() :+ s"reads: ${kept.size} responses checked",
      Map("responses" -> checksum.toString))
  }

  def extras(ctx: Ctx, spans: Seq[Span]): Map[String, Double] = {
    val (_, _, execs) = ctx.counters.snapshot()
    val groups = spans.filter(_.name == "store.read_plan").map(_.group).toSet
    val reads = execs.filter(x => groups(x.group))
    val returned = kept.filter(s => s.traced && s.code == 200)
      .map(s => "\"rows\":(\\d+)".r.findFirstMatchIn(s.body).map(_.group(1).toLong).getOrElse(0L)).sum
    Map(
      "store.rows_scanned_per_row_returned" -> reads.map(_.scanRows).sum.toDouble / math.max(1L, returned),
      "store.files_per_read" -> reads.map(_.files).sum.toDouble / math.max(1, groups.size))
  }
}

object Reads {
  val Clients: Int = Runtime.getRuntime.availableProcessors()
  val RequestsPerClient = 4000

  final case class Req(kind: String, symbol: String, epochs: Seq[Long], lo: Long, hi: Long,
                       limit: Int, reverse: Boolean, path: String) {
    def key: String = if (kind == "point") pointKey(symbol, epochs)
                      else rangeKey(symbol, lo, hi, limit, reverse)
  }
  final case class Served(q: Req, code: Int, body: String, ms: Double, traced: Boolean)

  def pointKey(symbol: String, epochs: Seq[Long]): String = s"p|$symbol|${epochs.mkString(",")}"
  def rangeKey(symbol: String, lo: Long, hi: Long, limit: Int, reverse: Boolean): String =
    s"r|$symbol|$lo|$hi|$limit|$reverse"

  /** Client `c`'s request sequence, a pure function of the seed. */
  def requests(seed: Long, c: Int): Array[Req] = {
    val r = Gen.rng(seed, 10L, c.toLong)
    val weights = (1 to Store.Symbols).map(i => 1.0 / math.pow(i, 1.1))
    val cum = weights.scanLeft(0.0)(_ + _).tail.map(_ / weights.sum)
    val span = Store.HistoryMinutes
    val lastEpoch = (Gen.Epoch0Ms / 1000L) + (span - 1) * 60L
    def epoch(): Long = lastEpoch - 60L * (span * math.pow(r.nextDouble(), 4)).toLong
    Array.fill(RequestsPerClient) {
      val u = r.nextDouble()
      val sym = Gen.symbol(cum.indexWhere(_ >= u) max 0)
      if (r.nextDouble() < 0.8) {
        val eps = Seq.fill(1 + r.nextInt(8))(if (r.nextInt(10) == 0) epoch() + 30L else epoch())
        Req("point", sym, eps, 0L, 0L, 0, reverse = false,
          s"/features/market?symbol=$sym&timeframe=1m" + eps.map(e => s"&ts=$e").mkString)
      } else {
        val hi = epoch()
        val lo = hi - 60L * (10 + r.nextInt(600))
        val limit = 1 + r.nextInt(500)
        val rev = r.nextInt(3) == 0
        Req("range", sym, Nil, lo, hi, limit, rev,
          s"/features/market/range?symbol=$sym&timeframe=1m&start=$lo&end=$hi&limit=$limit&reverse=$rev")
      }
    }
  }
}
