package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.features.{MarketFeatures, OrderbookFeatures, TrainingMatrix}
import graft.operators.{Dedup, Labeling, Relational, Resample}
import graft.sources.LakeWriter
import graft.types.Schemas

/** `research`: an offline batch over a seeded lake written in setup —
  * multi-file 1m OHLCV, social and news posts, L2 book deltas and a
  * document corpus with planted near-duplicates. One pass builds four
  * products, each materialized once: the training matrix (features by
  * window chain and by chunked fold, triple-barrier labels, resampled
  * sentiment), chunked book snapshots, the correlation MST, and the
  * near-dup-curated corpus. The analytic layers do the work — window
  * chains, the EWM and text kernels, as-of/rank shuffles, driver-loop
  * folds — while the store and the serving edge do none. */
final class Research extends Workload {
  import Research._

  private var lake = ""
  private var docs: Array[(Long, String)] = Array.empty
  private var last: Products = _
  private var lakeSize: Map[String, Long] = Map.empty

  final case class Products(features: DataFrame, chunked: DataFrame, matrix: DataFrame,
                            book: DataFrame, mst: Array[org.apache.spark.sql.Row],
                            pairs: Array[org.apache.spark.sql.Row], components: DataFrame,
                            curated: DataFrame, times: Map[String, Double])

  def inputs: Map[String, Long] = Map(
    "symbols" -> Symbols.toLong, "days" -> Days.toLong, "bars" -> Symbols.toLong * Days * 1440,
    "book_symbols" -> BookSymbols.toLong, "book_deltas" -> BookSymbols.toLong * Days * 1440 * BookPerMinute,
    "documents" -> Docs.toLong) ++ lakeSize

  def setup(ctx: Ctx, rep: Int): Unit = {
    val spark = ctx.spark
    lake = ctx.dir(s"research-lake-$rep")
    val minutes = Days * 1440L
    LakeWriter.write(Frames.ohlcv(spark, ctx.seed, Symbols, 0L, minutes), s"$lake/market",
      Schemas.MARKET, "timestamp", partitions = Seq("dt"))
    Frames.posts(spark, Gen.social(ctx.seed, 0L, minutes, PostsPerHour))
      .write.parquet(s"$lake/social")
    Frames.posts(spark, Gen.news(ctx.seed, 0L, minutes)).write.parquet(s"$lake/news")
    Frames.book(spark, Gen.bookDeltas(ctx.seed, BookSymbols, 0L, minutes, BookPerMinute))
      .write.parquet(s"$lake/book")
    docs = Gen.documents(ctx.seed, Docs, Words, DupEvery)
    Frames.documents(spark, docs).write.parquet(s"$lake/documents")
    lakeSize = Files.census(lake).map { case (k, v) => k.replace("store_", "lake_") -> v }
  }

  private def pass(ctx: Ctx): Products = {
    val spark = ctx.spark
    val t = ctx.tracer
    val times = scala.collection.mutable.Map.empty[String, Double]
    def timed[T](product: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally times(product) = (System.nanoTime() - t0) / 1e6
    }
    var out: Products = null
    t.span(Layers.Root) {
      val ohlcv = spark.read.parquet(s"$lake/market")
      val (features, chunked, matrix) = timed("matrix") {
        val features = t.span("features.build") {
          MarketFeatures.build(ohlcv).localCheckpoint()
        }
        val chunked = t.span("features.build_chunked") {
          MarketFeatures.buildChunked(ohlcv, chunkUs = ChunkUs).localCheckpoint()
        }
        val labels = t.span("operators.triple_barrier") {
          Labeling.tripleBarrier(
            ohlcv.withColumn("bar_id", (unix_timestamp(col("timestamp")) / 60).cast("long")),
            Seq("symbol"), "timestamp", "close", "bar_id",
            horizonUs = 30L * 60 * 1000000, upPct = 0.002, dnPct = 0.002).localCheckpoint()
        }
        val aggs = t.span("operators.resample") {
          Seq("social", "news").map { src =>
            src -> Resample.resampleAgg(spark.read.parquet(s"$lake/$src"), "timestamp",
                "1 hour", Nil, "sent", "post_id")
              .withColumnRenamed("bucket", "timestamp").localCheckpoint()
          }.toMap
        }
        val matrix = t.span("features.training_matrix") {
          TrainingMatrix.build(features, ohlcv, Seq("symbol", "timestamp"), aggs,
              Seq("timestamp"), Seq("symbol"), Seq("timestamp"))
            .withColumn("ts_us", unix_micros(col("timestamp")))
            .join(labels.select("symbol", "ts_us", "label"), Seq("symbol", "ts_us"), "left")
            .localCheckpoint()
        }
        (features, chunked, matrix)
      }
      val book = timed("book") {
        t.span("features.book_snapshots_chunked") {
          OrderbookFeatures.bookSnapshotsChunked(spark.read.parquet(s"$lake/book"),
            Seq("symbol"), "ts", "event_id", stepUs = BookStepUs, nLevels = BookLevels,
            chunkUs = ChunkUs).localCheckpoint()
        }
      }
      val mst = timed("mst") {
        t.span("operators.corr_mst") {
          val hourly = ohlcv.groupBy(col("symbol"), date_trunc("hour", col("timestamp")).as("bucket"))
            .agg(avg(col("close")).as("mean_close"))
          val dist = Relational.correlationMatrix(hourly, "symbol", "bucket", "mean_close", scale = 100.0)
            .where(col("key_a") < col("key_b") && col("corr").isNotNull)
            .select(col("key_a"), col("key_b"), sqrt(lit(2.0) * (lit(1.0) - col("corr"))).as("dist"))
          Relational.minSpanningTree(dist, "dist").collect()
        }
      }
      val (pairs, components, curated) = timed("curate") {
        val corpus = spark.read.parquet(s"$lake/documents")
        val pairs = t.span("operators.minhash_pairs") {
          Dedup.minhashNearDupPairs(corpus, "text", "doc_id", threshold = Threshold).localCheckpoint()
        }
        val components = t.span("operators.connected_components") {
          Dedup.connectedComponents(pairs).localCheckpoint()
        }
        val curated = t.span("operators.canonicalize") {
          Dedup.canonicalize(corpus, pairs, "doc_id").localCheckpoint()
        }
        (pairs.collect(), components, curated)
      }
      out = Products(features, chunked, matrix, book, mst, pairs, components, curated, times.toMap)
    }
    out
  }

  def measure(ctx: Ctx, seconds: Double): Loop = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val lat = Seq.newBuilder[Double]
    val parts = Seq.newBuilder[Map[String, Double]]
    var n = 0L
    var failed = 0L
    var rows = 0L
    while (System.nanoTime() < deadline) {
      val s0 = System.nanoTime()
      try {
        last = pass(ctx)
        lat += (System.nanoTime() - s0) / 1e6
        parts += last.times
        rows += last.matrix.count() + last.book.count() + last.mst.length + last.curated.count()
      } catch { case e: Exception =>
        lat += (System.nanoTime() - s0) / 1e6
        failed += 1
        System.err.println(s"[perfbench] research pass failed: $e")
      }
      n += 1
    }
    val p = parts.result()
    Loop(Map("pass" -> lat.result()) ++ Seq("matrix", "book", "mst", "curate").map(k =>
        k -> p.flatMap(_.get(k))),
      "pass", n, failed, rows, (System.nanoTime() - t0) / 1e9)
  }

  def named(loop: Loop): Seq[(String, Double, String)] = Seq(
    ("matrix_s", Stats.median(loop.samples("matrix")) / 1000.0, "s"),
    ("book_s", Stats.median(loop.samples("book")) / 1000.0, "s"),
    ("mst_s", Stats.median(loop.samples("mst")) / 1000.0, "s"),
    ("curate_s", Stats.median(loop.samples("curate")) / 1000.0, "s"),
    ("research_s", Stats.median(loop.samples("pass")) / 1000.0, "s"),
    ("passes", loop.samples("pass").size.toDouble, "count"))

  override def layerExtras(ctx: Ctx, spans: Seq[Span]): Map[String, Double] = {
    val (_, _, execs) = ctx.counters.snapshot()
    val groups = spans.filter(_.name == "operators.minhash_pairs").map(_.group).toSet
    val mine = execs.filter(x => groups(x.group))
    Map("operators.minhash_pairs_per_candidate" ->
      mine.map(_.pairsOut).sum.toDouble / math.max(1L, mine.map(_.candidates).sum))
  }

  /** `buildChunked` equals `build`; every emitted near-dup pair re-verifies
    * at Jaccard ≥ τ on the documents' own shingles; the MST spans every
    * symbol; the curated corpus keeps one document per component. */
  def check(ctx: Ctx): Checked = {
    val p = last
    val notes = Seq.newBuilder[String]
    var bad = 0L
    val (fSum, fRows) = Frames.checksum(p.features)
    val (cSum, cRows) = Frames.checksum(p.chunked)
    if (fSum != cSum || fRows != cRows) {
      bad += 1; notes += s"research: buildChunked ($cRows rows) differs from build ($fRows rows)"
    }
    val text = docs.toMap
    val weak = p.pairs.filter { r =>
      Gen.shingleJaccard(text(r.getAs[Long]("id_a")), text(r.getAs[Long]("id_b"))) < Threshold - 1e-9
    }
    if (weak.nonEmpty) { bad += 1; notes += s"research: ${weak.length} near-dup pairs below Jaccard $Threshold" }
    if (p.pairs.isEmpty) { bad += 1; notes += "research: no near-dup pairs found" }
    if (p.mst.length != Symbols - 1) {
      bad += 1; notes += s"research: MST has ${p.mst.length} edges for $Symbols symbols"
    }
    val compRows = p.components.collect()
    val removed = compRows.count(r => r.getAs[Long]("id") != r.getAs[Long]("component"))
    val curatedRows = p.curated.count()
    if (curatedRows != Docs - removed) {
      bad += 1; notes += s"research: curated corpus has $curatedRows docs, want ${Docs - removed}"
    }
    val mstSum = Gen.checksum(p.mst.iterator.map(r => (r.getString(0), r.getString(1), r.getDouble(2))))
    Checked(bad, notes.result() :+
      s"research: ${fRows} feature rows, ${p.pairs.length} near-dup pairs, $curatedRows curated docs",
      Map("features" -> fSum.toString, "matrix" -> Frames.checksum(p.matrix)._1.toString,
        "book" -> Frames.checksum(p.book)._1.toString, "mst" -> mstSum.toString,
        "pairs" -> Gen.checksum(p.pairs.iterator.map(r =>
          (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))).toString,
        "curated" -> Frames.checksum(p.curated)._1.toString))
  }
}

object Research {
  val Symbols = 8
  val Days = 2
  val PostsPerHour = 30
  val BookSymbols = 3
  val BookPerMinute = 2
  val BookStepUs: Long = 15L * 60 * 1000000
  val BookLevels = 5
  val ChunkUs: Long = 86400L * 1000000
  val Docs = 2000
  val Words = 40
  val DupEvery = 10
  val Threshold = 0.8
}
