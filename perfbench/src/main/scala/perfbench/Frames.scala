package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Spark frames over the [[Gen]] generators. Generation runs inside the
  * tasks (one per symbol), so large inputs never pass through the driver. */
object Frames {

  val Exchange = "binance"
  val Timeframe = "1m"

  val OhlcvSchema: StructType = StructType(Seq(
    StructField("timestamp", TimestampType), StructField("symbol", StringType),
    StructField("exchange", StringType), StructField("timeframe", StringType),
    StructField("open", DoubleType), StructField("high", DoubleType),
    StructField("low", DoubleType), StructField("close", DoubleType),
    StructField("volume", DoubleType), StructField("bar_id", LongType)))

  def barRow(sym: Int, b: Gen.Bar): Row =
    Row(new java.sql.Timestamp(b.tsMs), Gen.symbol(sym), Exchange, Timeframe,
      b.open, b.high, b.low, b.close, b.volume, sym.toLong * 100000000L + b.tsMs / Gen.MinuteMs)

  /** 1m bars of symbols `0 until symbols`, minutes `from until until`. */
  def ohlcv(spark: SparkSession, seed: Long, symbols: Int, from: Long, until: Long): DataFrame = {
    val rdd = spark.sparkContext.parallelize(0 until symbols, symbols)
      .flatMap(s => Gen.bars(seed, s, from, until).iterator.map(b => barRow(s, b)))
    spark.createDataFrame(rdd, OhlcvSchema)
  }

  /** A raw CCXT OHLCV payload for one symbol: one row whose `ohlcv`
    * column holds `[ts_ms, open, high, low, close, volume]` arrays. */
  def ccxtPayload(spark: SparkSession, bars: Seq[Gen.Bar]): DataFrame = {
    val schema = StructType(Seq(StructField("ohlcv", ArrayType(ArrayType(DoubleType)))))
    val arr = bars.map(b => Seq(b.tsMs.toDouble, b.open, b.high, b.low, b.close, b.volume))
    spark.createDataFrame(java.util.List.of(Row(arr)), schema)
  }

  def posts(spark: SparkSession, rows: Array[(Long, Long, Double)]): DataFrame = {
    val schema = StructType(Seq(StructField("post_id", LongType),
      StructField("timestamp", TimestampType), StructField("sent", DoubleType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq.map { case (i, t, s) =>
      Row(i, new java.sql.Timestamp(t), s) }, 4), schema)
  }

  def book(spark: SparkSession, rows: Array[(String, Long, Long, String, Double, Double)]): DataFrame = {
    val schema = StructType(Seq(StructField("symbol", StringType),
      StructField("ts", TimestampType), StructField("event_id", LongType),
      StructField("side", StringType), StructField("price", DoubleType),
      StructField("amount", DoubleType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq.map {
      case (s, t, e, sd, p, a) => Row(s, new java.sql.Timestamp(t), e, sd, p, a) }, 4), schema)
  }

  def documents(spark: SparkSession, rows: Array[(Long, String)]): DataFrame = {
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq.map { case (i, t) =>
      Row(i, t) }, 4), schema)
  }

  /** Order-independent checksum of a frame: the sum of a 64-bit hash of
    * every row over every column. Computing it reads every value, so it
    * doubles as the action that materializes a product. */
  def checksum(df: DataFrame): (Long, Long) = {
    import org.apache.spark.sql.functions._
    val r = df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).as("h"))
      .agg(coalesce(sum(col("h").cast(DecimalType(38, 0))) % lit(BigDecimal(2).pow(64)),
        lit(BigDecimal(0))).cast("string"), count(lit(1)))
      .head()
    (BigDecimal(r.getString(0)).toLong, r.getLong(1))
  }
}
