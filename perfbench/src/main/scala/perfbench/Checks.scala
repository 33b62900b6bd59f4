package perfbench

import java.io.File

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.DataFrame

import graft.features.MarketFeatures

/** The feature rows a store should serve, held on the driver per symbol
  * in epoch order. Null and non-finite values are both kept as NaN: the
  * server must send either as JSON null. */
final class Expected(bySymbol: Map[String, (Array[Long], Array[Expected.Row])]) {
  import Expected.Row

  def row(sym: String, epoch: Long): Option[Row] = bySymbol.get(sym).flatMap { case (eps, rows) =>
    val i = java.util.Arrays.binarySearch(eps, epoch)
    if (i >= 0) Some(rows(i)) else None
  }

  def range(sym: String, lo: Long, hi: Long, limit: Int, reverse: Boolean): Seq[Row] =
    bySymbol.get(sym).map { case (eps, rows) =>
      val from = lowerBound(eps, lo)
      val until = lowerBound(eps, hi + 1)
      val slice = rows.slice(from, until).toSeq
      (if (reverse) slice.reverse else slice).take(limit)
    }.getOrElse(Nil)

  private def lowerBound(a: Array[Long], x: Long): Int = {
    val i = java.util.Arrays.binarySearch(a, x)
    if (i >= 0) i else -i - 1
  }

  def matches(node: JsonNode, want: Row): Boolean =
    node.get("timestamp").asLong() == want.epoch &&
      node.get("exchange").asText() == want.exchange &&
      node.get("feature_version").asText() == want.version &&
      node.size() == 3 + Expected.Features.size &&
      Expected.Features.indices.forall { i =>
        val v = node.get(Expected.Features(i))
        val w = want.values(i)
        if (w.isNaN) v != null && v.isNull
        else v != null && v.isNumber && v.asDouble() == w
      }
}

object Expected {
  val Features: Seq[String] = MarketFeatures.featureCols

  final case class Row(epoch: Long, exchange: String, version: String, values: Array[Double]) {
    override def hashCode: Int = (epoch, values.toSeq.map(java.lang.Double.doubleToLongBits)).##
  }

  def load(features: DataFrame): Expected = {
    import org.apache.spark.sql.functions._
    val rows = features.select((Seq(col("symbol"),
        unix_timestamp(col("timestamp")).as("epoch"), col("exchange"), col("feature_version")) ++
        Features.map(col)): _*).collect()
    val bySymbol = rows.groupBy(_.getString(0)).map { case (sym, rs) =>
      val sorted = rs.map { r =>
        Row(r.getLong(1), r.getString(2), r.getString(3), Features.indices.map { i =>
          if (r.isNullAt(4 + i)) Double.NaN
          else { val d = r.getDouble(4 + i); if (d.isInfinite) Double.NaN else d }
        }.toArray)
      }.sortBy(_.epoch)
      sym -> (sorted.map(_.epoch), sorted)
    }
    new Expected(bySymbol)
  }
}

/** File-system census of a directory tree. */
object Files {
  /** Files, bytes and partition directories (directories holding data
    * files) under `dir`, keyed for the input-size record. */
  def census(dir: String): Map[String, Long] = {
    var files = 0L
    var bytes = 0L
    var partDirs = 0L
    def walk(f: File): Unit = {
      val kids = Option(f.listFiles()).getOrElse(Array.empty[File])
      val data = kids.filter(k => k.isFile && !k.getName.startsWith(".") && !k.getName.startsWith("_"))
      if (data.nonEmpty) partDirs += 1
      data.foreach { k => files += 1; bytes += k.length() }
      kids.filter(_.isDirectory).foreach(walk)
    }
    walk(new File(dir))
    Map("store_files" -> files, "store_bytes" -> bytes, "store_partition_dirs" -> partDirs)
  }
}
