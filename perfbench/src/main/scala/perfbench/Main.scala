package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, a scratch directory it may
  * fill (removed when the run ends), the seed and the active tracer. */
final class Ctx(val spark: SparkSession, val work: File, val seed: Long,
                val counters: SparkCounters) {
  @volatile var tracer: Tracer = new Tracer(false, spark.sparkContext)
  def dir(name: String): String = new File(work, name).getAbsolutePath
}

/** What one measured loop produced. `samples` holds each latency series
  * in ms; `primary` names the one behind `op_p50_ms`; `units` counts the
  * work items behind `work_per_s`. */
final case class Loop(samples: Map[String, Seq[Double]], primary: String,
                      attempted: Long, failed: Long, units: Long, wallS: Double)

object Loop {
  def merge(ls: Seq[Loop]): Loop = ls.reduce { (a, b) =>
    Loop((a.samples.keySet ++ b.samples.keySet).map(k =>
        k -> (a.samples.getOrElse(k, Nil) ++ b.samples.getOrElse(k, Nil))).toMap,
      a.primary, a.attempted + b.attempted, a.failed + b.failed, a.units + b.units,
      a.wallS + b.wallS)
  }
}

/** Outcome of the output checks: failures found, what was checked, and
  * the order-independent checksums of the products. */
final case class Checked(failed: Long, notes: Seq[String], checksums: Map[String, String])

trait Workload {
  /** Builds the workload's state from scratch; called several times, the
    * last build is the one measured. */
  def setup(ctx: Ctx, rep: Int): Unit
  /** Untimed operations that bring the measured path to steady state
    * (JIT, codegen caches) before the loop; the default runs none. */
  def warmUp(ctx: Ctx): Unit = ()
  /** Runs operations until `seconds` have passed, finishing the one in flight. */
  def measure(ctx: Ctx, seconds: Double): Loop
  /** Output checks, outside any timed region. */
  def check(ctx: Ctx): Checked
  /** Ratio and count metrics this workload measures (trace mode). */
  def layerExtras(ctx: Ctx, spans: Seq[Span]): Map[String, Double] = Map.empty
  /** Input sizes, for the record. */
  def inputs: Map[String, Long]
  /** Named end-to-end metrics of this workload, with their units. */
  def named(loop: Loop): Seq[(String, Double, String)]
  def close(): Unit = ()
}

object Main {

  /** Set-ups per run, each from scratch; `setup_s` is their median. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = new File(a("work")).getAbsoluteFile
    work.mkdirs()
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    val ctx = new Ctx(spark, work, seed, counters)

    val wl: Workload = name match {
      case "live" => new Live
      case "research" => new Research
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setups = (1 to SetupReps).map { rep =>
      val t0 = System.nanoTime()
      wl.setup(ctx, rep)
      val s = (System.nanoTime() - t0) / 1e9
      log(f"setup $rep: $s%.2f s")
      s
    }
    wl.warmUp(ctx)
    log("warm-up done")
    val calib0 = calibrate(spark)
    // untraced: one loop; traced: untraced and traced halves alternate, so
    // warm-up drift does not read as tracing overhead
    val off = new Tracer(false, spark.sparkContext)
    val on = new Tracer(true, spark.sparkContext)
    val (blocks, blockSeconds) = if (trace) (Seq(off, on, off, on), seconds / 2) else (Seq(off), seconds)
    val loops = blocks.map { t =>
      ctx.tracer = t
      val g0 = gcMs()
      val l = wl.measure(ctx, blockSeconds)
      log(s"${if (t.enabled) "traced" else "untraced"} loop: ${l.attempted} ops")
      (t.enabled, l, gcMs() - g0)
    }
    ctx.tracer = off
    counters.settle()
    val spans = on.spans
    val untraced = Loop.merge(loops.filterNot(_._1).map(_._2))
    val gcUntraced = loops.filterNot(_._1).map(_._3).sum
    val traced =
      if (!trace) None
      else Some((Loop.merge(loops.filter(_._1).map(_._2)), loops.filter(_._1).map(_._3).sum))
    val checked = try wl.check(ctx) catch {
      case e: Exception => Checked(1L, Seq(s"check raised: $e"), Map.empty)
    }
    log("checks done")
    val calib1 = calibrate(spark)
    val rssMb = vmHwmKb() / 1024.0
    wl.close()

    val attempted = loops.map(_._2.attempted).sum
    val failed = loops.map(_._2.failed).sum + checked.failed
    val p50 = Stats.median(untraced.samples(untraced.primary))
    val e2e = Seq(
      ("setup_s", Stats.median(setups), "s"),
      ("peak_rss_mb", rssMb, "MB"),
      ("op_p50_ms", p50, "ms"),
      ("work_per_s", untraced.units / untraced.wallS, "1/s"))
    val metrics: Seq[(String, Double, String)] = traced match {
      case None => e2e
      case Some((tl, gc)) =>
        val (jobs, tasks, execs) = counters.snapshot()
        val layer = Layers.metrics(spans, jobs, tasks, execs)
        val extras = wl.layerExtras(ctx, spans)
        val over = Map(
          "spark.gc_ms" -> gc.toDouble,
          "trace_overhead_pct" -> (Stats.median(tl.samples(tl.primary)) / p50 - 1.0) * 100.0)
        val all = layer ++ extras ++ over
        Layers.names.map(n => (n, all.getOrElse(n, 0.0), Layers.unit(n)))
    }
    val detail = Json.obj(
      "workload" -> Json.str(name), "seed" -> Json.num(seed.toDouble),
      "seconds" -> Json.num(seconds), "trace" -> Json.bool(trace), "cpus" -> Json.num(cpus),
      "inputs" -> Json.obj(wl.inputs.toSeq.map { case (k, v) => k -> Json.num(v.toDouble) }: _*),
      "setup_s_reps" -> Json.arr(setups.map(Json.num): _*),
      "calibration_s" -> Json.arr(Json.num(calib0), Json.num(calib1)),
      "gc_ms_untraced" -> Json.num(gcUntraced.toDouble),
      "named" -> Json.obj(wl.named(untraced).map { case (n, v, u) =>
        n -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u)) }: _*),
      "samples" -> Json.obj(untraced.samples.toSeq.map { case (k, v) => k -> Json.num(v.size) }: _*),
      "checks" -> Json.arr(checked.notes.map(Json.str): _*),
      "checksums" -> Json.obj(checked.checksums.toSeq.map { case (k, v) => k -> Json.str(v) }: _*))
    println("DETAIL " + detail)
    if (trace) {
      val w = new java.io.PrintWriter(new File(work, "spans.jsonl"))
      try spans.sortBy(_.startUs).foreach { s =>
        w.println(Json.obj("id" -> Json.num(s.id), "name" -> Json.str(s.name),
          "parent" -> Json.num(s.parent), "op" -> Json.num(s.op),
          "start_us" -> Json.num(s.startUs), "end_us" -> Json.num(s.endUs)))
      } finally w.close()
    }
    val result = Json.obj(
      "correct" -> Json.bool(failed == 0),
      "attempted" -> Json.num(attempted),
      "failed" -> Json.num(failed),
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u)) }: _*))
    println(result)
    System.out.flush()
    spark.stop()
    // the server's handler pool and the HTTP client keep non-daemon threads
    sys.exit(0)
  }

  private val start = System.nanoTime()

  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - start) / 1e9}%7.2f] $msg")

  /** A fixed CPU-bound probe (the same shape as `graft.Bench`'s): its wall
    * time is an index of machine health, recorded beside each run. */
  def calibrate(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    val t0 = System.nanoTime()
    spark.range(10000000L).select(sum(col("id") % 7L)).head()
    (System.nanoTime() - t0) / 1e9
  }

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
  }

  /** Peak resident set of this JVM (`VmHWM`), in kB. */
  def vmHwmKb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
    finally src.close()
  }
}

/** Minimal JSON writer (the benchmark emits, never parses, its own records). */
object Json {
  final case class V(s: String) { override def toString: String = s }
  def str(s: String): V = V("\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\"")
  def num(d: Double): V =
    if (d.isNaN || d.isInfinite) V("null")
    else if (d == math.rint(d) && math.abs(d) < 9e18) V(d.toLong.toString)
    else V(d.toString)
  def bool(b: Boolean): V = V(b.toString)
  def arr(xs: V*): V = V(xs.mkString("[", ",", "]"))
  def obj(kv: (String, V)*): V = V(kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}"))
}
