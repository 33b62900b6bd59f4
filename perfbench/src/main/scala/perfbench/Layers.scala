package perfbench

/** Per-layer metrics from spans and Spark counters. Every span name is
  * `<layer>.<op>`; each records per-call medians of its fields. Counters
  * reach a span through the job group it set: a span counts the jobs,
  * tasks and SQL executions of its own group and its descendants' that
  * started inside its interval. */
object Layers {

  /** Spans of the serving read path, whose tasks and shuffle are trivial. */
  val ReadSpans: Seq[String] = Seq("serving.get", "store.read_plan", "spark.read_query")
  val ReadFields: Seq[String] = Seq("wall_ms", "self_ms", "jobs", "plan_ms")

  val WorkSpans: Seq[String] = Seq(
    "jobs.ingest_once", "operators.features_batch", "store.upsert", "store.read_back",
    "jobs.backfill_once",
    "features.build", "features.build_chunked", "operators.triple_barrier",
    "operators.resample", "features.training_matrix", "features.book_snapshots_chunked",
    "operators.corr_mst", "operators.minhash_pairs", "operators.connected_components",
    "operators.canonicalize")
  val WorkFields: Seq[String] =
    Seq("wall_ms", "self_ms", "jobs", "tasks", "plan_ms", "cpu_ms", "shuffle_bytes")

  val Ratios: Seq[(String, String)] = Seq(
    "store.rows_scanned_per_row_returned" -> "ratio",
    "store.files_per_read" -> "count",
    "store.partitions" -> "count",
    "store.upsert_write_amp" -> "ratio",
    "operators.state_files" -> "count",
    "operators.state_bytes" -> "bytes",
    "operators.minhash_pairs_per_candidate" -> "ratio",
    "spark.driver_gap_ms" -> "ms",
    "spark.gc_ms" -> "ms",
    "trace_overhead_pct" -> "%")

  val names: Seq[String] =
    ReadSpans.flatMap(s => ReadFields.map(f => s"$s.$f")) ++
      WorkSpans.flatMap(s => WorkFields.map(f => s"$s.$f")) ++ Ratios.map(_._1)

  def unit(name: String): String =
    Ratios.toMap.getOrElse(name, name.split('.').last match {
      case "wall_ms" | "self_ms" | "plan_ms" | "cpu_ms" => "ms"
      case "shuffle_bytes" => "bytes"
      case _ => "count"
    })

  /** The span around one whole workload operation (a request, a tick, a
    * research pass); every layer span lies under one. */
  val Root = "op"

  /** Spans recorded on another thread (the server's handlers) start as
    * roots; give each the innermost span with the same key whose interval
    * contains it as parent. Each `store.read_plan` also gets a synthetic
    * `spark.read_query` sibling per SQL execution of its group that
    * started after the plan was built. */
  def resolve(spans: Seq[Span], execs: Seq[SparkCounters#Exec]): Seq[Span] = {
    val byKey = spans.filter(_.key.nonEmpty).groupBy(_.key)
    val reparented = spans.map { s =>
      if (s.parent != 0L || s.key.isEmpty) s
      else byKey(s.key).filter(p => p.id != s.id && p.startUs <= s.startUs &&
          p.endUs >= s.endUs && p.name != s.name)
        .sortBy(-_.startUs).headOption
        .map(p => s.copy(parent = p.id, op = p.op)).getOrElse(s)
    }
    val execsByGroup = execs.groupBy(_.group)
    val maxId = if (spans.isEmpty) 0L else spans.map(_.id).max
    var next = maxId
    val queries = reparented.filter(s => s.name == "store.read_plan" && s.parent != 0L)
      .flatMap { rp =>
        execsByGroup.getOrElse(rp.group, Nil)
          .filter(x => x.startUs >= rp.endUs - 1000L && x.endUs >= x.startUs)
          .map { x =>
            next += 1
            Span(next, "spark.read_query", rp.parent, rp.op, math.max(x.startUs, rp.endUs),
              x.endUs, rp.group, "")
          }
      }
    reparented ++ queries
  }

  def metrics(raw: Seq[Span], jobs: Seq[SparkCounters#Job], tasks: Seq[SparkCounters#Task],
              execs: Seq[SparkCounters#Exec]): Map[String, Double] = {
    val spans = resolve(raw, execs)
    val children = spans.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)
    def within(s: Span, t: Long) = t >= s.startUs && t <= s.endUs
    val perCall = spans.filter(_.name != Root).map { s =>
      val groups = subtree(s).map(_.group).toSet
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startUs, c.endUs))
      val ts = tasks.filter(t => groups(t.group) && within(s, t.atUs))
      s.name -> Map(
        "wall_ms" -> s.wallUs / 1000.0,
        "self_ms" -> Stats.selfTime(s.startUs, s.endUs, kids) / 1000.0,
        "jobs" -> jobs.count(j => groups(j.group) && within(s, j.startUs)).toDouble,
        "tasks" -> ts.size.toDouble,
        "plan_ms" -> execs.filter(x => groups(x.group) && within(s, x.startUs)).map(_.planMs).sum,
        "cpu_ms" -> ts.map(_.cpuMs).sum,
        "shuffle_bytes" -> ts.map(_.shuffleBytes.toDouble).sum)
    }
    val spanMetrics = perCall.groupBy(_._1).flatMap { case (name, calls) =>
      val fields = if (ReadSpans.contains(name)) ReadFields else WorkFields
      fields.map(f => s"$name.$f" -> Stats.median(calls.map(_._2(f))))
    }
    // driver gap: the part of each operation during which no job runs
    val roots = spans.filter(_.name == Root)
    val gaps = roots.map { r =>
      val groups = subtree(r).map(_.group).toSet
      val busy = jobs.filter(j => groups(j.group) && j.endUs >= j.startUs)
        .map(j => (j.startUs, j.endUs))
      Stats.selfTime(r.startUs, r.endUs, busy) / 1000.0
    }
    spanMetrics ++ Map("spark.driver_gap_ms" -> Stats.median(gaps))
  }
}
