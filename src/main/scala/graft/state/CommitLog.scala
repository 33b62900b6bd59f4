package graft.state

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions.col

/** The one commit protocol behind every stateful operator and persisted
  * index: the only module that knows the on-disk commit format (the
  * offset/commit-log idea Structured Streaming builds exactly-once
  * output on). A state directory `dir` holds:
  *
  *   - `_commits/<id>` — one marker file per committed id. Creating it is
  *     THE commit point: everything an id wrote becomes visible at that
  *     single file-create, so a crash before it leaves nothing visible,
  *     and the retry rewrites the id's data and commits.
  *   - `<table>/batch=<id>/` — one append slice per id: an append-only
  *     log (`bars`, `features`, `scores`, `cur`, …) or an index table
  *     (`bands`, `postings`, `sizes`, `vectors`, …). Readers see only
  *     committed, non-superseded ids ([[readLog]], [[readCommitted]]).
  *   - `v=<id>/<table>` — the small versioned frontier of a fold
  *     ([[foldBatch]]). After committing id `n`, every committed frontier
  *     older than the committed predecessor is deleted: exactly the
  *     predecessor and `n` survive (rollback room).
  *
  * Two families run on that layout. Frontier folds (the
  * `MarketIncremental` batches, `DriftMonitor.cusumBatch`) are
  * replay check → latest frontier → fold → write → commit + GC. Indexes
  * (`Dedup`'s MinHash and containment indexes, `Similarity`'s IVF-PQ
  * index) [[append]] one batch at a time and [[compact]] the committed
  * batches into one:
  *
  *   - a replayed id — committed, or superseded by a compaction — is a
  *     no-op (at-least-once `foreachBatch` delivery is safe). An empty
  *     index id auto-assigns max numeric id ever seen + 1;
  *   - ids starting with `c` are the compactor's namespace: appends may
  *     not use them, and the compactor's orphan sweep deletes any `c*`
  *     slice without a marker (a crashed compaction's output);
  *   - a compaction writes the consolidated rows under a fresh
  *     `batch=c<n>` and commits it with a marker whose BODY lists the ids
  *     it supersedes, one per line — TRANSITIVELY, so a second compaction
  *     keeps the first one's ids and their replays stay no-ops. Readers
  *     drop every id named in any body, so visibility flips from the old
  *     batches to the consolidated one at that single create; the old
  *     markers and slices are then deleted, and a crash before that
  *     deletion double-counts nothing (the next compaction clears the
  *     leftovers). Safe beside a live appender; one compactor at a time.
  *     A probe that listed the old slices before the deletion can hit
  *     missing files: run compaction in a maintenance window or behind a
  *     read-path retry.
  *
  * Single writer per directory. Three choices hold for every caller:
  *   - markers are created with `overwrite = false`: the replay check
  *     always runs first, so an existing marker means a second writer,
  *     and the create fails loudly instead of silently re-committing;
  *   - only FILES under `_commits/` are markers (a directory there is
  *     ignored);
  *   - committed ids come back in one deterministic order: numeric ids by
  *     value, then the rest by name (so frontier versions sort as
  *     numbers and `ref`/`c<n>` ids follow). */
object CommitLog {

  private val IdPattern = "[A-Za-z0-9_-]+"

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def marker(dir: String, id: String) = new Path(s"$dir/_commits/$id")

  private def ordered(ids: Iterable[String]): Seq[String] =
    ids.toSeq.sortBy(id => (id.toLongOption.getOrElse(Long.MaxValue), id))

  /** Every marker under a directory: id → the ids its body supersedes. */
  final case class Markers(bodies: Map[String, Seq[String]]) {
    val superseded: Set[String] = bodies.values.flatten.toSet
    /** Committed and not superseded, in the log's id order. */
    def live: Seq[String] = ordered(bodies.keys.filterNot(superseded))
    /** Every id ever committed, superseded ones included. */
    def seen: Set[String] = bodies.keySet ++ superseded
  }

  def markers(spark: SparkSession, dir: String): Markers = {
    val f = fs(spark, dir)
    val d = new Path(s"$dir/_commits")
    if (!f.exists(d)) Markers(Map.empty)
    else Markers(f.listStatus(d).filter(_.isFile).map { st =>
      val id = st.getPath.getName
      // only compactor markers (c*) carry bodies; skipping the open for
      // every other id keeps a read at one listing + #compactions opens
      val body =
        if (!id.startsWith("c")) ""
        else {
          val in = f.open(st.getPath)
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        }
      id -> body.split("\n").map(_.trim).filter(_.nonEmpty).toSeq
    }.toMap)
  }

  /** Committed, non-superseded ids at `dir`. */
  def committed(spark: SparkSession, dir: String): Seq[String] =
    markers(spark, dir).live

  /** Committed ids of a frontier directory, whose ids are numeric. */
  def versions(spark: SparkSession, dir: String): Seq[Long] =
    committed(spark, dir).map(_.toLong)

  /** Commit `id`: the single marker create that makes its writes
    * visible. `supersedes` becomes the marker's body. */
  def commit(spark: SparkSession, dir: String, id: String,
             supersedes: Seq[String] = Seq.empty): Unit = {
    val f = fs(spark, dir)
    f.mkdirs(new Path(s"$dir/_commits"))
    val out = f.create(marker(dir, id), false)
    try { if (supersedes.nonEmpty) out.write(supersedes.mkString("\n").getBytes("UTF-8")) }
    finally out.close()
  }

  /** Drop the whole directory — tables, frontiers and markers. */
  def reset(spark: SparkSession, dir: String): Unit =
    fs(spark, dir).delete(new Path(dir), true)

  // ------------------------------------------------------------------
  // Frontier family
  // ------------------------------------------------------------------

  /** The latest committed frontier `v=<id>/`, read one table at a time. */
  final class Frontier private[CommitLog] (spark: SparkSession,
                                           vdir: Option[String]) {
    /** `v=<id>/<table>`, or `empty` before the first commit. */
    def apply(table: String, empty: => DataFrame): DataFrame =
      vdir.fold(empty)(d => spark.read.parquet(s"$d/$table"))
  }

  private def frontier(spark: SparkSession, dir: String, done: Seq[Long]) =
    new Frontier(spark, done.lastOption.map(v => s"$dir/v=$v"))

  def latest(spark: SparkSession, dir: String): Frontier =
    frontier(spark, dir, versions(spark, dir))

  /** What one fold persists, written in this order: log slices
    * (`<log>/batch=<id>`), then frontier tables (`v=<id>/<table>`). */
  final case class Step(logs: Seq[(String, DataFrame)],
                        frontier: Seq[(String, DataFrame)])

  /** One fold of batch `batchId` into `dir`: a committed id is a no-op
    * (returns false); otherwise `fold` runs against the latest committed
    * frontier, its [[Step]] is written, the id commits and frontiers
    * older than the committed predecessor are deleted (logs are
    * permanent). An exception inside `fold` or a write leaves no marker. */
  def foldBatch(spark: SparkSession, dir: String, batchId: Long)
               (fold: Frontier => Step): Boolean = {
    val done = versions(spark, dir)
    if (done.contains(batchId)) return false
    val step = fold(frontier(spark, dir, done))
    step.logs.foreach { case (log, df) =>
      df.write.mode("overwrite").parquet(s"$dir/$log/batch=$batchId")
    }
    step.frontier.foreach { case (table, df) =>
      df.write.mode("overwrite").parquet(s"$dir/v=$batchId/$table")
    }
    commit(spark, dir, batchId.toString)
    val f = fs(spark, dir)
    done.dropRight(1).foreach(old => f.delete(new Path(s"$dir/v=$old"), true))
    true
  }

  /** Every committed slice of an append-only log, as one multi-path scan
    * (not a per-batch union: a long stream accumulates thousands of
    * slices). One listing of `<log>/` intersected with the committed
    * ids; None when no committed id wrote the log. */
  def readLog(spark: SparkSession, dir: String, log: String): Option[DataFrame] = {
    val ids = committed(spark, dir)
    val f = fs(spark, dir)
    val root = new Path(s"$dir/$log")
    val present =
      if (ids.isEmpty || !f.exists(root)) Set.empty[String]
      else f.listStatus(root).map(_.getPath.getName).toSet
    val slices = ids.map(id => s"batch=$id").filter(present)
    if (slices.isEmpty) None
    else Some(spark.read.parquet(slices.map(s => s"$dir/$log/$s"): _*))
  }

  // ------------------------------------------------------------------
  // Index family
  // ------------------------------------------------------------------

  /** Append one batch to the index at `path`. `write(id)` writes the
    * batch's slices of `tables` (`<table>/batch=<id>`); leftovers of a
    * crashed earlier attempt at the same id are cleared first. Returns
    * false, writing nothing, when the id is a replay. */
  def append(spark: SparkSession, path: String, tables: Seq[String],
             batchId: String)(write: String => Unit): Boolean = {
    val seen = markers(spark, path).seen
    val bid =
      if (batchId.nonEmpty) batchId
      else (seen.flatMap(_.toLongOption).maxOption.getOrElse(-1L) + 1L).toString
    require(bid.matches(IdPattern), s"unsafe index batch id: $bid")
    require(!bid.startsWith("c"),
      s"batch ids starting with 'c' are reserved for the compactor: $bid")
    if (seen.contains(bid)) {
      System.err.println(s"[commitlog] batch $bid already committed at $path — skipping (replay)")
      return false
    }
    val f = fs(spark, path)
    tables.foreach(t => f.delete(new Path(s"$path/$t/batch=$bid"), true))
    write(bid)
    commit(spark, path, bid)
    true
  }

  /** Consolidate every committed batch of `tables` into one new `c<n>`
    * batch. `layout(table, rows)` gives the writer for one table's
    * committed rows (`batch` column dropped) — the table's own
    * partitioning and sort. Returns the number of batches consolidated
    * (0 = nothing to do). */
  def compact(spark: SparkSession, path: String, tables: Seq[String])
             (layout: (String, DataFrame) => DataFrameWriter[Row]): Int = {
    val f = fs(spark, path)
    val ms = markers(spark, path)
    def drop(id: String): Unit = {
      f.delete(marker(path, id), false)
      tables.foreach(t => f.delete(new Path(s"$path/$t/batch=$id"), true))
    }
    // a crashed compaction's GC: superseded ids are invisible already
    ms.superseded.foreach(drop)
    val live = ms.live
    if (live.size <= 1) return 0
    for (t <- tables; root = new Path(s"$path/$t") if f.exists(root);
         st <- f.listStatus(root) if st.isDirectory) {
      val name = st.getPath.getName
      if (name.startsWith("batch=c") && !ms.bodies.contains(name.stripPrefix("batch=")))
        f.delete(st.getPath, true)
    }
    val cid = "c" + (ms.seen.filter(_.startsWith("c"))
      .flatMap(_.stripPrefix("c").toLongOption).maxOption.getOrElse(-1L) + 1L)
    val inScope = col("batch").cast("string").isin(live: _*)
    tables.foreach { t =>
      layout(t, spark.read.parquet(s"$path/$t").filter(inScope).drop("batch"))
        .mode("overwrite").parquet(s"$path/$t/batch=$cid")
    }
    // bodies are transitive by induction, so one level closes the chain
    commit(spark, path, cid,
      (live ++ live.flatMap(ms.bodies.getOrElse(_, Seq.empty))).distinct)
    live.foreach(drop)
    live.size
  }

  /** One index table restricted to committed batches. The filter touches
    * only the `batch` partition column, so uncommitted slices prune at
    * the listing and are never scanned. */
  def readCommitted(spark: SparkSession, path: String, table: String): DataFrame = {
    val live = committed(spark, path)
    require(live.nonEmpty, s"no committed batches at $path")
    spark.read.parquet(s"$path/$table")
      .filter(col("batch").cast("string").isin(live: _*)).drop("batch")
  }
}
