package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.DriftMonitor
import graft.state.CommitLog

/** Fault injection for the one commit protocol every state directory and
  * index uses: crashes between a write and its marker, replays, a crash
  * between a compaction's marker and its GC, frontier GC — plus the pin
  * that keeps the protocol in `graft.state`. */
class CommitLogSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft_commitlog").toString

  private def marker(dir: String, id: String): Path = Paths.get(dir, "_commits", id)

  private def longs(df: DataFrame): Seq[Long] =
    df.select(col("x")).as[Long].collect().sorted.toSeq

  /** `xs` as a one-column frame whose write fails when `crash` is set. */
  private def rows(xs: Seq[Long], crash: Boolean = false): DataFrame = {
    val df = xs.toDF("x")
    if (!crash) df
    else df.select(when(col("x").isNotNull, raise_error(lit("injected crash")))
      .cast("long").as("x"))
  }

  // ------------------------------------------------------------------
  // Index family
  // ------------------------------------------------------------------

  private val Tables = Seq("t", "u")

  private def appendBatch(dir: String, id: String, xs: Seq[Long],
                          crashAfter: Int = Int.MaxValue): Boolean =
    CommitLog.append(spark, dir, Tables, id) { bid =>
      Tables.zipWithIndex.foreach { case (t, i) =>
        xs.toDF("x").write.mode("overwrite").parquet(s"$dir/$t/batch=$bid")
        if (i + 1 == crashAfter) throw new RuntimeException("injected crash")
      }
    }

  private def indexView(dir: String): Seq[Seq[Long]] =
    Tables.map(t => longs(CommitLog.readCommitted(spark, dir, t)))

  test("index: a crash after each table write leaves the view unchanged; the retry commits") {
    val dir = tmp()
    assert(appendBatch(dir, "0", Seq(1L, 2L)))
    val before = indexView(dir)
    for (crashAfter <- 1 to Tables.size) {
      intercept[RuntimeException](appendBatch(dir, "1", Seq(10L, 11L), crashAfter))
      assert(!Files.exists(marker(dir, "1")))
      assert(CommitLog.committed(spark, dir) == Seq("0"))
      assert(indexView(dir) == before, s"torn batch visible after $crashAfter table(s)")
    }
    // the retry clears the torn slices, rewrites and commits — once
    assert(appendBatch(dir, "1", Seq(10L, 11L)))
    assert(CommitLog.committed(spark, dir) == Seq("0", "1"))
    assert(indexView(dir) == Seq.fill(Tables.size)(Seq(1L, 2L, 10L, 11L)))
  }

  test("index: replays of committed and compacted-away ids are no-ops; auto ids never reuse them") {
    val dir = tmp()
    (0 until 3).foreach(b => assert(appendBatch(dir, b.toString, Seq(b.toLong))))
    assert(!appendBatch(dir, "1", Seq(99L)), "committed id must replay as a no-op")
    assert(CommitLog.compact(spark, dir, Tables)((_, df) => df.coalesce(1).write) == 3)
    assert(CommitLog.committed(spark, dir) == Seq("c0"))
    val after = indexView(dir)
    assert(after == Seq.fill(Tables.size)(Seq(0L, 1L, 2L)))
    Seq("0", "1", "2").foreach { id =>
      assert(!appendBatch(dir, id, Seq(99L)), s"superseded id $id must replay as a no-op")
    }
    assert(indexView(dir) == after)
    assert(appendBatch(dir, "", Seq(3L)))
    assert(CommitLog.committed(spark, dir) == Seq("3", "c0"), "auto id continues past superseded ids")
    intercept[IllegalArgumentException](appendBatch(dir, "c7", Seq(4L)))
  }

  test("index: a crash between a compaction's marker and its GC counts nothing twice; the next compaction clears it") {
    val dir = tmp()
    (0 until 3).foreach(b => assert(appendBatch(dir, b.toString, Seq(b.toLong))))
    // keep the pre-compaction markers and slices to restore afterwards:
    // exactly what a crash right after the c0 marker create leaves behind
    val saved = tmp()
    val olds = Seq("0", "1", "2").flatMap(id =>
      s"_commits/$id" +: Tables.map(t => s"$t/batch=$id"))
    def copyTree(from: Path, to: Path): Unit =
      Files.walk(from).iterator.asScala.toList.foreach { p =>
        val q = to.resolve(from.relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(q)
        else { Files.createDirectories(q.getParent); Files.copy(p, q) }
      }
    olds.foreach(o => copyTree(Paths.get(dir, o), Paths.get(saved, o)))
    assert(CommitLog.compact(spark, dir, Tables)((_, df) => df.coalesce(1).write) == 3)
    olds.foreach(o => copyTree(Paths.get(saved, o), Paths.get(dir, o)))
    assert(olds.forall(o => Files.exists(Paths.get(dir, o))))
    assert(CommitLog.committed(spark, dir) == Seq("c0"))
    assert(indexView(dir) == Seq.fill(Tables.size)(Seq(0L, 1L, 2L)),
      "superseded leftovers must not be counted")
    // the next compaction clears every leftover, then consolidates
    assert(appendBatch(dir, "3", Seq(3L)))
    assert(CommitLog.compact(spark, dir, Tables)((_, df) => df.coalesce(1).write) == 2)
    assert(olds.forall(o => !Files.exists(Paths.get(dir, o))), "leftovers must be cleared")
    assert(CommitLog.committed(spark, dir) == Seq("c1"))
    assert(indexView(dir) == Seq.fill(Tables.size)(Seq(0L, 1L, 2L, 3L)))
    // c1's body carries c0's ids transitively: old replays stay no-ops
    assert(!appendBatch(dir, "0", Seq(99L)))
  }

  // ------------------------------------------------------------------
  // Frontier family
  // ------------------------------------------------------------------

  /** A running-sum fold: log = the batch, frontier `a` = Σ so far,
    * frontier `b` = batch count; `crashAt` fails that write (0 = the
    * log, 1 = `a`, 2 = `b`). */
  private def foldSum(dir: String, id: Long, xs: Seq[Long],
                      crashAt: Int = -1): Boolean =
    CommitLog.foldBatch(spark, dir, id) { prev =>
      val sum = longs(prev("a", rows(Seq(0L)))).sum + xs.sum
      val n = longs(prev("b", rows(Seq(0L)))).sum + 1
      CommitLog.Step(Seq("log" -> rows(xs, crashAt == 0)),
        Seq("a" -> rows(Seq(sum), crashAt == 1), "b" -> rows(Seq(n), crashAt == 2)))
    }

  private def frontierView(dir: String): (Seq[Long], Seq[Long], Seq[Long], Seq[Long]) = {
    val front = CommitLog.latest(spark, dir)
    (CommitLog.versions(spark, dir),
      CommitLog.readLog(spark, dir, "log").map(longs).getOrElse(Seq.empty),
      longs(front("a", rows(Seq.empty))), longs(front("b", rows(Seq.empty))))
  }

  test("frontier: a crash after each log or frontier write leaves the view unchanged; the retry commits") {
    val dir = tmp()
    assert(foldSum(dir, 0L, Seq(1L, 2L)))
    val before = frontierView(dir)
    assert(before == ((Seq(0L), Seq(1L, 2L), Seq(3L), Seq(1L))))
    for (crashAt <- 0 to 2) {
      intercept[Exception](foldSum(dir, 1L, Seq(10L), crashAt))
      assert(!Files.exists(marker(dir, "1")))
      assert(frontierView(dir) == before, s"torn fold visible after write $crashAt")
    }
    assert(foldSum(dir, 1L, Seq(10L)))
    assert(frontierView(dir) == ((Seq(0L, 1L), Seq(1L, 2L, 10L), Seq(13L), Seq(2L))))
  }

  test("frontier: a replayed id is a no-op and GC keeps exactly the predecessor and the new version") {
    val dir = tmp()
    def versionDirs(): Set[String] =
      Files.list(Paths.get(dir)).iterator.asScala.map(_.getFileName.toString)
        .filter(_.startsWith("v=")).toSet
    (0L to 3L).foreach { id =>
      assert(foldSum(dir, id, Seq(id)))
      assert(versionDirs() == Set(id - 1, id).filter(_ >= 0).map(v => s"v=$v"))
    }
    val before = frontierView(dir)
    var folded = false
    assert(!CommitLog.foldBatch(spark, dir, 2L) { _ =>
      folded = true; CommitLog.Step(Seq.empty, Seq.empty)
    })
    assert(!folded, "a replay must not run the fold")
    assert(frontierView(dir) == before && versionDirs() == Set("v=2", "v=3"))
  }

  test("cusumBatch: an ordering-guard trip leaves no commit marker; the retry commits") {
    // the guards trip inside cusumFold with adaptive execution on and in
    // the scores write with it off: neither may get past the commit
    val saved = spark.conf.get("spark.sql.adaptive.enabled")
    try for (aqe <- Seq("true", "false")) {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      val dir = tmp()
      def ticks(ts: Range) = ts.map(t => ("A", t.toLong, 10.0 + t % 3)).toDF("k", "t", "v")
        .withColumn("ts", expr("timestamp_micros(t)"))
      def fold(id: Long, ts: Range) = DriftMonitor.cusumBatch(spark, dir, id, ticks(ts),
        Seq("k"), "ts", "v", "t", target = 10.0, slack = 0.5, threshold = 5.0)
      assert(fold(0L, 1 to 5).count() == 5)
      val err = intercept[Exception](fold(1L, 3 to 8)) // t=3 is behind the watermark
      assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .exists(e => String.valueOf(e.getMessage).contains("ordering contract violated")), err)
      assert(!Files.exists(marker(dir, "1")), s"marker written with adaptive=$aqe")
      assert(CommitLog.versions(spark, dir) == Seq(0L))
      assert(DriftMonitor.cusumScores(spark, dir).count() == 5)
      assert(fold(1L, 6 to 8).count() == 8)
      assert(CommitLog.versions(spark, dir) == Seq(0L, 1L))
    } finally spark.conf.set("spark.sql.adaptive.enabled", saved)
  }

  // ------------------------------------------------------------------
  // Shared rules
  // ------------------------------------------------------------------

  test("markers: one id order, files only, and a second create of a marker fails loudly") {
    val dir = tmp()
    Seq("10", "ref", "2", "c0").foreach(id => CommitLog.commit(spark, dir, id))
    Files.createDirectories(marker(dir, "7"))
    assert(CommitLog.committed(spark, dir) == Seq("2", "10", "c0", "ref"))
    intercept[java.io.IOException](CommitLog.commit(spark, dir, "2"))
  }

  test("pin: only graft/state lists, creates or reads commit markers or deletes frontiers") {
    val src = Paths.get("src/main/scala")
    val patterns = Seq("_commits".r, """(?<!URI|HttpServer)\.create\(""".r,
      """delete\(.*v=""".r)
    def hits(p: Path): Seq[String] =
      Files.readAllLines(p).asScala.toSeq.zipWithIndex.collect {
        case (line, i) if patterns.exists(_.findFirstIn(line).nonEmpty) =>
          s"$p:${i + 1}: ${line.trim}"
      }
    val files = Files.walk(src).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toList
    val (state, rest) = files.partition(_.toString.contains("/graft/state/"))
    assert(state.flatMap(hits).nonEmpty, "the scan must see the protocol in graft/state")
    val offenders = rest.flatMap(hits)
    assert(offenders.isEmpty,
      s"commit protocol written outside graft/state:\n${offenders.mkString("\n")}")
  }
}
