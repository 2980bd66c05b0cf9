package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{LakeSelect, TableLog}

/** Transaction-log semantics: version resolution from the log only (not
  * directory listing), time travel, overwrite isolation, vacuum retention,
  * and optimistic-commit conflicts. */
class TableLogSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("tlspec").toString + "/t"

  test("append/overwrite/append: every version time-travels exactly") {
    val dir = freshDir()
    assert(TableLog.currentVersion(dir) == 0)
    TableLog.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), dir)
    TableLog.append(Seq((3L, "c")).toDF("id", "s"), dir)
    TableLog.overwrite(Seq((9L, "z")).toDF("id", "s"), dir)
    TableLog.append(Seq((10L, "y")).toDF("id", "s"), dir)
    assert(TableLog.currentVersion(dir) == 4)
    def ids(v: Int) = TableLog.read(spark, dir, v)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids(1) == Set(1L, 2L))
    assert(ids(2) == Set(1L, 2L, 3L))
    assert(ids(3) == Set(9L))   // overwrite hides, does not delete
    assert(ids(4) == Set(9L, 10L))
    assert(ids(-1) == Set(9L, 10L)) // latest
  }

  test("readers see only committed files: orphans in data/ are invisible") {
    val dir = freshDir()
    TableLog.append(Seq((1L, "a")).toDF("id", "s"), dir)
    // plant an orphan parquet (e.g. a crashed writer's leftover)
    Seq((666L, "orphan")).toDF("id", "s").write.mode("overwrite")
      .parquet(dir + "/orphan_stage")
    val orphan = new java.io.File(dir + "/orphan_stage").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(orphan.toPath,
      java.nio.file.Paths.get(dir, "data", "v99999-orphan.parquet"))
    val got = TableLog.read(spark, dir).select("id")
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(1L), s"orphan leaked into a committed read: $got")
  }

  test("vacuum drops unreferenced files and pre-keepFrom versions; " +
    "retained versions stay readable") {
    val dir = freshDir()
    TableLog.append(Seq((1L, "a")).toDF("id", "s"), dir)   // v1
    TableLog.overwrite(Seq((2L, "b")).toDF("id", "s"), dir) // v2
    TableLog.append(Seq((3L, "c")).toDF("id", "s"), dir)   // v3
    val deleted = TableLog.vacuum(dir, keepFrom = 2, graceMs = 0L)
    assert(deleted.nonEmpty && deleted.forall(_.startsWith("data/v00001")),
      s"vacuum must delete exactly v1's files: $deleted")
    // v1 is gone loudly; v2 and v3 read exactly
    intercept[IllegalArgumentException] { TableLog.snapshot(dir, 1) }
    assert(TableLog.read(spark, dir, 2).count() == 1)
    assert(TableLog.read(spark, dir, 3).select("id")
      .collect().map(_.getLong(0)).toSet == Set(2L, 3L))
  }

  test("optimistic concurrency: a racing commit to the same version " +
    "loses loudly") {
    val dir = freshDir()
    TableLog.append(Seq((1L, "a")).toDF("id", "s"), dir)
    // simulate a racer that already published v2 after our writer had
    // planned its own commit against v1
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_graft_log", "v00002.json"),
      """{"version":2,"files":[]}""".getBytes("UTF-8"))
    intercept[IllegalStateException] {
      TableLog.commit(dir, Seq("data/whatever.parquet"),
        expectedVersion = 2)
    }
    // the table is still consistent at the racer's v2
    assert(TableLog.currentVersion(dir) == 2)
  }

  test("CDC apply over a versioned table: the new version carries the " +
    "merge, the old version still reads the pre-apply state") {
    import org.apache.spark.sql.functions.col
    val dir = freshDir()
    TableLog.append(Seq((1L, 10L), (2L, 20L), (3L, 30L))
      .toDF("id", "v"), dir)
    val snap = TableLog.read(spark, dir)
    val ch = Seq((2L, 21L, 1L, "U"), (3L, 0L, 1L, "D"), (4L, 40L, 1L, "I"))
      .toDF("id", "v", "seq", "op")
    val merged = graft.operators.Changelog.applyChangelog(
      snap, ch, Seq("id"), "seq", "op")
    val v2 = TableLog.overwrite(merged, dir)
    assert(v2 == 2)
    def state(ver: Int) = TableLog.read(spark, dir, ver)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(state(2).toSeq == Seq((1L, 10L), (2L, 21L), (4L, 40L)))
    assert(state(1).toSeq == Seq((1L, 10L), (2L, 20L), (3L, 30L)),
      "time travel must still see the pre-CDC snapshot")
    // note col import used for the isolation probe below
    assert(TableLog.read(spark, dir, 1).filter(col("id") === 3L)
      .count() == 1)
  }

  test("real commit race: 16 threads, exactly one winner per version") {
    val dir = freshDir()
    TableLog.append(Seq((1L, "a")).toDF("id", "s"), dir)
    // all 16 racers plan against v1 and try to publish v2 simultaneously
    val barrier = new java.util.concurrent.CyclicBarrier(16)
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val conflicts = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (0 until 16).map { i =>
      new Thread(() => {
        barrier.await()
        try {
          TableLog.commit(dir, Seq(s"data/racer-$i.parquet"),
            expectedVersion = 2)
          wins.incrementAndGet()
        } catch {
          case _: IllegalStateException => conflicts.incrementAndGet()
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(wins.get() == 1 && conflicts.get() == 15,
      s"wins=${wins.get()} conflicts=${conflicts.get()}")
    assert(TableLog.currentVersion(dir) == 2)
    assert(TableLog.snapshot(dir, 2).files.length == 1)
  }

  test("empty table and missing versions fail loudly, not mysteriously") {
    val dir = freshDir()
    intercept[IllegalArgumentException] { TableLog.snapshot(dir) }
    TableLog.append(Seq((1L, "a")).toDF("id", "s"), dir)
    intercept[IllegalArgumentException] { TableLog.snapshot(dir, 7) }
  }

  test("concurrent append()s ALL succeed: N appenders, N new versions, " +
    "zero aborts (rebase-retry: appends are disjoint, never a conflict)") {
    val dir = freshDir()
    TableLog.append(Seq((0L, "base")).toDF("id", "s"), dir)
    val barrier = new java.util.concurrent.CyclicBarrier(8)
    val ok = new java.util.concurrent.atomic.AtomicInteger(0)
    val failed = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val threads = (0 until 8).map { i =>
      new Thread(() => {
        barrier.await()
        try { TableLog.append(Seq((i.toLong + 1, s"w$i")).toDF("id", "s"),
                dir, maxRetries = 100)
              ok.incrementAndGet(); () }
        catch { case t: Throwable => failed.compareAndSet(null, t); () }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(failed.get() == null, s"an append aborted: ${failed.get()}")
    assert(ok.get() == 8)
    assert(TableLog.currentVersion(dir) == 9, "one version per appender")
    assert(TableLog.read(spark, dir).count() == 9L, "lost update")
    // every intermediate version is a superset chain: nothing dropped
    val sizes = (1 to 9).map(v => TableLog.snapshot(dir, v).files.size)
    assert(sizes == sizes.sorted, s"file sets must only grow: $sizes")
  }

  test("optimize racing concurrent appends rebases: appended rows are " +
    "never dropped, compaction still lands") {
    val dir = freshDir()
    (0 until 6).foreach(i =>
      TableLog.append(Seq((i.toLong, s"seed$i")).toDF("id", "s"), dir))
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val optErr = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val optDone = new java.util.concurrent.atomic.AtomicInteger(0)
    val optimizer = new Thread(() => {
      try {
        while (!stop.get()) {
          TableLog.optimize(spark, dir, maxRows = 1000000L,
            maxRetries = 200)
          optDone.incrementAndGet()
        }
      } catch { case t: Throwable => optErr.compareAndSet(null, t) }
    })
    optimizer.start()
    // appends land while the optimizer loops — rebase must carry every
    // one of them through the compaction commits
    (0 until 10).foreach { i =>
      TableLog.append(Seq((100L + i, s"live$i")).toDF("id", "s"), dir,
        maxRetries = 200)
    }
    stop.set(true); optimizer.join()
    assert(optErr.get() == null, s"optimize aborted: ${optErr.get()}")
    assert(optDone.get() >= 1, "the optimizer never completed a pass")
    assert(TableLog.read(spark, dir).count() == 16L,
      "an appended row was dropped by a rebasing optimize")
    // a final quiesced pass collapses whatever small files remain
    TableLog.optimize(spark, dir, maxRows = 1000000L)
    assert(TableLog.snapshot(dir).files.size <= 2)
    assert(TableLog.read(spark, dir).count() == 16L)
  }

  test("stagePartitioned: partition values with colliding hashCodes " +
    "land in distinct files (regression: abs(hashCode) prefix collided)") {
    val dir = freshDir()
    // "Aa" and "BB" have the SAME java hashCode — the old naming scheme
    // mapped both leaves to one target path and rename() silently
    // replaced the first file
    assert("Aa".hashCode == "BB".hashCode)
    TableLog.appendPartitioned(
      Seq((1L, "Aa"), (2L, "BB")).toDF("id", "p"), dir, "p")
    val snap = TableLog.snapshot(dir)
    assert(snap.files.distinct.size == snap.files.size)
    assert(snap.parts.values.toSet == Set("Aa", "BB"))
    assert(TableLog.read(spark, dir).count() == 2L)
    val (aa, st) = LakeSelect.readWhere(spark, dir, "p = 'Aa'")
    assert(aa.count() == 1L)
    assert(st.filesOpened == snap.parts.values.count(_ == "Aa") &&
      st.filesOpened < st.filesTotal, st.toString)
  }

  test("vacuum guards: future-version staged files and files inside the " +
    "grace window survive; stale orphans still go") {
    val dir = freshDir()
    TableLog.append(Seq((1L, "a")).toDF("id", "s"), dir)
    TableLog.append(Seq((2L, "b")).toDF("id", "s"), dir)
    val data = java.nio.file.Paths.get(dir, "data")
    // an in-flight commit's staged file: version prefix beyond the head
    val inflight = data.resolve("v00099-part-inflight.parquet")
    java.nio.file.Files.write(inflight, Array[Byte](1, 2, 3))
    // a stale orphan (lost race, old version prefix)
    val orphan = data.resolve("v00001-part-orphan.parquet")
    java.nio.file.Files.write(orphan, Array[Byte](1, 2, 3))
    // grace window: NOTHING young is deleted, even the stale-prefix orphan
    val none = TableLog.vacuum(dir, keepFrom = 2, graceMs = 3600000L)
    assert(none.isEmpty, s"grace window violated: $none")
    assert(java.nio.file.Files.exists(orphan))
    // grace-less vacuum reclaims the stale orphan (and v1's data file)
    // but never the future-version staged file
    val gone = TableLog.vacuum(dir, keepFrom = 2, graceMs = 0L).toSet
    assert(gone.contains("data/v00001-part-orphan.parquet"))
    assert(java.nio.file.Files.exists(inflight),
      "vacuum deleted an in-flight commit's staged file")
    assert(TableLog.read(spark, dir).count() == 2L)
  }

  test("restore commits an old version's file set FORWARD: overwritten " +
    "state stays time-travelable, txn markers survive, zero data moved") {
    val dir = freshDir()
    TableLog.append(Seq((1L, "a")).toDF("id", "s"), dir) // v1
    TableLog.appendExactlyOnce(Seq((2L, "b")).toDF("id", "s"),
      dir, "w", 0L) // v2
    val filesBefore = TableLog.snapshot(dir, 2).files
    TableLog.overwrite(Seq((9L, "z")).toDF("id", "s"), dir) // v3
    val v = TableLog.restore(dir, 2)
    assert(v == 4)
    // the head is v2's exact file set — restore moved no data bytes
    assert(TableLog.snapshot(dir).files == filesBefore)
    assert(TableLog.read(spark, dir).collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L))
    // the overwritten state still time-travels
    assert(TableLog.read(spark, dir, 3).collect().map(_.getLong(0))
      .toSet == Set(9L))
    // exactly-once markers carried through overwrite AND restore: the
    // replayed batch is still recognized
    assert(TableLog.appendExactlyOnce(Seq((2L, "b")).toDF("id", "s"),
      dir, "w", 0L).isEmpty)
    val hist = TableLog.history(spark, dir).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(hist(4) == "restore" && hist(3) == "overwrite")
    // restoring to a version that never existed fails loudly
    intercept[IllegalArgumentException] { TableLog.restore(dir, 99) }
  }

  test("delete: copy-on-write touches only files with matches, keeps " +
    "NULL-predicate rows, and the old version still time-travels") {
    val dir = freshDir()
    // three files by id range; s is NULL for id 2 (three-valued check)
    TableLog.append(Seq((1L, Some("a")), (2L, None: Option[String]))
      .toDF("id", "s"), dir)
    TableLog.append(Seq((10L, Some("b")), (11L, Some("bb")))
      .toDF("id", "s"), dir)
    TableLog.append(Seq((20L, Some("c"))).toDF("id", "s"), dir)
    // predicate TRUE for id=1; NULL for id=2 (s IS NULL -> length(s)
    // comparison is NULL) -> id=2 must SURVIVE
    val (v, n, rew, tot) = TableLog.delete(spark, dir,
      "id < 5 AND length(s) > 0")
    assert(v == 4 && n == 1L, s"v=$v n=$n")
    assert(rew == 1 && rew < tot,
      s"only the matching file rewrites: $rew of $tot")
    assert(TableLog.read(spark, dir).collect().map(_.getLong(0)).toSet ==
      Set(2L, 10L, 11L, 20L))
    assert(TableLog.read(spark, dir, 3).count() == 5L, "time travel broken")
    // no-match delete commits nothing
    val (v2, n2, rew2, _) = TableLog.delete(spark, dir, "id = 999")
    assert(v2 == 4 && n2 == 0L && rew2 == 0)
  }

  test("update: simultaneous SET against the OLD row; partition tags " +
    "survive the rewrite") {
    val dir = freshDir()
    TableLog.appendPartitioned(
      Seq((1L, 10L, "p1"), (2L, 20L, "p1"), (3L, 30L, "p2"))
        .toDF("id", "v", "p"), dir, "p")
    // swap-style simultaneous assignment: v := id, id := v — UPDATE
    // semantics require both RHS to see the OLD row
    val (_, n, _, _) = TableLog.update(spark, dir, "p = 'p1'",
      Map("id" -> "v", "v" -> "id"))
    assert(n == 2L)
    val rows = TableLog.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(rows == Set((10L, 1L, "p1"), (20L, 2L, "p1"), (3L, 30L, "p2")),
      rows.toString)
    // the p1 partition tag survived the copy-on-write
    val snap = TableLog.snapshot(dir)
    assert(snap.files.forall(snap.parts.contains), "untagged rewrite")
    Seq("p1" -> 2L, "p2" -> 1L).foreach { case (p, n) =>
      val (rows, st) = LakeSelect.readWhere(spark, dir, s"p = '$p'")
      assert(rows.count() == n)
      assert(st.filesOpened == snap.parts.values.count(_ == p) &&
        st.filesOpened < st.filesTotal, st.toString)
    }
  }

  test("delete/update cross-validate against recomputed frames on a " +
    "seeded random table (chunked appends, null values included)") {
    val rnd = new scala.util.Random(11L)
    val dir = freshDir()
    val rows = (0 until 400).map { i =>
      (i.toLong, rnd.nextInt(1000).toLong,
        if (rnd.nextInt(10) == 0) null else s"t${rnd.nextInt(5)}")
    }
    rows.grouped(100).foreach(chunk =>
      TableLog.append(chunk.toDF("id", "v", "s"), dir))
    def state(): Map[Long, (Long, String)] =
      TableLog.read(spark, dir).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    var expected = rows.map { case (id, v, s) => id -> (v, s) }.toMap
    // DELETE: predicate over v; NULL s rows must follow plain SQL rules
    TableLog.delete(spark, dir, "v % 7 = 3")
    expected = expected.filterNot { case (_, (v, _)) => v % 7 == 3 }
    assert(state() == expected, "delete diverged")
    // UPDATE touching a string predicate (NULL s -> predicate NULL ->
    // row untouched)
    TableLog.update(spark, dir, "s = 't1'", Map("v" -> "v + 10000"))
    expected = expected.map { case (id, (v, s)) =>
      id -> (if (s == "t1") v + 10000 else v, s)
    }
    assert(state() == expected, "update diverged")
    // second DELETE over the updated values
    TableLog.delete(spark, dir, "v >= 10000")
    expected = expected.filterNot { case (_, (v, _)) => v >= 10000 }
    assert(state() == expected, "post-update delete diverged")
    // vectored DELETE interleaves with copy-on-write ops
    TableLog.deleteVectored(spark, dir, "v % 5 = 2")
    expected = expected.filterNot { case (_, (v, _)) => v % 5 == 2 }
    assert(state() == expected, "vectored delete diverged")
    // UPDATE after the DV: hidden rows must not resurface or update
    TableLog.update(spark, dir, "v % 3 = 0", Map("v" -> "v + 100000"))
    expected = expected.map { case (id, (v, s)) =>
      id -> (if (v % 3 == 0) v + 100000 else v, s)
    }
    assert(state() == expected, "post-DV update diverged")
    // second DV on top of the rewritten files, then compaction
    TableLog.deleteVectored(spark, dir, "s = 't3'")
    expected = expected.filterNot { case (_, (_, s)) => s == "t3" }
    assert(state() == expected, "second vectored delete diverged")
    TableLog.optimize(spark, dir)
    assert(TableLog.snapshot(dir).dvs.isEmpty, "optimize left vectors")
    assert(state() == expected, "optimize diverged")
    assert(expected.nonEmpty, "degenerate fixture")
  }

  test("update casts SET expressions back to the column type — a " +
    "widening assignment must not change the table's physical schema") {
    val dir = freshDir()
    TableLog.append(Seq((1L, 10L), (2L, 20L)).toDF("id", "v"), dir)
    TableLog.append(Seq((3L, 30L)).toDF("id", "v"), dir)
    // v * 1.1 is DOUBLE; without the cast the touched file commits with
    // v: double while the untouched file keeps v: bigint and plain
    // reads of the mixed snapshot break
    TableLog.update(spark, dir, "id = 1", Map("v" -> "v * 1.1"))
    val out = TableLog.read(spark, dir)
    assert(out.schema("v").dataType ==
      org.apache.spark.sql.types.LongType, "schema drifted")
    assert(out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 11L, 2L -> 20L, 3L -> 30L))
  }

  test("copy-on-write across an add-column evolution keeps the evolved " +
    "column (mergeSchema on both scans)") {
    val dir = freshDir()
    TableLog.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), dir)
    TableLog.append(Seq((3L, "c", 33L), (4L, "d", 44L))
      .toDF("id", "s", "extra"), dir)
    // predicate touches BOTH files; the rewrite group's scan must merge
    // schemas or the evolved `extra` silently vanishes from survivors
    val (_, n, _, _) = TableLog.delete(spark, dir, "id IN (1, 3)")
    assert(n == 2L)
    val rows = TableLog.readEvolved(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getLong(2))).toSet
    assert(rows == Set((2L, "b", null), (4L, "d", 44L)), rows.toString)
    // a predicate on the evolved column alone also plans (mergeSchema
    // on the matched-files scan)
    val (_, n2, _, _) = TableLog.delete(spark, dir, "extra = 44")
    assert(n2 == 1L)
    assert(TableLog.readEvolved(spark, dir).count() == 1L)
  }

  test("optimize(clusterBy) with 4+ numeric columns shrinks the z-order " +
    "bits instead of crashing") {
    val dir = freshDir()
    (0 until 3).foreach(i => TableLog.append(
      (0 until 200).map(j => (i * 200L + j, j % 7L, j % 11L, j % 13L))
        .toDF("a", "b", "c", "d"), dir))
    val (v, before, after) = TableLog.optimize(spark, dir,
      maxRows = 1000L, clusterBy = Seq("a", "b", "c", "d"))
    assert(v >= 1 && after <= before)
    assert(TableLog.read(spark, dir).count() == 600L)
  }

  test("appendExactlyOnce: a replayed streaming batch commits nothing") {
    val dir = freshDir()
    val b0 = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    val b1 = Seq((3L, "c")).toDF("id", "s")
    assert(TableLog.appendExactlyOnce(b0, dir, "streamA", 0L) == Some(1))
    assert(TableLog.appendExactlyOnce(b1, dir, "streamA", 1L) == Some(2))
    // recovery replays the last batch — must be a no-op, loudly None
    assert(TableLog.appendExactlyOnce(b1, dir, "streamA", 1L).isEmpty)
    assert(TableLog.currentVersion(dir) == 2)
    assert(TableLog.read(spark, dir).count() == 3)
    // a different writer stream has its own batch counter
    assert(TableLog.appendExactlyOnce(b1, dir, "streamB", 0L) == Some(3))
    assert(TableLog.snapshot(dir).txn ==
      Map("streamA" -> 1L, "streamB" -> 0L))
  }

  test("appendExactlyOnce: contending writer streams retry through " +
    "conflicts; per-stream batches land exactly once") {
    val dir = freshDir()
    TableLog.append(Seq((0L, "base")).toDF("id", "s"), dir)
    val barrier = new java.util.concurrent.CyclicBarrier(4)
    val threads = (0 until 4).map { i =>
      new Thread(() => {
        barrier.await()
        (0 to 1).foreach { b =>
          TableLog.appendExactlyOnce(
            Seq((i * 10L + b, s"w$i-$b")).toDF("id", "s"),
            dir, s"stream$i", b.toLong, maxRetries = 50)
          ()
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(TableLog.read(spark, dir).count() == 1L + 8L)
    val txn = TableLog.snapshot(dir).txn
    assert((0 until 4).forall(i => txn(s"stream$i") == 1L), txn.toString)
  }

  test("optimize: file count collapses, rows and cents identical, the " +
    "pre-optimize version still time-travels") {
    val dir = freshDir()
    (0 until 5).foreach { i =>
      TableLog.append(Seq((i * 2L, i * 100L), (i * 2L + 1, i * 100L + 1))
        .toDF("id", "v").repartition(2), dir)
    }
    val pre = TableLog.currentVersion(dir)
    val filesPre = TableLog.snapshot(dir).files.size
    val (ver, before, after) = TableLog.optimize(spark, dir)
    assert(ver == pre + 1 && before == filesPre && after < before,
      s"($ver, $before, $after) vs pre=$pre/$filesPre")
    def state(v: Int) = TableLog.read(spark, dir, v)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(state(ver) == state(pre))
    assert(state(ver).size == 10)
    // vacuum to the optimized version: old fragments deleted, new reads
    TableLog.vacuum(dir, keepFrom = ver, graceMs = 0L)
    assert(state(ver).size == 10)
    intercept[IllegalArgumentException] { TableLog.snapshot(dir, pre) }
  }

  test("optimize(clusterBy) range-sorts globally; readWhere skips " +
    "files and never reads orphans") {
    val dir = freshDir()
    // 3 unclustered appends, keys interleaved across the range
    (0 until 3).foreach { i =>
      TableLog.append((0L until 300L).filter(_ % 3 == i)
        .map(k => (k, k * 10)).toDF("k", "v").repartition(2), dir)
    }
    val (before, _) = LakeSelect.readWhere(spark, dir, "k BETWEEN 0 AND 49")
    assert(before.count() == 50)
    val (ver, _, after) =
      TableLog.optimize(spark, dir, maxRows = 60, clusterBy = Seq("k"))
    assert(after >= 5, s"expected ~5 range files, got $after")
    // plant an orphan with extreme keys: the log-resolved index must
    // never open it, and the pruned read must not see its rows
    Seq((0L, 999999L)).toDF("k", "v").write.mode("overwrite")
      .parquet(dir + "/orphan_stage")
    val orphan = new java.io.File(dir + "/orphan_stage").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(orphan.toPath,
      java.nio.file.Paths.get(dir, "data", f"v$ver%05d-orphan.parquet"))
    val (pr, st) = LakeSelect.readWhere(spark, dir, "k BETWEEN 0 AND 49")
    assert(st.filesOpened < st.filesTotal, s"no skip: $st")
    val got = pr.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == (0L until 50L).map(k => (k, k * 10)).toSet,
      "pruned read lost rows or leaked the orphan")
  }

  test("appendPartitioned + readWhere: tags prune to the asked " +
    "partitions; optimize preserves tags") {
    val dir = freshDir()
    val df = Seq((1L, "x", 10L), (2L, "y", 20L), (3L, "x", 30L),
      (4L, "z", 40L)).toDF("id", "part", "v")
    TableLog.appendPartitioned(df, dir, "part")
    TableLog.appendPartitioned(
      Seq((5L, "x", 50L)).toDF("id", "part", "v"), dir, "part")
    // readWhere re-applies the predicate, so the rows alone cannot show
    // pruning: the files opened must be exactly the x-tagged ones
    def xIds(): Set[Long] = {
      val (xs, st) = LakeSelect.readWhere(spark, dir, "part = 'x'")
      val snap = TableLog.snapshot(dir)
      assert(st.filesOpened == snap.parts.values.count(_ == "x") &&
        st.filesOpened < st.filesTotal, st.toString)
      xs.select("id").collect().map(_.getLong(0)).toSet
    }
    assert(xIds() == Set(1L, 3L, 5L))
    // the partition column survives in the data files (shadow-col write)
    assert(TableLog.read(spark, dir).columns.contains("part"))
    val (_, _, _) = TableLog.optimize(spark, dir)
    assert(xIds() == Set(1L, 3L, 5L), "tags lost through optimize")
    val snap = TableLog.snapshot(dir)
    assert(snap.files.nonEmpty &&
      snap.files.forall(snap.parts.contains), "untagged file appeared")
  }

  test("changes: append = inserts only; overwrite = full delete+insert") {
    val dir = freshDir()
    TableLog.append(Seq((1L, 10L), (2L, 20L)).toDF("id", "v"), dir)
    TableLog.append(Seq((3L, 30L)).toDF("id", "v"), dir)
    val d12 = TableLog.changes(spark, dir, 1, 2)
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(d12 == Set((3L, "insert")))
    TableLog.overwrite(Seq((9L, 90L)).toDF("id", "v"), dir)
    val d23 = TableLog.changes(spark, dir, 2, 3)
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(d23 == Set((1L, "delete"), (2L, "delete"), (3L, "delete"),
      (9L, "insert")))
    // spanning diff v1→v3: v1 files all dropped, v3 files all new
    val d13 = TableLog.changes(spark, dir, 1, 3)
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(d13 == Set((1L, "delete"), (2L, "delete"), (9L, "insert")))
  }

  test("changes: same version or untouched file set is an empty feed") {
    val dir = freshDir()
    TableLog.append(Seq((1L, 10L)).toDF("id", "v"), dir)
    val d = TableLog.changes(spark, dir, 1, 1)
    assert(d.count() == 0L)
    assert(d.columns.toSeq == Seq("id", "v", "_change_type"))
  }

  test("changes: only touched files are read, never either snapshot") {
    val dir = freshDir()
    // v1: large base; v2: one small append — the diff must read only the
    // appended file(s), which the scanned-file count exposes
    TableLog.append((1L to 1000L).map(i => (i, i)).toDF("id", "v")
      .repartition(4), dir)
    TableLog.append(Seq((2000L, 1L)).toDF("id", "v"), dir)
    val df = TableLog.changes(spark, dir, 1, 2)
    val scanned = df.queryExecution.executedPlan.collectLeaves().map {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.inputFiles.length
      case _ => 0
    }.sum
    assert(scanned == 1, s"diff read $scanned files, expected 1")
    assert(df.count() == 1L)
  }

  test("history records tagged ops; versionAtTime resolves instants") {
    val dir = freshDir()
    TableLog.append(Seq((1L, 10L)).toDF("id", "v"), dir)
    TableLog.append(Seq((2L, 20L)).toDF("id", "v"), dir)
    TableLog.overwrite(Seq((9L, 90L)).toDF("id", "v"), dir)
    TableLog.append(Seq((3L, 30L)).toDF("id", "v"), dir)
    TableLog.optimize(spark, dir)
    val h = TableLog.history(spark, dir).orderBy("version").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2)))
    assert(h.map(x => (x._1, x._2)).toSeq == Seq((1, "append"),
      (2, "append"), (3, "overwrite"), (4, "append"), (5, "optimize")), h.toSeq)
    // optimize collapsed the 2 post-overwrite files into 1
    assert(h.last._3 < h(3)._3 || h(3)._3 == 1, h.toSeq)
    // timestamps are monotone non-decreasing and set
    val ts = TableLog.history(spark, dir).orderBy("version")
      .collect().map(_.getLong(3))
    assert(ts.forall(_ > 0L) && ts.sliding(2).forall(p => p(0) <= p(1)))
    // instant resolution: v2's ts resolves to >= 2, < first-commit errors
    val v2ts = TableLog.snapshot(dir, 2).ts
    assert(TableLog.versionAtTime(dir, v2ts) >= 2)
    val t0 = TableLog.snapshot(dir, 1).ts - 1
    intercept[IllegalArgumentException] {
      TableLog.versionAtTime(dir, t0)
    }
    // the latest instant resolves to the latest version
    assert(TableLog.versionAtTime(dir, Long.MaxValue) ==
      TableLog.currentVersion(dir))
  }

  test("merge through applyToLakeVersioned is tagged in history") {
    val dir = freshDir()
    val rows = (1L to 8L).map(i => (i, i, s"p${i % 2}"))
    TableLog.appendPartitioned(rows.toDF("id", "v", "part"), dir, "part")
    val ch = Seq((2L, 0L, "p0", 1L, "D"))
      .toDF("id", "v", "part", "seq", "op")
    graft.operators.Changelog.applyToLakeVersioned(dir, ch, "part",
      Seq("id"), "seq", "op")
    val ops = TableLog.history(spark, dir).orderBy("version")
      .collect().map(_.getString(1)).toSeq
    assert(ops == Seq("append", "merge"), ops)
  }

  test("changes spans an add-column evolution without dropping the column") {
    val dir = freshDir()
    TableLog.append(Seq((1L, 10L)).toDF("id", "v"), dir)
    TableLog.append(Seq((2L, 20L, "new")).toDF("id", "v", "note"), dir)
    TableLog.overwrite(Seq((9L, 90L, "ow")).toDF("id", "v", "note"), dir)
    // v2→v3: deletes straddle the evolution (v1 file has no note column)
    val d = TableLog.changes(spark, dir, 2, 3)
    assert(d.columns.contains("note"), d.columns.toSeq.toString)
    val rows = d.collect().map(r => (r.getLong(0),
      Option(r.getAs[String]("note")).getOrElse("-"),
      r.getAs[String]("_change_type"))).toSet
    assert(rows == Set((1L, "-", "delete"), (2L, "new", "delete"),
      (9L, "ow", "insert")), rows.toString)
  }

  test("readEvolved: files predating a column read it as null") {
    val dir = freshDir()
    TableLog.append(Seq((1L, 10L)).toDF("id", "v"), dir)
    TableLog.append(Seq((2L, 20L, "fresh")).toDF("id", "v", "note"), dir)
    val rows = TableLog.readEvolved(spark, dir)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        Option(r.getString(2)).getOrElse("-")))
    assert(rows.toSeq == Seq((1L, 10L, "-"), (2L, 20L, "fresh")))
  }

  test("DML and the change feed on a type-widened table (int→bigint, " +
    "decimal(5,2)→(12,4)) match a driver-side model") {
    val dir = freshDir()
    // file A: int k, decimal(5,2) d; file B: the widened types. Each
    // rewrite below touches ONE file, so the table stays mixed.
    TableLog.append(spark.range(0, 100).selectExpr("cast(id as int) as k",
      "cast(id / 4 as decimal(5,2)) as d").coalesce(1), dir)
    TableLog.append(spark.range(100, 200).selectExpr("id as k",
      "cast(id / 8 as decimal(12,4)) as d").coalesce(1), dir)
    var model: Map[Long, BigDecimal] = (0L until 200L).map(k =>
      k -> BigDecimal(k) / (if (k < 100) 4 else 8)).toMap
    val v2 = TableLog.currentVersion(dir)
    val versions = scala.collection.mutable.Map(v2 -> model)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, BigDecimal)] =
      df.select(col("k").cast("long"), col("d")).collect()
        .map(r => (r.getLong(0), BigDecimal(r.getDecimal(1)).setScale(4)))
        .toSet
    def norm(m: Map[Long, BigDecimal]) =
      m.map { case (k, d) => (k, d.setScale(4)) }.toSet
    def check(v: Int): Unit = {
      assert(rows(TableLog.readEvolved(spark, dir)) == norm(model))
      versions(v) = model
    }
    // copy-on-write UPDATE of the widened file
    val (v3, n3, t3, _) = TableLog.update(spark, dir,
      "k % 50 = 7 AND k >= 100", Map("d" -> "d + 1"))
    assert(n3 == 2L && t3 == 1)
    model = model.map { case (k, d) =>
      k -> (if (k % 50 == 7 && k >= 100) d + 1 else d) }
    check(v3)
    // copy-on-write DELETE of the narrow file
    val (v4, n4, t4, _) = TableLog.delete(spark, dir, "k % 10 = 2 AND k < 100")
    assert(n4 == 10L && t4 == 1)
    model = model.filterNot { case (k, _) => k % 10 == 2 && k < 100 }
    check(v4)
    // vectored DELETE across both files
    val (v5, n5, t5, _) = TableLog.deleteVectored(spark, dir, "k % 10 = 3")
    assert(n5 == 20L && t5 == 2)
    model = model.filterNot(_._1 % 10 == 3)
    check(v5)
    // the change feed between two versions is the models' diff (a
    // rewritten file's unchanged rows appear on both sides and cancel)
    for ((a, b) <- Seq((v2, v3), (v3, v4), (v4, v5), (v2, v5))) {
      val feed = TableLog.changes(spark, dir, a, b)
      def side(t: String) = rows(feed.where(col("_change_type") === t))
      val (ma, mb) = (norm(versions(a)), norm(versions(b)))
      assert(side("insert") -- side("delete") == mb -- ma, s"$a→$b")
      assert(side("delete") -- side("insert") == ma -- mb, s"$a→$b")
    }
    // the bloom build reads the mixed files too
    TableLog.computeBlooms(spark, dir, "k")
    val (hit, st) = LakeSelect.readWhere(spark, dir, "k = 157")
    assert(st.strategy == "point_lookup")
    assert(rows(hit) == norm(model.filter(_._1 == 157L)))
  }

  // ===== deletion vectors ==============================================

  private def dvTable(): (String, Seq[String]) = {
    val dir = freshDir()
    TableLog.append((1L to 50L).map(i => (i, i * 10L)).toDF("id", "v")
      .coalesce(1), dir)
    TableLog.append((51L to 100L).map(i => (i, i * 10L)).toDF("id", "v")
      .coalesce(1), dir)
    (dir, TableLog.snapshot(dir).files)
  }

  private def ids(dir: String, v: Int = -1): Set[Long] =
    TableLog.read(spark, dir, v).select("id").collect()
      .map(_.getLong(0)).toSet

  test("deleteVectored: no data file rewritten, rows hidden, time travel " +
    "intact, touched files mapped to a vector") {
    val (dir, before) = dvTable()
    val preV = TableLog.currentVersion(dir)
    val (v, n, touched, total) =
      TableLog.deleteVectored(spark, dir, "id % 10 = 3")
    assert(n == 10 && total == 2 && touched == 2 && v == preV + 1)
    val snap = TableLog.snapshot(dir)
    assert(snap.files == before, "DV delete must not rewrite data files")
    assert(snap.dvs.keySet == before.toSet && snap.op == "delete-dv")
    assert(ids(dir) == (1L to 100L).filterNot(_ % 10 == 3).toSet)
    assert(ids(dir, preV) == (1L to 100L).toSet, "pre-delete time travel")
    // a second vectored delete UNIONS per-file vectors
    val (_, n2, _, _) = TableLog.deleteVectored(spark, dir, "id % 10 = 7")
    assert(n2 == 10)
    assert(ids(dir) ==
      (1L to 100L).filterNot(i => i % 10 == 3 || i % 10 == 7).toSet)
    // re-deleting already-hidden rows matches nothing, commits nothing
    val head = TableLog.currentVersion(dir)
    val (v3, n3, t3, _) = TableLog.deleteVectored(spark, dir, "id % 10 = 3")
    assert(v3 == head && n3 == 0L && t3 == 0)
  }

  test("deleteVectored: evolved reads, zone-pruned reads, and " +
    "partition-pruned reads all apply the vectors") {
    val dir = freshDir()
    TableLog.appendPartitioned((1L to 40L).map(i =>
      (i, i * 10L, if (i <= 20) "a" else "b")).toDF("id", "v", "p"), dir, "p")
    TableLog.deleteVectored(spark, dir, "id % 4 = 0")
    val want = (1L to 40L).filterNot(_ % 4 == 0).toSet
    assert(ids(dir) == want)
    assert(TableLog.readEvolved(spark, dir).select("id").collect()
      .map(_.getLong(0)).toSet == want)
    val (zdf, _) = LakeSelect.readWhere(spark, dir, "id BETWEEN 1 AND 20")
    assert(zdf.select("id").collect().map(_.getLong(0)).toSet ==
      want.filter(_ <= 20L))
    val (pdf, st) = LakeSelect.readWhere(spark, dir, "p = 'a'")
    assert(pdf.select("id").collect().map(_.getLong(0)).toSet ==
      want.filter(_ <= 20L))
    val snap = TableLog.snapshot(dir)
    assert(st.filesOpened == snap.parts.values.count(_ == "a") &&
      st.filesOpened < st.filesTotal, st.toString)
  }

  test("copy-on-write delete/update after a vectored delete: hidden rows " +
    "never resurface, rewritten files drop their vectors") {
    val (dir, _) = dvTable()
    TableLog.deleteVectored(spark, dir, "id <= 5")
    // COW update touches file 1 (ids 1..50): DV-hidden rows must stay gone
    val (_, nUpd, _, _) = TableLog.update(spark, dir, "id <= 30",
      Map("v" -> "v + 1"))
    assert(nUpd == 25, s"ids 6..30 visible: $nUpd") // 1..5 are DV-hidden
    assert(ids(dir) == (6L to 100L).toSet)
    val snap = TableLog.snapshot(dir)
    assert(snap.dvs.isEmpty, "rewrite materializes the vector")
    val vs = TableLog.read(spark, dir).filter($"id" <= 30)
      .select("v").collect().map(_.getLong(0)).toSet
    assert(vs == (6L to 30L).map(_ * 10L + 1L).toSet)
  }

  test("optimize materializes deletion vectors: compacted table has no " +
    "dvs, same rows, fewer files") {
    val (dir, _) = dvTable()
    TableLog.deleteVectored(spark, dir, "id % 3 = 0")
    val want = (1L to 100L).filterNot(_ % 3 == 0).toSet
    val (v, nb, na) = TableLog.optimize(spark, dir)
    assert(v > 0 && na <= nb)
    val snap = TableLog.snapshot(dir)
    assert(snap.dvs.isEmpty && snap.op == "optimize")
    assert(ids(dir) == want)
    // physical row count equals logical now (vector gone, rows dropped)
    val raw = snap.files.map(f => spark.read.parquet(
      java.nio.file.Paths.get(dir).resolve(f).toString).count()).sum
    assert(raw == want.size.toLong, s"raw $raw != ${want.size}")
  }

  test("changes: a DV commit feeds exactly the newly-hidden rows as " +
    "deletes; restore past it feeds them back as inserts") {
    val (dir, _) = dvTable()
    val v0 = TableLog.currentVersion(dir)
    TableLog.deleteVectored(spark, dir, "id % 25 = 0")       // v0+1
    val del = TableLog.changes(spark, dir, v0, v0 + 1)
    val got = del.collect().map(r =>
      (r.getAs[Long]("id"), r.getAs[String]("_change_type"))).toSet
    assert(got == Set(25L, 50L, 75L, 100L).map(_ -> "delete"), got)
    TableLog.deleteVectored(spark, dir, "id % 50 = 1")       // v0+2
    val del2 = TableLog.changes(spark, dir, v0 + 1, v0 + 2)
    assert(del2.collect().map(_.getAs[Long]("id")).toSet == Set(1L, 51L))
    TableLog.restore(dir, v0)                                // v0+3
    val back = TableLog.changes(spark, dir, v0 + 2, v0 + 3)
    val ins = back.collect().map(r =>
      (r.getAs[Long]("id"), r.getAs[String]("_change_type"))).toSet
    assert(ins == Set(25L, 50L, 75L, 100L, 1L, 51L).map(_ -> "insert"), ins)
    assert(ids(dir) == (1L to 100L).toSet, "restore resurrects DV rows")
  }

  test("vacuum sweeps unreferenced dv sidecars, keeps referenced ones") {
    val (dir, _) = dvTable()
    TableLog.deleteVectored(spark, dir, "id = 7")   // v3: sidecar A
    TableLog.deleteVectored(spark, dir, "id = 8")   // v4: sidecar B (union)
    val keepV = TableLog.currentVersion(dir)
    val deleted = TableLog.vacuum(dir, keepFrom = keepV, graceMs = 0L)
    // sidecar A only served v3 — swept; B is referenced by the head
    assert(deleted.count(_.startsWith("dv/")) == 1, deleted.toString)
    assert(ids(dir) == (1L to 100L).filterNot(Set(7L, 8L)).toSet)
  }

  // ===== bloom-filter data skipping ====================================

  /** `col IN (vs)` through [[LakeSelect.readWhere]], which must take the
    * bloom route: (rows, filesOpened, filesTotal). */
  private def lookup(dir: String, col: String, vs: Any*)
      : (org.apache.spark.sql.DataFrame, Int, Int) = {
    val lits = vs.map {
      case s: String => s"'$s'"
      case v => v.toString
    }
    val (df, st) = LakeSelect.readWhere(spark, dir,
      s"$col IN (${lits.mkString(", ")})")
    assert(st.strategy == "point_lookup", st.toString)
    (df, st.filesOpened, st.filesTotal)
  }

  test("computeBlooms + readWhere: point lookups open only the " +
    "files that might hold the key; misses open zero files") {
    val dir = freshDir()
    // 4 disjoint key chunks, one file each — a key lives in exactly one
    (0 until 4).foreach { c =>
      TableLog.append((1L to 250L).map(i => (c * 1000L + i, s"r$c-$i"))
        .toDF("id", "s").coalesce(1), dir)
    }
    TableLog.computeBlooms(spark, dir, "id")
    val snap = TableLog.snapshot(dir)
    assert(snap.bloomCol.contains("id") && snap.blooms.size == 4)
    val (df, opened, total) = lookup(dir, "id", 2042L)
    assert(total == 4 && opened <= 2, s"opened $opened of $total")
    assert(df.count() == 1)
    // absent key: every bitmap says definitely-absent (fp-tolerant: <=1)
    val (_, openedMiss, _) = lookup(dir, "id", 999999L)
    assert(openedMiss <= 1, s"miss opened $openedMiss files")
    // multi-value probe unions the candidate sets
    val (df3, opened3, _) = lookup(dir, "id", 42L, 3042L)
    assert(opened3 <= 3)
    assert(df3.count() == 2)
  }

  test("blooms top up incrementally on append, survive DV deletes, are " +
    "auto-rebuilt across optimize, and unindexed files read " +
    "conservatively") {
    val dir = freshDir()
    TableLog.append((1L to 100L).map(i => (i, i * 2L)).toDF("id", "v")
      .coalesce(1), dir)
    TableLog.computeBlooms(spark, dir, "id")
    // the append AUTO-tops-up the bloom index (same contract as rgidx):
    // the new file is covered in the same commit and the probe prunes
    // exactly, with no manual computeBlooms re-run
    TableLog.append((101L to 200L).map(i => (i, i * 2L)).toDF("id", "v")
      .coalesce(1), dir)
    val snapA = TableLog.snapshot(dir)
    assert(snapA.files.forall(snapA.blooms.contains),
      s"append did not top up the bloom index: ${snapA.blooms.keySet}")
    val (df1, opened1, total1) = lookup(dir, "id", 150L)
    assert(total1 == 2 && opened1 == 1 && df1.count() == 1)
    // a computeBlooms re-run is now a no-op (nothing unindexed)
    TableLog.computeBlooms(spark, dir, "id")
    val (df2, opened2, _) = lookup(dir, "id", 150L)
    assert(opened2 == 1 && df2.count() == 1)
    // DV delete keeps blooms (false positives only) and hides the row
    TableLog.deleteVectored(spark, dir, "id = 150")
    val (df3, _, _) = lookup(dir, "id", 150L)
    assert(df3.count() == 0)
    assert(TableLog.snapshot(dir).blooms.size == 2)
    // compaction AUTO-MAINTAINS the index: rewritten inputs' bitmaps are
    // dropped and the rewrite outputs get fresh bitmaps in the SAME
    // commit — no manual computeBlooms re-run, no silent decay
    val (_, _, nAfter) = TableLog.optimize(spark, dir,
      clusterBy = Seq("id"))
    val snapOpt = TableLog.snapshot(dir)
    assert(snapOpt.blooms.keySet == snapOpt.files.toSet,
      s"every post-optimize file must stay indexed: ${snapOpt.blooms}")
    assert(nAfter == snapOpt.files.size)
    val (df4, _, _) = lookup(dir, "id", 7L)
    assert(df4.count() == 1)
    // a definite miss still opens zero files post-optimize
    val (_, openedMiss, _) = lookup(dir, "id", 987654L)
    assert(openedMiss == 0, s"post-optimize miss opened $openedMiss")
    // an UNINDEXED appended file reads conservatively
    TableLog.append((201L to 210L).map(i => (i, i * 2L)).toDF("id", "v")
      .coalesce(1), dir)
    val (df5, opened5, total5) = lookup(dir, "id", 205L)
    assert(opened5 >= 1 && opened5 < total5 + 1 && df5.count() == 1)
  }

  test("bloom auto-maintenance: optimize keeps carried-through files' " +
    "bitmaps and copy-on-write DML re-indexes its outputs") {
    val dir = freshDir()
    // two small files that will bin-pack together + one big kept file
    TableLog.append((1L to 50L).map(i => (i, i)).toDF("id", "v")
      .coalesce(1), dir)
    TableLog.append((51L to 100L).map(i => (i, i)).toDF("id", "v")
      .coalesce(1), dir)
    TableLog.append((1001L to 1400L).map(i => (i, i)).toDF("id", "v")
      .coalesce(1), dir)
    TableLog.computeBlooms(spark, dir, "id")
    val before = TableLog.snapshot(dir)
    // bin-pack so the two 50-row files merge and the 400-row file is
    // KEPT: its bitmap must survive the commit untouched
    TableLog.optimize(spark, dir, maxRows = 120L)
    val after = TableLog.snapshot(dir)
    val keptFile = before.files.find(after.files.contains)
    assert(keptFile.nonEmpty, "expected a carried-through file")
    assert(after.blooms.get(keptFile.get) == before.blooms.get(keptFile.get),
      "kept file must retain its original bitmap entry")
    assert(after.blooms.keySet == after.files.toSet)
    // copy-on-write DELETE re-indexes the rewritten file in-commit
    TableLog.delete(spark, dir, "id = 25")
    val postDel = TableLog.snapshot(dir)
    assert(postDel.blooms.keySet == postDel.files.toSet,
      s"DML must top up blooms: ${postDel.blooms.keySet}")
    val (_, openedMiss, _) = lookup(dir, "id", 25L)
    assert(openedMiss == 0, "deleted key must be definitely-absent again")
    val (df, _, _) = lookup(dir, "id", 1200L)
    assert(df.count() == 1)
  }

  test("readWhere's bloom probe prunes exactly across many files") {
    val dir = freshDir()
    (0 until 24).foreach { c =>
      TableLog.append((1L to 40L).map(i => (c * 100L + i, i))
        .toDF("id", "v").coalesce(1), dir)
    }
    TableLog.computeBlooms(spark, dir, "id")
    // small snapshots probe driver-resident bitmaps, large ones run one
    // job returning (file, hit) booleans; assert exact pruning over 24
    // files
    val (df, opened, total) = lookup(dir, "id", 512L)
    assert(total == 24 && opened <= 2, s"opened $opened of $total")
    assert(df.count() == 1)
    val (_, openedMiss, _) = lookup(dir, "id", 99999L)
    assert(openedMiss <= 1)
  }

  test("optimize(quantileCluster) survives constant and null-heavy " +
    "cluster columns (empty-cuts fallback) with rows intact") {
    val dir = freshDir()
    val df = (1L to 300L).map(i =>
      (i, 7L, if (i % 3 == 0) None else Some(i % 10))).toDF("a", "c", "x")
      .selectExpr("a", "c", "x")
    TableLog.append(df, dir)
    TableLog.append(df.selectExpr("a + 300 AS a", "c", "x"), dir)
    val (_, before, after) = TableLog.optimize(spark, dir,
      maxRows = 200L, clusterBy = Seq("c", "x"), quantileCluster = true)
    assert(after >= 1 && before >= 2)
    val back = TableLog.read(spark, dir)
    assert(back.count() == 600L)
    assert(back.agg(org.apache.spark.sql.functions.sum("a")).first()
      .getLong(0) == (1L to 600L).sum)
  }

  test("readWhere returns an empty schema'd frame when pruning " +
    "keeps zero files — even with deletion vectors present") {
    val dir = freshDir()
    TableLog.append((1L to 100L).map(i => (i, s"r$i")).toDF("id", "s")
      .coalesce(1), dir)
    TableLog.deleteVectored(spark, dir, "id = 5")
    val (df, st) =
      LakeSelect.readWhere(spark, dir, "id BETWEEN 5000 AND 6000")
    assert(st.filesOpened == 0 && st.filesTotal == 1)
    assert(df.columns.toSeq == Seq("id", "s"))
    assert(df.count() == 0)
  }

  test("vacuum with DEFAULT args never sweeps a rebasing writer's " +
    "freshly staged files") {
    val dir = freshDir()
    TableLog.append(Seq((1L, "a")).toDF("id", "s"), dir)
    TableLog.append(Seq((2L, "b")).toDF("id", "s"), dir)
    val data = java.nio.file.Paths.get(dir, "data")
    // a rebasing writer staged this under its ORIGINALLY planned version
    // (v1, already taken) seconds ago — the default grace must spare it
    val staged = data.resolve("v00001-part-rebasing.parquet")
    java.nio.file.Files.write(staged, Array[Byte](1, 2, 3))
    val deleted = TableLog.vacuum(dir, keepFrom = 2)
    assert(java.nio.file.Files.exists(staged),
      "default-grace vacuum swept a freshly staged file")
    assert(!deleted.contains("data/v00001-part-rebasing.parquet"))
  }

  test("string bloom column and null values: nulls are never indexed, " +
    "string probes hash identically to the build") {
    val dir = freshDir()
    TableLog.append(Seq((1L, "alpha"), (2L, null), (3L, "gamma"))
      .toDF("id", "s").coalesce(1), dir)
    TableLog.append(Seq((4L, "delta"), (5L, null)).toDF("id", "s")
      .coalesce(1), dir)
    TableLog.computeBlooms(spark, dir, "s")
    val (df, opened, total) = lookup(dir, "s", "delta")
    assert(total == 2 && opened <= 1 + 0 /* fp slack none at this size */)
    assert(df.count() == 1)
    val (_, openedMiss, _) = lookup(dir, "s", "omega")
    assert(openedMiss == 0)
  }

  test("deleteVectored conflicts loudly with a concurrent rewrite of a " +
    "touched file, rebases over a concurrent append") {
    val (dir, _) = dvTable()
    // rebase case: append lands between snapshot and commit — simulate by
    // deleting via DV while another session appends first; the public API
    // retries internally, so just verify an interleaved append+DV works
    TableLog.append(Seq((101L, 1010L)).toDF("id", "v"), dir)
    val (_, n, _, _) = TableLog.deleteVectored(spark, dir, "id > 98")
    assert(n == 3) // 99, 100, 101
    assert(ids(dir) == (1L to 98L).toSet)
  }

  test("v99999→v100000 boundary: version parse is width-independent — " +
    "reads see v100000, writers rebase past it, vacuum spares its files") {
    val dir = freshDir()
    TableLog.append(Seq((1L, "a")).toDF("id", "s"), dir) // v1
    val s1 = TableLog.snapshot(dir)
    // mock ~12 days of a 10 s-trigger streaming sink: publish v99999
    // directly, reusing v1's files (the log never requires dense
    // versions below head once older entries are vacuumed)
    TableLog.commit(dir, s1.files, expectedVersion = 99999)
    assert(TableLog.currentVersion(dir) == 99999)
    TableLog.append(Seq((2L, "b")).toDF("id", "s"), dir) // v100000
    assert(TableLog.currentVersion(dir) == 100000,
      "six-digit version invisible: reader pinned to v99999")
    def ids() = TableLog.read(spark, dir).select("id")
      .collect().map(_.getLong(0)).toSet
    assert(ids() == Set(1L, 2L))
    // the next writer must plan v100001 on top, not loop on conflict
    TableLog.append(Seq((3L, "c")).toDF("id", "s"), dir) // v100001
    assert(TableLog.currentVersion(dir) == 100001)
    assert(ids() == Set(1L, 2L, 3L))
    // a racer who already took a version still conflicts loudly there
    intercept[IllegalStateException] {
      TableLog.commit(dir, s1.files, expectedVersion = 100001)
    }
    // overwrite → v100002; vacuum to it: the six-digit-prefixed live
    // files must NOT be classified as unreferenced (the data-loss mode
    // of the fixed-width parse), while v1/v100000/v100001 files go
    TableLog.overwrite(Seq((9L, "z")).toDF("id", "s"), dir) // v100002
    val deleted = TableLog.vacuum(dir, keepFrom = 100002, graceMs = 0L)
    assert(deleted.nonEmpty && deleted.forall { f =>
      f.startsWith("data/v00001-") || f.startsWith("data/v100000-") ||
        f.startsWith("data/v100001-")
    }, s"vacuum touched live v100002 files: $deleted")
    assert(ids() == Set(9L), "post-vacuum read lost live data")
  }

  test("large checkpoints gzip transparently: magic-detected on read, " +
    "small entries stay raw") {
    val dir = freshDir()
    TableLog.append(Seq((1L, "a")).toDF("id", "s"), dir) // v1, small
    val ld = java.nio.file.Paths.get(dir, "_graft_log")
    val v1 = java.nio.file.Files.readAllBytes(ld.resolve("v00001.json"))
    assert(v1(0) == '{', "small entry must stay raw JSON")
    // a 20k-file overwrite-shaped commit forces a big FULL checkpoint
    // (fabricated paths — the log layer never opens data files)
    val pads = (0 until 20000).map(i => f"data/v00002-pad$i%05d.parquet")
    TableLog.commit(dir, pads, expectedVersion = 2)
    val v2 = java.nio.file.Files.readAllBytes(ld.resolve("v00002.json"))
    assert((v2(0) & 0xff) == 0x1f && (v2(1) & 0xff) == 0x8b,
      s"big checkpoint not gzipped (${v2.length} B)")
    assert(v2.length * 5 < pads.mkString.length,
      "gzip bought no real compression")
    assert(TableLog.snapshot(dir).files.size == 20000)
    assert(TableLog.snapshot(dir, 2).files.size == 20000)
    // deltas on top of the gzipped base still reconstruct
    TableLog.commit(dir, TableLog.snapshot(dir).files :+
      "data/v00003-one.parquet", expectedVersion = 3)
    assert(TableLog.snapshot(dir).files.size == 20001)
  }

  test("head hint: one-read resolution, stale hints probe forward, " +
    "garbled/missing hints fall back to listing, commits restore it") {
    val dir = freshDir()
    (1 to 5).foreach(i =>
      TableLog.append(Seq((i.toLong, "x")).toDF("id", "s"), dir))
    val hint = java.nio.file.Paths.get(dir, "_graft_log", "_head")
    assert(java.nio.file.Files.exists(hint))
    assert(new String(java.nio.file.Files.readAllBytes(hint))
      .trim == "5")
    // stale-low hint (a losing racer's late write): probe walks forward
    java.nio.file.Files.write(hint, "2".getBytes("UTF-8"))
    assert(TableLog.currentVersion(dir) == 5)
    // garbled hint: full-listing fallback
    java.nio.file.Files.write(hint, "bogus".getBytes("UTF-8"))
    assert(TableLog.currentVersion(dir) == 5)
    // missing hint: fallback too; the next commit restores it
    java.nio.file.Files.delete(hint)
    assert(TableLog.currentVersion(dir) == 5)
    TableLog.append(Seq((9L, "z")).toDF("id", "s"), dir)
    assert(new String(java.nio.file.Files.readAllBytes(hint))
      .trim == "6")
  }

  test("delta-encoded log: checkpoints every 16 commits, two-read " +
    "snapshots, vacuum mid-interval rescues retained deltas") {
    val dir = freshDir()
    (1 to 24).foreach { i =>
      TableLog.append(Seq((i.toLong, s"row$i")).toDF("id", "s")
        .coalesce(1), dir)
    }
    val ld = java.nio.file.Paths.get(dir, "_graft_log")
    def node(name: String) =
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(java.nio.file.Files.readAllBytes(ld.resolve(name)))
    // v1 and v17 are checkpoints (full file list); the rest of the
    // interval is cumulative deltas against them — O(commit) bytes
    assert(node("v00001.json").has("files"))
    assert(node("v00017.json").has("files") &&
      !node("v00017.json").has("base"))
    assert(node("v00016.json").get("base").asInt() == 1)
    assert(node("v00024.json").get("base").asInt() == 17)
    assert(!node("v00024.json").has("files"),
      "delta entry re-listed the full file set")
    // reads across the checkpoint boundary are exact
    def count(v: Int) = TableLog.read(spark, dir, v).count()
    assert(count(16) == 16 && count(17) == 17 && count(18) == 18)
    assert(count(24) == 24)
    // vacuum mid-interval: v20..v24 are deltas on v17 (< keepFrom) —
    // rescue checkpoints must keep them readable after v17 drops
    TableLog.vacuum(dir, keepFrom = 20, graceMs = 0L)
    intercept[IllegalArgumentException] { TableLog.snapshot(dir, 19) }
    assert(count(20) == 20 && count(24) == 24,
      "retained delta lost its base with no rescue checkpoint")
    // a commit after vacuum finds its base gone → starts a fresh
    // checkpoint instead of failing
    TableLog.append(Seq((25L, "row25")).toDF("id", "s"), dir) // v25
    assert(node("v00025.json").has("files") &&
      !node("v00025.json").has("base"))
    assert(count(25) == 25)
  }
}
