package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Changelog

/** CDC semantics: latest-seq-wins resolution, delete/insert/update paths,
  * update-after-delete resurrection, pass-through of untouched keys, SCD2
  * interval chaining, and the plan asymmetry (no window over the snapshot
  * side). */
class ChangelogSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def snap = Seq(
    (1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L), (4L, "d", 40L)
  ).toDF("id", "name", "v")

  test("applyChangelog: update, delete, insert, pass-through") {
    val ch = Seq(
      (2L, "b2", 21L, 1L, "U"),  // update key 2
      (3L, "-", 0L, 1L, "D"),    // delete key 3
      (9L, "i", 90L, 1L, "I")    // insert new key 9
    ).toDF("id", "name", "v", "seq", "op")
    val out = Changelog.applyChangelog(snap, ch, Seq("id"), "seq", "op")
      .orderBy("id").collect().map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, "a", 10L), (2L, "b2", 21L),
      (4L, "d", 40L), (9L, "i", 90L)))
  }

  test("applyChangelog: latest seq wins, including update-after-delete") {
    val ch = Seq(
      (2L, "b1", 21L, 1L, "U"),
      (2L, "b2", 22L, 5L, "U"),  // later update wins
      (2L, "b0", 20L, 3L, "U"),
      (3L, "-", 0L, 1L, "D"),
      (3L, "c9", 99L, 2L, "U"),  // resurrected after delete
      (4L, "d1", 41L, 1L, "U"),
      (4L, "-", 0L, 2L, "D")     // deleted after update
    ).toDF("id", "name", "v", "seq", "op")
    val out = Changelog.applyChangelog(snap, ch, Seq("id"), "seq", "op")
      .orderBy("id").collect().map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, "a", 10L), (2L, "b2", 22L),
      (3L, "c9", 99L)))
  }

  test("applyChangelog: delete of an absent key is a no-op; composite keys") {
    val snap2 = Seq((1L, "x", 10L), (1L, "y", 11L)).toDF("k1", "k2", "v")
    val ch = Seq(
      (1L, "y", 12L, 1L, "U"),
      (7L, "z", 0L, 1L, "D")  // not in snapshot
    ).toDF("k1", "k2", "v", "seq", "op")
    val out = Changelog.applyChangelog(snap2, ch, Seq("k1", "k2"),
        "seq", "op")
      .orderBy("k1", "k2").collect().map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, "x", 10L), (1L, "y", 12L)))
  }

  test("applyChangelog: output schema equals snapshot schema") {
    val ch = Seq((2L, "b2", 21L, 1L, "U")).toDF("id", "name", "v", "seq", "op")
    val out = Changelog.applyChangelog(snap, ch, Seq("id"), "seq", "op")
    assert(out.columns.toSeq == snap.columns.toSeq)
    assert(out.schema.map(_.dataType) == snap.schema.map(_.dataType))
  }

  test("applyChangelog plan: no window over the snapshot side") {
    // the window (latest-per-key) must run on the changelog subtree only —
    // the snapshot is joined, never sorted under a Window operator
    val ch = Seq((2L, "b2", 21L, 1L, "U")).toDF("id", "name", "v", "seq", "op")
    val out = Changelog.applyChangelog(snap, ch, Seq("id"), "seq", "op")
    val plan = out.queryExecution.optimizedPlan.toString
    // exactly one Window, and it sits above the changelog's projection
    // (seq/op columns), not above the snapshot relation
    val winCount = "(?m)^.*Window".r.findAllIn(plan).length
    assert(winCount == 1, s"expected 1 Window in:\n$plan")
    assert(plan.contains("_cdc_seq"), plan)
  }

  test("scd2: intervals chain per key; delete closes without emitting") {
    val ch = Seq(
      (1L, 100L, 1L, "I"),
      (1L, 101L, 3L, "U"),
      (1L, 102L, 7L, "U"),   // current
      (2L, 200L, 1L, "I"),
      (2L, 0L, 4L, "D"),     // key 2 fully tombstoned
      (3L, 300L, 2L, "U")    // single open interval
    ).toDF("id", "v", "seq", "op")
    val out = Changelog.scd2(ch, Seq("id"), "seq", "op")
      .orderBy("id", "valid_from")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Long]),
        r.getBoolean(4)))
    assert(out.toSeq == Seq(
      (1L, 100L, 1L, Some(3L), false),
      (1L, 101L, 3L, Some(7L), false),
      (1L, 102L, 7L, None, true),
      (2L, 200L, 1L, Some(4L), false), // closed by the delete, not current
      (3L, 300L, 2L, None, true)))
  }

  test("scd2: columns = key + data + validity; seq/op dropped") {
    val ch = Seq((1L, 100L, 1L, "I")).toDF("id", "v", "seq", "op")
    val out = Changelog.scd2(ch, Seq("id"), "seq", "op")
    assert(out.columns.toSeq ==
      Seq("id", "v", "valid_from", "valid_to", "is_current"))
  }

  test("incrementalAgg: insert/delete/update deltas equal a full recompute; " +
    "emptied groups drop; untouched groups pass through") {
    // group A: 2 rows (10, 20); group B: 1 row (5); group C: 1 row (7)
    val agg0 = Seq(("A", 2L, 30L), ("B", 1L, 5L), ("C", 1L, 7L))
      .toDF("g", "n", "total")
    val ch = Seq(
      ("A", "U", 10L, 13L),  // A: 10 -> 13
      ("A", "I", 0L, 100L),  // A: +100
      ("B", "D", 5L, 0L),    // B emptied -> drops
      ("D", "I", 0L, 50L),   // brand-new group
      ("D", "I", 0L, 60L)
    ).toDF("g", "op", "before", "after")
    val out = Changelog.incrementalAgg(agg0, ch, "g", "op",
        "before", "after")
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(("A", 3L, 133L), ("C", 1L, 7L),
      ("D", 2L, 110L)))
  }

  test("incrementalAgg: applying a changelog then its inverse is identity") {
    val agg0 = Seq(("A", 2L, 30L), ("B", 1L, 5L)).toDF("g", "n", "total")
    val ch = Seq(("A", "U", 10L, 99L), ("B", "I", 0L, 11L))
      .toDF("g", "op", "before", "after")
    val inv = Seq(("A", "U", 99L, 10L), ("B", "D", 11L, 0L))
      .toDF("g", "op", "before", "after")
    val once = Changelog.incrementalAgg(agg0, ch, "g", "op",
      "before", "after")
    val back = Changelog.incrementalAgg(once, inv, "g", "op",
        "before", "after")
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(back.toSeq == Seq(("A", 2L, 30L), ("B", 1L, 5L)))
  }

  test("incrementalAgg: rejects a malformed agg-table schema") {
    val bad = Seq(("A", 1L)).toDF("g", "n")
    val ch = Seq(("A", "I", 0L, 1L)).toDF("g", "op", "before", "after")
    intercept[IllegalArgumentException] {
      Changelog.incrementalAgg(bad, ch, "g", "op", "before", "after")
    }
  }

  test("applyToLake: only touched partitions rewrite — untouched files " +
    "byte-identical; deletes empty a partition; inserts create one") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("laketest").toString + "/lake"
    Seq((1L, 10L, "p0"), (2L, 20L, "p0"), (3L, 30L, "p1"), (4L, 40L, "p2"))
      .toDF("id", "v", "part").write.partitionBy("part").parquet(dir)
    def filesOf(leaf: String): Map[String, Array[Byte]] = {
      val p = Paths.get(dir, leaf)
      if (!Files.exists(p)) Map.empty
      else {
        val s = Files.list(p)
        val out = scala.jdk.CollectionConverters.IteratorHasAsScala(
          s.iterator).asScala
          .filter(f => f.toString.endsWith(".parquet"))
          .map(f => f.getFileName.toString -> Files.readAllBytes(f)).toMap
        s.close(); out
      }
    }
    val p2Before = filesOf("part=p2")
    assert(p2Before.nonEmpty)
    val ch = Seq(
      (1L, 11L, "p0", 1L, "U"),   // update in p0
      (3L, 0L, "p1", 1L, "D"),    // p1 fully deleted
      (9L, 90L, "p9", 1L, "I")    // brand-new partition p9
    ).toDF("id", "v", "part", "seq", "op")
    val touched = Changelog.applyToLake(dir, ch, "part",
      Seq("id"), "seq", "op")
    assert(touched.toSet == Set("p0", "p1", "p9"))
    // untouched partition: same file names, same bytes
    val p2After = filesOf("part=p2")
    assert(p2After.keySet == p2Before.keySet)
    p2Before.foreach { case (n, b) =>
      assert(java.util.Arrays.equals(b, p2After(n)),
        s"untouched partition file $n changed")
    }
    // p1 exists but is empty; p9 exists with the insert
    assert(Files.exists(Paths.get(dir, "part=p1")) &&
      filesOf("part=p1").isEmpty)
    val back = spark.read.parquet(dir).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(back.toSeq == Seq((1L, 11L, "p0"), (2L, 20L, "p0"),
      (4L, 40L, "p2"), (9L, 90L, "p9")))
  }

  test("applyToLake: partition values needing Hive escaping swap the " +
    "directories partitionBy actually wrote") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("lakeesc").toString + "/lake"
    // ':' and ' ' are Hive-escaped in partition paths (%3A, %20)
    Seq((1L, 10L, "a:b c"), (2L, 20L, "plain"))
      .toDF("id", "v", "part").write.partitionBy("part").parquet(dir)
    val ch = Seq((1L, 11L, "a:b c", 1L, "U"))
      .toDF("id", "v", "part", "seq", "op")
    Changelog.applyToLake(dir, ch, "part", Seq("id"), "seq", "op")
    val back = spark.read.parquet(dir).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(back.toSeq == Seq((1L, 11L, "a:b c"), (2L, 20L, "plain")))
    // exactly one escaped directory for that partition — no fabricated
    // unescaped sibling
    val leaves = Files.list(Paths.get(dir))
    val names = scala.jdk.CollectionConverters.IteratorHasAsScala(
      leaves.iterator).asScala.map(_.getFileName.toString)
      .filter(_.startsWith("part=")).toSet
    leaves.close()
    assert(names == Set("part=a%3Ab c", "part=plain"), names.toString)
  }

  test("applyToLake: a stale crash tombstone is restored before planning " +
    "and a completed-swap leftover is cleaned") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dir = Files.createTempDirectory("lakecrash").toString + "/lake"
    Seq((1L, 10L, "p0"), (2L, 20L, "p1"))
      .toDF("id", "v", "part").write.partitionBy("part").parquet(dir)
    // simulate a crash BETWEEN hide and swap: p0's live dir became the
    // tombstone and nothing replaced it
    Files.move(Paths.get(dir, "part=p0"),
      Paths.get(dir, ".graft_old_part=p0"), StandardCopyOption.ATOMIC_MOVE)
    // and a crash AFTER a completed p1 swap: stale tombstone beside the
    // live dir
    Files.createDirectories(Paths.get(dir, ".graft_old_part=p1"))
    val ch = Seq((1L, 11L, "p0", 1L, "U"))
      .toDF("id", "v", "part", "seq", "op")
    Changelog.applyToLake(dir, ch, "part", Seq("id"), "seq", "op")
    // the update applied AGAINST THE RESTORED ROW (a lost tombstone
    // would have made this an insert-only partition and dropped id 1's
    // history); the leftover p1 tombstone is gone
    val back = spark.read.parquet(dir).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(back.toSeq == Seq((1L, 11L, "p0"), (2L, 20L, "p1")), back.toSeq)
    assert(!Files.exists(Paths.get(dir, ".graft_old_part=p0")))
    assert(!Files.exists(Paths.get(dir, ".graft_old_part=p1")))
  }

  test("applyToLakeVersioned: untouched partitions carried by reference; " +
    "old version time-travels; final state equals the directory-lake " +
    "semantics") {
    import graft.operators.TableLog
    val dir = java.nio.file.Files.createTempDirectory("lakever")
      .toString + "/table"
    TableLog.appendPartitioned(
      Seq((1L, 10L, "p0"), (2L, 20L, "p0"), (3L, 30L, "p1"),
        (4L, 40L, "p2")).toDF("id", "v", "part"), dir, "part")
    val filesV1 = TableLog.snapshot(dir).files.toSet
    val p2FilesV1 = TableLog.snapshot(dir).files
      .filter(f => TableLog.snapshot(dir).parts(f) == "p2").toSet
    val ch = Seq(
      (1L, 11L, "p0", 1L, "U"),
      (3L, 0L, "p1", 1L, "D"),
      (9L, 90L, "p9", 1L, "I")
    ).toDF("id", "v", "part", "seq", "op")
    val v2 = Changelog.applyToLakeVersioned(dir, ch, "part",
      Seq("id"), "seq", "op")
    assert(v2 == 2)
    val snap2 = TableLog.snapshot(dir, 2)
    // p2's files ride into v2 untouched, by reference
    assert(p2FilesV1.subsetOf(snap2.files.toSet))
    // rewritten partitions got NEW files (old ones only in v1)
    assert(snap2.files.toSet.intersect(filesV1) == p2FilesV1)
    val now = TableLog.read(spark, dir).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(now.toSeq == Seq((1L, 11L, "p0"), (2L, 20L, "p0"),
      (4L, 40L, "p2"), (9L, 90L, "p9")))
    val before = TableLog.read(spark, dir, 1).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(before.toSeq == Seq((1L, 10L, "p0"), (2L, 20L, "p0"),
      (3L, 30L, "p1"), (4L, 40L, "p2")))
  }

  test("applyToLakeVersioned: a reader concurrent with the apply sees " +
    "exactly the old or the new snapshot, never a partial one") {
    import graft.operators.TableLog
    val dir = java.nio.file.Files.createTempDirectory("lakerace")
      .toString + "/table"
    // old state: 40 rows, sum(v) = 40*41/2 = 820, across 4 partitions
    val rows = (1L to 40L).map(i => (i, i, s"p${i % 4}"))
    TableLog.appendPartitioned(rows.toDF("id", "v", "part"), dir, "part")
    val oldSum = 820L
    // changes: delete every row of p0 (ids ≡ 0 mod 4: 4+8+...+40 = 220),
    // double... keep it simple: newSum = 600
    val ch = rows.filter(_._3 == "p0")
      .map { case (i, v, p) => (i, 0L, p, 1L, "D") }
      .toDF("id", "v", "part", "seq", "op")
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val bad = new java.util.concurrent.atomic.AtomicReference[String](null)
    val readers = (0 until 4).map { _ =>
      new Thread(() => {
        while (!stop.get()) {
          val s = TableLog.read(spark, dir)
            .agg(org.apache.spark.sql.functions.sum("v")).first().getLong(0)
          if (s != oldSum && s != 600L)
            bad.compareAndSet(null, s"saw partial sum $s")
        }
      })
    }
    readers.foreach(_.start())
    try Changelog.applyToLakeVersioned(dir, ch, "part",
      Seq("id"), "seq", "op")
    finally { Thread.sleep(50); stop.set(true); readers.foreach(_.join()) }
    assert(bad.get() == null, s"${bad.get()}")
    assert(TableLog.read(spark, dir)
      .agg(org.apache.spark.sql.functions.sum("v")).first().getLong(0) == 600L)
  }

  test("applyToLakeVersioned: a partition holding an add-column file and " +
    "an int→bigint file applies like a driver-side model") {
    import graft.operators.TableLog
    val dir = java.nio.file.Files.createTempDirectory("lakeevolved")
      .toString + "/table"
    // file 1: int v, no tag (p0 and p1); file 2 adds tag; file 3 widens v
    // to bigint with a value past the int range. Files 2 and 3 sit in p0.
    TableLog.appendPartitioned(Seq((1L, 10, "p0"), (2L, 20, "p0"),
      (3L, 30, "p1")).toDF("id", "v", "part"), dir, "part")
    TableLog.appendPartitioned(Seq((4L, 40, "p0", "t4"),
      (5L, 50, "p0", "t5")).toDF("id", "v", "part", "tag"), dir, "part")
    TableLog.appendPartitioned(Seq((6L, 6000000000L, "p0"),
      (7L, 70L, "p0")).toDF("id", "v", "part"), dir, "part")
    type Row3 = (Long, Option[String], String)
    var model: Map[Long, Row3] = Map(
      1L -> (10L, None, "p0"), 2L -> (20L, None, "p0"),
      3L -> (30L, None, "p1"), 4L -> (40L, Some("t4"), "p0"),
      5L -> (50L, Some("t5"), "p0"), 6L -> (6000000000L, None, "p0"),
      7L -> (70L, None, "p0"))
    val ch = Seq(
      (1L, 7000000000L, "p0", Option("u1"), 1L, "U"),
      (4L, 0L, "p0", Option.empty[String], 1L, "D"),
      (5L, 50L, "p0", Option("t5b"), 1L, "U"),
      (6L, 61L, "p0", Option.empty[String], 1L, "U"),
      (8L, 80L, "p0", Option("n8"), 1L, "I")
    ).toDF("id", "v", "part", "tag", "seq", "op")
    ch.collect().foreach { r =>
      val id = r.getLong(0)
      if (r.getString(5) == "D") model -= id
      else model += id -> ((r.getLong(1), Option(r.getString(3)), r.getString(2)))
    }
    val v = Changelog.applyToLakeVersioned(dir, ch, "part", Seq("id"),
      "seq", "op")
    assert(v == 4)
    val p1Files = TableLog.snapshot(dir, 3).files
      .filter(f => TableLog.snapshot(dir, 3).parts(f) == "p1").toSet
    assert(p1Files.nonEmpty && p1Files.subsetOf(TableLog.snapshot(dir, v).files.toSet))
    val got = TableLog.readEvolved(spark, dir)
      .select(col("id"), col("v").cast("long"), col("tag"), col("part"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.getString(2)), r.getString(3)))).toMap
    assert(got == model)
  }

  test("applyToLakeVersioned: a column only untouched partitions hold " +
    "keeps the changelog's values, in touched and in fresh partitions") {
    import graft.operators.TableLog
    val dir = java.nio.file.Files.createTempDirectory("lakeunion")
      .toString + "/table"
    // p1's file has no c; only p2's file (untouched below) carries it
    TableLog.appendPartitioned(Seq((1L, 10L, "p1"), (2L, 20L, "p1"))
      .toDF("id", "v", "part"), dir, "part")
    TableLog.appendPartitioned(Seq((3L, 30L, "p2", "c3"))
      .toDF("id", "v", "part", "c"), dir, "part")
    def cOf(ch: Seq[(Long, Long, String, String, Long, String)]) = {
      Changelog.applyToLakeVersioned(dir,
        ch.toDF("id", "v", "part", "c", "seq", "op"), "part", Seq("id"),
        "seq", "op")
      TableLog.readEvolved(spark, dir).select("id", "c").collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    }
    assert(cOf(Seq((1L, 11L, "p1", "c1", 1L, "U"),
      (4L, 40L, "p1", "c4", 1L, "I"))) ==
      Map(1L -> Some("c1"), 2L -> None, 3L -> Some("c3"), 4L -> Some("c4")))
    // a changelog touching only a partition the table lacks
    assert(cOf(Seq((5L, 50L, "p5", "c5", 1L, "I")))(5L) == Some("c5"))
  }

  private def mergeOut(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq

  test("merge: SET * upsert — update every match, insert every non-match") {
    val src = Seq((2L, "B", 200L), (9L, "I", 900L)).toDF("id", "name", "v")
    val out = mergeOut(Changelog.merge(snap, src, Seq("id")))
    assert(out == Seq((1L, "a", 10L), (2L, "B", 200L), (3L, "c", 30L),
      (4L, "d", 40L), (9L, "I", 900L)))
  }

  test("merge: clause order — delete wins over update; mid-band unchanged") {
    // delete v<15, update v>=35, 15<=v<35 matched-but-unchanged
    val src = Seq((1L, "X", 1L), (2L, "Y", 2L), (4L, "Z", 4L))
      .toDF("id", "name", "v")
    val out = mergeOut(Changelog.merge(snap, src, Seq("id"),
      deleteCondition = Some("t.v < 15"),
      updateCondition = Some("t.v >= 35")))
    // 1 deleted (t.v=10), 2 matched-unchanged (t.v=20 in the band),
    // 4 updated to source (t.v=40)
    assert(out == Seq((2L, "b", 20L), (3L, "c", 30L), (4L, "Z", 4L)))
  }

  test("merge: partial updateSet — listed columns update, others keep target") {
    val src = Seq((2L, "B", 200L)).toDF("id", "name", "v")
    val out = mergeOut(Changelog.merge(snap, src, Seq("id"),
      updateSet = Map("v" -> "s.v + t.v")))
    assert(out == Seq((1L, "a", 10L), (2L, "b", 220L), (3L, "c", 30L),
      (4L, "d", 40L)))
  }

  test("merge: insert=false drops unmatched source; insertCondition filters") {
    val src = Seq((8L, "H", 80L), (9L, "I", 90L)).toDF("id", "name", "v")
    val noIns = mergeOut(Changelog.merge(snap, src, Seq("id"),
      insert = false))
    assert(noIns == Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L),
      (4L, "d", 40L)))
    val condIns = mergeOut(Changelog.merge(snap, src, Seq("id"),
      insertCondition = Some("s.v >= 85")))
    assert(condIns == Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L),
      (4L, "d", 40L), (9L, "I", 90L)))
  }

  test("merge: NULL conditions are false — never delete, never insert") {
    val src = Seq((2L, null.asInstanceOf[String], 200L),
      (9L, null.asInstanceOf[String], 900L)).toDF("id", "name", "v")
    // s.name is null → both conditions evaluate NULL → false
    val out = mergeOut(Changelog.merge(snap, src, Seq("id"),
      deleteCondition = Some("s.name = 'kill'"),
      updateCondition = Some("s.name = 'upd'"),
      insertCondition = Some("s.name = 'ins'")))
    assert(out == Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L),
      (4L, "d", 40L)))
  }

  test("merge: delete-only source may omit data columns via updateSet guard") {
    // a source carrying only keys works when no SET * / insert needs data
    val src = Seq(Tuple1(2L), Tuple1(9L)).toDF("id")
    val out = mergeOut(Changelog.merge(snap, src, Seq("id"),
      updateSet = Map("v" -> "t.v"), // no-op update: explicit, not SET *
      deleteCondition = Some("t.v >= 15"),
      insert = false))
    assert(out == Seq((1L, "a", 10L), (3L, "c", 30L), (4L, "d", 40L)))
  }

  test("merge reproduces applyChangelog on seeded random changelogs") {
    // MERGE with deleteCondition = "op is D", insert for non-D, SET * is
    // definitionally equivalent to applyChangelog over a key-collapsed
    // changelog — 20 seeded trials with overlapping keys, all three ops,
    // and keys absent from either side
    val rnd = new scala.util.Random(42)
    (1 to 20).foreach { trial =>
      val snapRows = (1L to 30L).filter(_ => rnd.nextBoolean())
        .map(i => (i, s"n$i", rnd.nextInt(100).toLong))
      val snapDf = snapRows.toDF("id", "name", "v")
      // unique keys with a random op each (the collapsed-changelog shape)
      val chRows = (1L to 40L).filter(_ => rnd.nextBoolean()).map { i =>
        val op = rnd.nextInt(3) match {
          case 0 => "I"; case 1 => "U"; case 2 => "D"
        }
        (i, s"c$i", rnd.nextInt(100).toLong, 1L, op)
      }
      if (snapRows.nonEmpty && chRows.nonEmpty) {
        val chDf = chRows.toDF("id", "name", "v", "seq", "op")
        val viaApply = Changelog.applyChangelog(
          snapDf, chDf, Seq("id"), "seq", "op")
          .orderBy("id").collect().map(_.toSeq).toSeq
        val viaMerge = Changelog.merge(snapDf,
            chDf.drop("seq").withColumnRenamed("op", "_op"),
            Seq("id"),
            deleteCondition = Some("s._op = 'D'"),
            insertCondition = Some("s._op <> 'D'"))
          .orderBy("id").collect().map(_.toSeq).toSeq
        assert(viaApply == viaMerge,
          s"trial $trial:\napply=$viaApply\nmerge=$viaMerge")
      }
    }
  }

  test("merge: output columns keep TARGET order even with a non-leading key") {
    val tgt = Seq(("a", 1L, 10L)).toDF("name", "id", "v")
    val src = Seq(("B", 2L, 20L)).toDF("name", "id", "v")
    val out = Changelog.merge(tgt, src, Seq("id"))
    assert(out.columns.toSeq == Seq("name", "id", "v"), out.columns.toSeq)
    val rows = out.orderBy("id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == Seq(("a", 1L, 10L), ("B", 2L, 20L)))
  }

  test("merge: composite keys resolve correctly") {
    val tgt = Seq((1L, "x", "a", 10L), (1L, "y", "b", 20L))
      .toDF("k1", "k2", "name", "v")
    val src = Seq((1L, "y", "B", 200L), (2L, "z", "C", 300L))
      .toDF("k1", "k2", "name", "v")
    val out = Changelog.merge(tgt, src, Seq("k1", "k2"))
      .orderBy("k1", "k2").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(out.toSeq == Seq((1L, "x", "a", 10L), (1L, "y", "B", 200L),
      (2L, "z", "C", 300L)))
  }
}
