package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{LakeSelect, TableLog}

/** The row-group planner on both sides of the driver-resident bound: a
  * snapshot of more than 512 files plans its pruned reads and counts
  * inside tasks with the classifier small snapshots run on the driver,
  * and a read whose file prune keeps nothing plans no job at all. */
class RowGroupPlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  test("a bloomed miss plans zero jobs and returns a hit's schema") {
    val dir = tmp("rgp_miss")
    TableLog.append(spark.range(8000).selectExpr("id", "id * 3 as v",
        "concat('n', id) as name").repartitionByRange(4, col("id")), dir)
    TableLog.computeBlooms(spark, dir, "id")
    val ((miss, st), c) = Harness.probe(spark)(
      LakeSelect.readWhere(spark, dir, "id = 99999999"))
    assert(st.strategy == "point_lookup" && st.filesOpened == 0, s"$st")
    assert(c.jobs == 0, s"an empty keep set planned ${c.jobNames}")
    val (hit, _) = LakeSelect.readWhere(spark, dir, "id = 1234")
    assert(miss.schema == hit.schema)
    assert(miss.count() == 0L && hit.count() == 1L)
    val (missCols, _) = LakeSelect.readWhere(spark, dir, "id = 99999999",
      columns = Seq("v", "id"))
    val (hitCols, _) = LakeSelect.readWhere(spark, dir, "id = 1234",
      columns = Seq("v", "id"))
    assert(missCols.schema == hitCols.schema)
  }

  /** 52,000 rows in 520 files (100 rows each, one row group per file),
    * past the 512-file bound, so every plan runs in tasks. `s` and `u`
    * are constant per file; `nu` holds non-ASCII constant groups. */
  private lazy val large: String = {
    val dir = tmp("rgp_large")
    TableLog.append(spark.range(52000).selectExpr(
        "id as k",
        "concat('s', lpad(cast(id div 100 as string), 4, '0')) as s",
        "case when id % 1000 < 50 then null else id end as x",
        "id / 4.0d as d",
        "concat(if(id div 100 % 2 = 0, 'Seg', 'SEG'), id div 500) as u",
        "case id div 100 % 4 when 0 then 'ı' when 1 then 'é' " +
          "when 2 then 'i' else 'Ι' end as nu")
      .repartitionByRange(520, col("k")).sortWithinPartitions("k"), dir)
    assert(TableLog.snapshot(dir).files.size == 520)
    dir
  }

  private val shapes = Seq(
    "k BETWEEN 12000 AND 12450",
    "k IN (7, 20555, 51999, 60000)",
    "s = 's0123'",
    "x IS NULL",
    "d BETWEEN 100.5 AND 900.25",
    "k < 300 OR s = 's0400'",
    "upper(u) = 'SEG17'",
    "k BETWEEN 1000 AND 20000 AND s = 's0150' AND x IS NOT NULL")

  test("past 512 files, readWhere equals a brute-force filter for every " +
    "predicate shape, prunes a selective range, and runs no more jobs " +
    "than five") {
    val all = TableLog.read(spark, large)
    shapes.foreach { p =>
      val ((df, st), c) = Harness.probe(spark) {
        val read = LakeSelect.readWhere(spark, large, p)
        read._1.count()
        read
      }
      val got = df.select("k").collect().map(_.getLong(0)).sorted.toSeq
      val want = all.where(p).select("k").collect().map(_.getLong(0))
        .sorted.toSeq
      assert(got == want, s"$p drifted ($st)")
      assert(st.rgTotal == 520L, s"$p: $st")
      assert(c.jobs <= 5, s"$p: read + count ran ${c.jobNames}")
    }
    val (_, st) = LakeSelect.readWhere(spark, large, shapes.head)
    assert(st.rgOpened < st.rgTotal && st.filesOpened < st.filesTotal,
      s"a selective range must prune: $st")
  }

  test("past 512 files, countWhere equals a brute-force count for every " +
    "predicate shape and runs no more jobs than five") {
    val all = TableLog.read(spark, large)
    shapes.foreach { p =>
      val ((n, st), c) = Harness.probe(spark)(
        LakeSelect.countWhere(spark, large, p))
      assert(n == all.where(p).count(), s"$p miscounted ($st)")
      assert(c.jobs <= 5, s"$p: count ran ${c.jobNames}")
    }
    // a range the index proves meta-counts every group it covers fully
    val (n, st) = LakeSelect.countWhere(spark, large, "k < 30000")
    assert(n == 30000L && st.metaRows >= 29900L, s"$st")
  }

  test("past 512 files, a case-mapped equality keeps the non-ASCII " +
    "constant groups its case mapping matches and scans them instead of " +
    "meta-counting them, so the count stays exact") {
    val all = TableLog.read(spark, large)
    Seq("upper(nu) = 'I'", "lower(nu) = 'i'",
        "upper(nu) = 'I' AND k < 26000").foreach { p =>
      val (n, st) = LakeSelect.countWhere(spark, large, p)
      assert(n == all.where(p).count(), s"$p miscounted ($st)")
      assert(st.metaRows == 0L, s"$p meta-counted a case-mapped group: $st")
    }
    // upper('ı') = 'I': the 130 'ı' groups scan beside the 130 'i' ones,
    // and the 'é' and 'Ι' groups prune
    val (n, st) = LakeSelect.countWhere(spark, large, "upper(nu) = 'I'")
    assert(n == 26000L && st.scannedRgs == 260L, s"$st")
  }
}
