package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{LakeSelect, TableLog}

/** Row-group-level data skipping: index shape, selective-scan fidelity
  * across the flat scalar type surface, conservative keeps, pruning
  * ratios, and the deletion-vector interplay in the TableLog read. */
class RowGroupScanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val smallRg = Map(
    "parquet.block.size" -> "16384", "parquet.page.size" -> "4096")

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** `n` sorted rows (k, v = 7k) appended as a two-file table. */
  private def writeSorted(dir: String, n: Int): Unit =
    TableLog.append(spark.range(n.toLong).selectExpr("id as k", "id * 7 as v")
      .repartitionByRange(2, col("k")).sortWithinPartitions("k"),
      dir, options = smallRg)

  /** Row-group-pruned read of `k` in [lo, hi]: (frame, rgOpened,
    * rgTotal, filesOpened). */
  private def prunedK(dir: String, lo: Long, hi: Long) = {
    val (df, opened, total, filesOpened, _) =
      TableLog.readRowGroupPrunedMulti(spark, dir,
        Seq(TableLog.NumRange("k", Some(lo), Some(hi))))
    (df, opened, total, filesOpened)
  }

  test("index: one row per row group, bounds tight, counts add up") {
    val dir = tmp("rgidx") + "/t"
    writeSorted(dir, 20000)
    TableLog.computeRowGroupIndex(spark, dir)
    val sidecars = new java.io.File(dir, "stats").listFiles()
      .filter(_.getName.contains("-rgidx-")).map(_.toString).toSeq
    val idx = spark.read.parquet(sidecars: _*)
      .filter(col("column") === "k" && col("rg") >= 0)
      .select("file", "rg", "lmin", "lmax", "n_rows").collect()
    val files = TableLog.snapshot(dir).files
    assert(idx.length > files.size, "expected multiple row groups per file")
    assert(idx.map(r => (r.getString(0), r.getInt(1))).distinct.length ==
      idx.length, "one index row per (file, row group)")
    assert(idx.map(_.getLong(4)).sum == 20000L)
    // sorted writes make per-group ranges disjoint within each file
    idx.groupBy(_.getString(0)).foreach { case (_, rgs) =>
      val byRg = rgs.sortBy(_.getInt(1))
      byRg.sliding(2).foreach {
        case Array(a, b) => assert(a.getLong(3) < b.getLong(2))
        case _ =>
      }
    }
  }

  test("selective scan returns exactly the kept row groups' rows and " +
    "prunes a narrow range") {
    val dir = tmp("rgscan") + "/t"
    writeSorted(dir, 20000)
    val (df, opened, total, filesOpened) = prunedK(dir, 100L, 700L)
    assert(opened < total, s"no pruning: $opened/$total")
    assert(filesOpened == 1, "narrow low range must touch one file")
    val got = df.filter(col("k").between(100, 700))
      .agg(count(lit(1)), sum("v"), min("k"), max("k")).first()
    assert(got.getLong(0) == 601L)
    assert(got.getLong(1) == (100L to 700L).map(_ * 7).sum)
    assert((got.getLong(2), got.getLong(3)) == (100L, 700L))
    // the UNFILTERED selective frame holds full row groups (supersets of
    // the range, never missing a matching row)
    val ks = df.select("k").as[Long].collect().toSet
    assert((100L to 700L).forall(ks))
  }

  test("zero matching row groups: empty frame with the table schema") {
    val dir = tmp("rgempty") + "/t"
    writeSorted(dir, 5000)
    val (df, opened, total, filesOpened) = prunedK(dir, 900000L, 990000L)
    assert(opened == 0L && total > 0L && filesOpened == 0)
    assert(df.columns.toSeq == Seq("k", "v"))
    assert(df.count() == 0L)
  }

  test("type surface: bool/int/long/float/double/string/binary/decimal/" +
    "date/timestamp survive the selective scan bit-for-bit") {
    val dir = tmp("rgtypes") + "/t"
    val df = spark.range(4000).selectExpr(
      "id as k",
      "id % 2 = 0 as b",
      "cast(id as int) as i",
      "cast(id as float) as f",
      "cast(id as double) as d",
      "concat('s', id) as s",
      "cast(concat('b', id) as binary) as bin",
      "cast(id as decimal(12,2)) / 3 as dec",
      "date_add(date'2020-01-01', cast(id % 300 as int)) as dt",
      "timestamp_millis(1500000000000 + id * 1000) as ts",
      "case when id % 97 = 0 then null else id end as maybe")
    TableLog.append(df.repartitionByRange(1, col("k"))
      .sortWithinPartitions("k"), dir, options = smallRg)
    // open EVERYTHING: full fidelity against Spark's own reader
    val (got, opened, total, _) = prunedK(dir, Long.MinValue, Long.MaxValue)
    assert(opened == total && total > 1)
    val want = TableLog.read(spark, dir)
    assert(got.schema == want.schema,
      s"schema drift:\n${got.schema}\n${want.schema}")
    val key = got.columns.sorted.toSeq
    assert(got.orderBy("k").collect().toSeq ==
      want.orderBy("k").collect().toSeq, s"row drift on $key")
  }

  test("readWhere: prunes row groups, DV files scan " +
    "selectively with deletes applied, aggregates match the full read") {
    val dir = tmp("rgdv") + "/table"
    val d1 = spark.range(10000).selectExpr("id as k", "id * 3 as v")
    TableLog.append(
      d1.repartitionByRange(2, col("k")).sortWithinPartitions("k"),
      dir, options = smallRg)
    // DV-delete a slice that lives in the SECOND half (k in [9000,9100))
    val (_, nDel, _, _) = TableLog.deleteVectored(spark, dir,
      "k >= 9000 AND k < 9100")
    assert(nDel == 100L)
    val (pr, st) =
      LakeSelect.readWhere(spark, dir, "k BETWEEN 100 AND 700")
    assert(st.rgTotal > 0L && st.rgOpened < st.rgTotal,
      s"no row-group pruning: $st")
    assert(st.filesOpened < st.filesTotal,
      s"the DV'd high file must zone-prune away: $st")
    assert(pr.count() == 601L)
    // a range over the DV'd file: rows deleted stay deleted
    val (pr2, _) =
      LakeSelect.readWhere(spark, dir, "k BETWEEN 8900 AND 9200")
    val ks = pr2.select("k").as[Long].collect().toSet
    assert(ks == ((8900L to 9200L).toSet -- (9000L until 9100L)))
    // full-range read (every row group kept, unfiltered) equals the
    // canonical log read
    val (all, _, _, _) = prunedK(dir, Long.MinValue, Long.MaxValue)
    assert(all.count() == TableLog.read(spark, dir).count())
  }

  test("optimize materializes DVs away and restores row-group pruning " +
    "on every file") {
    val dir = tmp("rgopt") + "/table"
    val d1 = spark.range(8000).selectExpr("id as k", "id as v")
    TableLog.append(
      d1.repartitionByRange(2, col("k")).sortWithinPartitions("k"),
      dir, options = smallRg)
    TableLog.deleteVectored(spark, dir, "k % 1000 = 7")
    TableLog.optimize(spark, dir, maxRows = 2000, clusterBy = Seq("k"))
    val snap = TableLog.snapshot(dir)
    assert(snap.dvs.isEmpty, "optimize must materialize DVs away")
    val (pr, st) = LakeSelect.readWhere(spark, dir, "k BETWEEN 0 AND 300")
    // post-optimize files are 128 MB-row-group singletons at this size,
    // so pruning here is FILE-level via the rg index (each file = 1 rg)
    assert(st.rgOpened < st.rgTotal, s"no pruning after optimize")
    // 301 keys in [0,300] minus k=7 (deleted by k % 1000 = 7, then
    // materialized away by optimize)
    assert(pr.count() == 300L)
  }

  test("string row-group pruning: lexicographic day-string range opens " +
    "a strict subset and matches the full read") {
    val dir = tmp("rgstr") + "/table"
    val df = spark.range(12000).selectExpr(
      "date_format(date_add(date'2024-01-01', cast(id % 400 as int)), " +
        "'yyyy-MM-dd') as day",
      "id as v")
    TableLog.append(
      df.repartitionByRange(2, col("day")).sortWithinPartitions("day"),
      dir, options = smallRg)
    val (pr, st) = LakeSelect.readWhere(spark, dir,
      "day BETWEEN '2024-03-01' AND '2024-03-99'")
    assert(st.rgOpened < st.rgTotal, s"no pruning: $st")
    assert(st.filesOpened < st.filesTotal)
    val got = pr.agg(count(lit(1)), sum("v")).first()
    val want = TableLog.read(spark, dir)
      .filter(col("day").between("2024-03-01", "2024-03-99"))
      .agg(count(lit(1)), sum("v")).first()
    assert(got == want)
    assert(got.getLong(0) > 0L)
  }

  test("point lookup composes bloom file-prune with row-group prune; " +
    "absent keys read nothing") {
    val dir = tmp("rgpoint") + "/table"
    val df = spark.range(20000).selectExpr("id as k", "id * 11 as v")
    TableLog.append(
      df.repartitionByRange(4, col("k")).sortWithinPartitions("k"),
      dir, options = smallRg)
    TableLog.computeBlooms(spark, dir, "k")
    // three present keys in the first file's range
    val keys = Seq(10L, 777L, 2400L)
    val (pr, rgOpened, rgTotal, fOpened, fTotal) =
      TableLog.readPointLookup(spark, dir, "k", keys)
    assert(fOpened < fTotal, s"bloom must reject files: $fOpened/$fTotal")
    assert(rgOpened < rgTotal, s"no rg pruning: $rgOpened/$rgTotal")
    val got = pr.filter(col("k").isin(keys: _*))
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == keys.sorted.map(k => (k, k * 11)))
    // absent everywhere: bloom answers definitely-absent, zero opens
    val (none, _, _, fo2, _) =
      TableLog.readPointLookup(spark, dir, "k", Seq(900000L))
    assert(fo2 == 0 && none.count() == 0L)
    assert(none.columns.toSeq == Seq("k", "v"))
  }

  test("point lookup on strings and with deletion vectors: DV'd file " +
    "scans selectively, deleted key stays invisible") {
    val dir = tmp("rgpstr") + "/table"
    val df = spark.range(9000).selectExpr(
      "concat('id-', lpad(cast(id as string), 6, '0')) as key",
      "id as v")
    TableLog.append(
      df.repartitionByRange(3, col("key")).sortWithinPartitions("key"),
      dir, options = smallRg)
    TableLog.computeBlooms(spark, dir, "key")
    TableLog.deleteVectored(spark, dir, "key = 'id-000500'")
    val keys = Seq("id-000500", "id-000501", "id-008000")
    val (pr, _, _, fOpened, fTotal) =
      TableLog.readPointLookup(spark, dir, "key", keys)
    assert(fOpened <= fTotal)
    val got = pr.filter(col("key").isin(keys: _*))
      .select("key").as[String].collect().toSet
    assert(got == Set("id-000501", "id-008000"),
      s"deleted key must stay invisible: $got")
  }

  test("projection pushdown: the selective scan reads only the wanted " +
    "columns and both DV and fallback legs match its schema") {
    val dir = tmp("rgproj") + "/table"
    val wide = spark.range(8000).selectExpr(
      "id as k", "id * 2 as a", "id * 3 as b",
      "concat('x', id) as s", "id * 5 as c")
    TableLog.append(
      wide.repartitionByRange(2, col("k")).sortWithinPartitions("k"),
      dir, options = smallRg)
    val (pr, st) = LakeSelect.readWhere(spark, dir,
      "k BETWEEN 100 AND 300", columns = Seq("k", "s"))
    assert(st.rgOpened < st.rgTotal)
    assert(pr.columns.toSeq == Seq("k", "s"))
    val got = pr.orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.length == 201 && got.head == ((100L, "x100")))
    // with a DV: projected union across the two legs stays consistent
    TableLog.deleteVectored(spark, dir, "k = 150")
    val (pr2, _) = LakeSelect.readWhere(spark, dir,
      "k BETWEEN 100 AND 300", columns = Seq("k", "s"))
    assert(pr2.columns.toSeq == Seq("k", "s"))
    assert(pr2.count() == 200L)
    // point lookup with projection
    TableLog.computeBlooms(spark, dir, "k")
    val (pl, _, _, _, _) = TableLog.readPointLookup(
      spark, dir, "k", Seq(4242L), columns = Seq("s", "k"))
    assert(pl.columns.toSeq == Seq("s", "k"))
    assert(pl.filter(col("k") === 4242L).head().getString(0) == "x4242")
    // unknown projected column fails loudly
    intercept[IllegalArgumentException] {
      LakeSelect.readWhere(spark, dir, "k BETWEEN 0 AND 1",
        columns = Seq("nope"))
    }
  }

  test("property: random tables × random ranges — the selective scan " +
    "always equals Spark's own filtered reader") {
    val rnd = new scala.util.Random(0x512L)
    (0 until 6).foreach { round =>
      val n = 1000 + rnd.nextInt(7000)
      val nullEvery = 11 + rnd.nextInt(90)
      val valueCol = rnd.nextInt(5) match {
        case 0 => "cast(id as double) / 7 as v"
        case 1 => "concat('s', id % 97) as v"
        case 2 => "cast(id as int) as v"
        case 3 => "cast(cast(id as decimal(14,3)) / 9 as decimal(14,3)) as v"
        case _ => "id % 2 = 0 as v"
      }
      val blockSize = 8192 << rnd.nextInt(3)
      val dir = tmp(s"rgprop$round") + "/t"
      TableLog.append(spark.range(n.toLong).selectExpr(
          "id as k", valueCol,
          s"case when id % $nullEvery = 0 then null else id * 2 end " +
            "as maybe")
        .repartitionByRange(1 + rnd.nextInt(3), col("k"))
        .sortWithinPartitions("k"),
        dir, options = Map("parquet.block.size" -> blockSize.toString,
          "parquet.page.size" -> "4096"))
      val a = rnd.nextInt(n).toLong
      val b = a + rnd.nextInt(n / 3 + 1)
      val (sel, opened, total, _) = prunedK(dir, a, b)
      assert(opened <= total)
      val got = sel.filter(col("k").between(a, b))
        .orderBy("k").collect().toSeq
      val want = TableLog.read(spark, dir)
        .filter(col("k").between(a, b)).orderBy("k").collect().toSeq
      assert(got == want,
        s"round $round drift (n=$n block=$blockSize range=[$a,$b])")
    }
  }

  test("schema drift across files fails loudly") {
    val dir = tmp("rgdrift") + "/t"
    TableLog.append(spark.range(100).selectExpr("id as k", "id as v")
      .coalesce(1), dir)
    TableLog.append(spark.range(100)
      .selectExpr("id as k", "cast(id as string) as v").coalesce(1), dir)
    val ex = intercept[RuntimeException] {
      prunedK(dir, 0L, 99L)._1.count()
    }
    assert(ex.getMessage.contains("type drift on column v"), ex.getMessage)
  }
}
