package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{LakeSelect, RowGroupScan, TableLog}

/** The persisted row-group index (stats/ sidecar): zero-footer planning,
  * automatic maintenance across every write kind, DV-selective scans,
  * nested and evolved schemas, metadata-only counts, and the
  * type-guarded bloom routing. */
class RgIndexSidecarSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val smallRg = Map(
    "parquet.block.size" -> "16384", "parquet.page.size" -> "4096")

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  /** Index-build footer opens during `body` (local-mode counter). */
  private def footerOpens[A](body: => A): (A, Long) = {
    val before = RowGroupScan.indexFooterOpens.sum()
    val a = body
    (a, RowGroupScan.indexFooterOpens.sum() - before)
  }

  private def sortedTable(dir: String, n: Int, parts: Int = 2): Unit =
    TableLog.append(
      spark.range(n.toLong).selectExpr("id as k", "id * 7 as v")
        .repartitionByRange(parts, col("k")).sortWithinPartitions("k"),
      dir, options = smallRg)

  test("computeRowGroupIndex persists the index; pruned reads then plan " +
    "with ZERO footer opens and stay correct") {
    val dir = tmp("rgsc")
    sortedTable(dir, 20000)
    val v = TableLog.computeRowGroupIndex(spark, dir)
    val snap = TableLog.snapshot(dir)
    assert(snap.version == v && snap.op == "rgidx-stats")
    assert(snap.files.forall(snap.rgidx.contains), "all files mapped")
    val ((pr, st), opens) = footerOpens {
      LakeSelect.readWhere(spark, dir, "k BETWEEN 100 AND 700")
    }
    assert(opens == 0L, s"index must serve from the sidecar: $opens")
    assert(st.rgOpened < st.rgTotal)
    assert(pr.count() == 601L)
    // idempotent: nothing new to index
    assert(TableLog.computeRowGroupIndex(spark, dir) == v)
  }

  test("appends, optimize, and copy-on-write DML maintain the sidecar: " +
    "every file stays mapped, planning stays footer-free, results exact") {
    val dir = tmp("rgsm")
    sortedTable(dir, 8000)
    TableLog.computeRowGroupIndex(spark, dir)
    // append after opt-in: new files indexed in the same commit
    TableLog.append(
      spark.range(8000L, 12000L).selectExpr("id as k", "id * 7 as v")
        .repartitionByRange(1, col("k")).sortWithinPartitions("k"),
      dir, options = smallRg)
    val s1 = TableLog.snapshot(dir)
    assert(s1.files.forall(s1.rgidx.contains), "append must top up")
    // copy-on-write UPDATE rewrites touched files and re-indexes them
    TableLog.update(spark, dir, "k = 11000", Map("v" -> "v + 1"))
    val s2 = TableLog.snapshot(dir)
    assert(s2.files.forall(s2.rgidx.contains), "update must top up")
    // OPTIMIZE drops rewritten inputs' entries, maps its outputs
    TableLog.optimize(spark, dir, maxRows = 3000, clusterBy = Seq("k"))
    val s3 = TableLog.snapshot(dir)
    assert(s3.files.forall(s3.rgidx.contains), "optimize must top up")
    assert(s3.rgidx.keySet.subsetOf(s3.files.toSet ++ s2.rgidx.keySet))
    val ((pr, _), opens) = footerOpens {
      LakeSelect.readWhere(spark, dir, "k BETWEEN 10900 AND 11100")
    }
    assert(opens == 0L, s"post-maintenance planning opened $opens footers")
    val got = pr.agg(sum("v")).first().getLong(0)
    val want = (10900L to 11100L).map(k =>
      if (k == 11000L) k * 7 + 1 else k * 7).sum
    assert(got == want)
  }

  test("vacuum keeps referenced rgidx sidecars and sweeps orphaned ones") {
    val dir = tmp("rgsv")
    sortedTable(dir, 4000)
    TableLog.computeRowGroupIndex(spark, dir)
    TableLog.optimize(spark, dir, maxRows = 1000, clusterBy = Seq("k"))
    val head = TableLog.snapshot(dir)
    val live = head.rgidx.values.toSet
    val swept = TableLog.vacuum(dir, head.version, graceMs = 0L)
    live.foreach(s => assert(
      java.nio.file.Files.exists(java.nio.file.Paths.get(dir, s)),
      s"live sidecar $s swept"))
    // the pre-optimize sidecar is no longer referenced by any retained
    // version → swept
    assert(swept.exists(_.contains("rgidx")),
      s"orphaned rgidx sidecar must sweep: $swept")
    val (pr, _) = LakeSelect.readWhere(spark, dir, "k BETWEEN 0 AND 100")
    assert(pr.count() == 101L)
  }

  test("deletion vectors: the DV'd file scans SELECTIVELY (positions " +
    "rebase per row group) and deleted rows stay hidden") {
    val dir = tmp("rgsd")
    sortedTable(dir, 10000)
    // delete a narrow slice inside the SECOND half
    val (_, nDel, _, _) = TableLog.deleteVectored(spark, dir,
      "k >= 9000 AND k < 9100")
    assert(nDel == 100L)
    // a range that TOUCHES the DV'd file must still row-group-prune
    // inside it (the old engine read DV files whole)
    val (pr, st) =
      LakeSelect.readWhere(spark, dir, "k BETWEEN 8900 AND 9200")
    assert(st.rgOpened < st.rgTotal,
      s"DV file must prune at row-group level: $st")
    assert(st.filesOpened == 1 && st.filesTotal == 2)
    val ks = pr.select("k").as[Long].collect().toSet
    assert(ks == ((8900L to 9200L).toSet -- (9000L until 9100L)))
    // and the composed point lookup: deleted key invisible, present key
    // fetched from a partial scan of the same file
    TableLog.computeBlooms(spark, dir, "k")
    val (pl, plOpened, plTotal, _, _) =
      TableLog.readPointLookup(spark, dir, "k", Seq(9050L, 9150L))
    assert(plOpened < plTotal)
    assert(pl.filter(col("k").isin(9050L, 9150L))
      .select("k").as[Long].collect().toSet == Set(9150L))
  }

  test("countWhere: empty predicate is pure metadata even under DVs; " +
    "aligned predicates count without scanning; straddlers stay exact") {
    val dir = tmp("rgcc")
    sortedTable(dir, 12000)
    TableLog.computeRowGroupIndex(spark, dir)
    // DV-delete inside the SECOND file only — the first file's groups
    // stay eligible for metadata-only counting
    TableLog.deleteVectored(spark, dir, "k IN (9017, 10017, 11017)")
    // unfiltered: footer counts minus DV cardinality, zero scans
    val ((n0, st0), opens0) = footerOpens {
      LakeSelect.countWhere(spark, dir)
    }
    assert(n0 == 12000L - 3L && st0.scannedRgs == 0L && opens0 == 0L)
    // lo-only predicate covering everything: all groups prove full…
    // except the DV'd ones, which scan (deleted rows are invisible to
    // footer stats)
    val (n1, st1) = LakeSelect.countWhere(spark, dir, "k >= 0")
    assert(n1 == 12000L - 3L)
    assert(st1.exact && st1.metaRows > 0L)
    assert(st1.scannedRgs < st1.rgTotal)
    // a mid-range slice: disproven groups skip, straddlers scan, total
    // matches the filtered read
    val (n2, st2) = LakeSelect.countWhere(spark, dir,
      "k BETWEEN 3000 AND 8999")
    assert(n2 == TableLog.read(spark, dir)
      .filter(col("k").between(3000, 8999)).count())
    assert(st2.scannedRgs < st2.rgTotal)
    // non-index-expressible predicate: still correct, marked inexact
    val (n3, st3) = LakeSelect.countWhere(spark, dir, "k % 7 = 0")
    assert(!st3.exact)
    assert(n3 == TableLog.read(spark, dir).filter("k % 7 = 0").count())
  }

  test("nested columns (array<struct>, map) ride the selective scan " +
    "and point lookup — the training-data chat shape") {
    val dir = tmp("rgsn")
    val df = spark.range(6000).selectExpr(
      "id as k",
      "array(named_struct('role', 'user', 'content', concat('q', id))," +
        " named_struct('role', 'assistant', 'content', concat('a', id)))" +
        " as msgs",
      "map('lang', concat('l', id % 5)) as meta",
      "id * 3 as v")
    TableLog.append(
      df.repartitionByRange(2, col("k")).sortWithinPartitions("k"),
      dir, options = smallRg)
    val (pr, st) = LakeSelect.readWhere(spark, dir, "k BETWEEN 100 AND 200")
    assert(st.rgOpened < st.rgTotal)
    val got = pr.selectExpr("k", "msgs[1].content", "meta['lang']")
      .orderBy("k").collect()
    assert(got.length == 101)
    assert(got.head.getString(1) == "a100" &&
      got.head.getString(2) == "l0")
    val want = TableLog.read(spark, dir)
      .filter(col("k").between(100, 200))
      .selectExpr("k", "msgs[1].content", "meta['lang']")
      .orderBy("k").collect()
    assert(got.toSeq == want.toSeq)
    // point lookup over the nested table
    TableLog.computeBlooms(spark, dir, "k")
    val (pl, plo, plt, _, _) =
      TableLog.readPointLookup(spark, dir, "k", Seq(4242L))
    assert(plo < plt)
    assert(pl.filter(col("k") === 4242)
      .selectExpr("msgs[0].content").head().getString(0) == "q4242")
  }

  test("add-column schema evolution: old files null-fill through the " +
    "selective scan instead of failing") {
    val dir = tmp("rgse")
    TableLog.append(
      spark.range(3000).selectExpr("id as k", "id * 2 as v")
        .repartitionByRange(1, col("k")).sortWithinPartitions("k"),
      dir, options = smallRg)
    TableLog.append(
      spark.range(3000L, 6000L)
        .selectExpr("id as k", "id * 2 as v", "concat('t', id) as tag")
        .repartitionByRange(1, col("k")).sortWithinPartitions("k"),
      dir, options = smallRg)
    // range straddling both schema generations
    val (pr, st0) =
      LakeSelect.readWhere(spark, dir, "k BETWEEN 2900 AND 3100")
    assert(st0.filesOpened == 2)
    val rows = pr.orderBy("k").select("k", "tag").collect()
    assert(rows.length == 201)
    assert(rows.take(100).forall(_.isNullAt(1)), "old files null-fill")
    assert(rows.last.getString(1) == "t3100")
    // declarative read over the evolved table: the range AND the null
    // check both prune (evolved-away columns keep conservatively on the
    // old files, reject the no-null new-file groups)
    val (got, st) = LakeSelect.readWhere(spark, dir,
      "k BETWEEN 2900 AND 3100 AND tag IS NULL")
    assert(st.strategy == "rowgroup_multi")
    assert(got.count() == 100L)
  }

  test("zero-row-group files (empty append) neither crash nor pollute " +
    "pruned reads") {
    val dir = tmp("rgsz")
    sortedTable(dir, 2000, parts = 1)
    TableLog.append(spark.range(0).selectExpr("id as k", "id as v"),
      dir) // may stage zero files or a schema-only file
    val (pr, _) = LakeSelect.readWhere(spark, dir, "k BETWEEN 100 AND 110")
    assert(pr.count() == 11L)
    // fully-pruned read returns an empty frame WITH the schema
    val (none, st) =
      LakeSelect.readWhere(spark, dir, "k BETWEEN 900000 AND 990000")
    assert(st.rgOpened == 0L && none.columns.toSeq == Seq("k", "v"))
    assert(none.count() == 0L)
  }

  test("bloom routing is type-guarded: a double column and a " +
    "string-of-digits column never lose rows to a mistyped probe") {
    val dir = tmp("rgsb")
    val df = spark.range(4000).selectExpr(
      "cast(id as double) as d",
      "lpad(cast(id as string), 5, '0') as s", // '00042' ≠ '42'
      "id as k")
    TableLog.append(
      df.repartitionByRange(2, col("k")).sortWithinPartitions("k"),
      dir, options = smallRg)
    TableLog.computeBlooms(spark, dir, "d")
    // `d = 4` under Spark implicit cast matches d=4.0; the bloom hashed
    // "4.0" — the guard must route AWAY from point_lookup
    val (got, st) = LakeSelect.readWhere(spark, dir, "d = 4")
    assert(st.strategy != "point_lookup", s"unsafe bloom route: $st")
    assert(got.count() == 1L)
    // string column holding zero-padded digits probed with an integer
    val dir2 = tmp("rgsb2")
    TableLog.append(
      df.repartitionByRange(2, col("k")).sortWithinPartitions("k"),
      dir2, options = smallRg)
    TableLog.computeBlooms(spark, dir2, "s")
    val (got2, st2) = LakeSelect.readWhere(spark, dir2, "s = 42")
    assert(st2.strategy != "point_lookup", s"unsafe bloom route: $st2")
    assert(got2.count() == 1L) // '00042' = 42 under implicit cast
    // the WELL-typed probe still uses the bloom
    val (got3, st3) = LakeSelect.readWhere(spark, dir2, "s = '00042'")
    assert(st3.strategy == "point_lookup")
    assert(got3.count() == 1L)
  }

  test("prefix and date predicates route to range pruning: LIKE, " +
    "substr, startswith, to_date, DATE literals") {
    val dir = tmp("rgsp")
    val df = spark.range(12000).selectExpr(
      "date_format(date_add(date'2024-01-01', cast(id % 366 as int)), " +
        "'yyyy-MM-dd') as day",
      "date_add(date'2024-01-01', cast(id % 366 as int)) as d",
      "id as v")
    TableLog.append(
      df.repartitionByRange(3, col("day")).sortWithinPartitions("day"),
      dir, options = smallRg)
    def check(pred: String, strategy: String): Long = {
      val (got, st) = LakeSelect.readWhere(spark, dir, pred)
      assert(st.strategy == strategy, s"$pred → $st")
      if (strategy != "full_scan")
        assert(st.rgOpened < st.rgTotal, s"$pred did not prune: $st")
      val want = TableLog.read(spark, dir).where(pred)
      assert(got.orderBy("v").collect().toSeq ==
        want.orderBy("v").collect().toSeq, s"$pred drift")
      got.count()
    }
    assert(check("day LIKE '2024-03%'", "rowgroup_range") > 0L)
    assert(check("substr(day, 1, 7) = '2024-03'", "rowgroup_range") > 0L)
    assert(check("substring(day, 1, 7) = '2024-03'",
      "rowgroup_range") > 0L)
    assert(check("startswith(day, '2024-03-1')", "rowgroup_range") > 0L)
    assert(check("to_date(d) = '2024-03-15'", "rowgroup_in") > 0L)
    assert(check("d = DATE'2024-03-15'", "rowgroup_in") > 0L)
    assert(check("d BETWEEN DATE'2024-03-01' AND DATE'2024-03-31'",
      "rowgroup_range") > 0L)
    // non-prefix LIKE stays unprunable (conservative)
    assert(check("day LIKE '%03-15'", "full_scan") > 0L)
    // a DATE literal against a TIMESTAMP column prunes EXACTLY since
    // round 14: the bound lowers to session-zone midnight in the same
    // micros space Spark's implicit cast compares in (pre-r14 this was
    // conservatively unprunable)
    val dirTs = tmp("rgspt")
    TableLog.append(
      spark.range(2000).selectExpr(
        "timestamp_millis(1500000000000 + id * 86400000) as ts",
        "id as v"),
      dirTs, options = smallRg)
    val (gotTs, stTs) = LakeSelect.readWhere(spark, dirTs,
      "ts >= DATE'2021-01-01'")
    assert(stTs.strategy == "rowgroup_range" &&
      stTs.rgOpened < stTs.rgTotal, s"date-on-ts must prune: $stTs")
    assert(gotTs.count() ==
      TableLog.read(spark, dirTs).where("ts >= DATE'2021-01-01'").count())
    // countWhere through a prefix predicate: exact, mostly metadata
    val (n, st) = LakeSelect.countWhere(spark, dir,
      "substr(day, 1, 7) = '2024-03'")
    assert(st.exact)
    assert(n == TableLog.read(spark, dir)
      .where("substr(day, 1, 7) = '2024-03'").count())
  }

  test("IS NULL / IS NOT NULL prune and COUNT from the index's null " +
    "counts alone") {
    val dir = tmp("rgnl")
    // m is null for the whole first key-block: sorted row groups are
    // all-null or no-null except the boundary straddler
    TableLog.append(
      spark.range(12000).selectExpr("id as k",
        "case when id < 3000 then null else id end as m"),
      dir, options = smallRg)
    TableLog.computeRowGroupIndex(spark, dir)
    val (got, st) = LakeSelect.readWhere(spark, dir, "m IS NOT NULL")
    assert(st.strategy == "rowgroup_null", s"$st")
    assert(st.rgOpened < st.rgTotal, s"must prune all-null groups: $st")
    assert(got.count() == 9000L)
    val (gotN, stN) = LakeSelect.readWhere(spark, dir, "m IS NULL")
    assert(stN.rgOpened < stN.rgTotal)
    assert(gotN.count() == 3000L)
    // exact metadata counting off null stats
    val (n1, c1) = LakeSelect.countWhere(spark, dir, "m IS NULL")
    assert(n1 == 3000L && c1.exact && c1.metaRows > 0L &&
      c1.scannedRgs < c1.rgTotal)
    val (n2, c2) = LakeSelect.countWhere(spark, dir,
      "m IS NOT NULL AND k >= 6000")
    assert(n2 == 6000L && c2.exact)
    // composes with a range conjunct into one intersected scan
    val (got3, st3) = LakeSelect.readWhere(spark, dir,
      "m IS NULL AND k < 100")
    assert(st3.strategy == "rowgroup_multi")
    assert(got3.count() == 100L)
  }

  test("scale shape: a narrow read over a many-row-group table keeps " +
    "O(selectivity) slices — never the index — and a 1000-value " +
    "IN-list probes distributed, staying exact") {
    val dir = tmp("rgsc2")
    // one sorted file with MANY small row groups
    TableLog.append(
      spark.range(200000).selectExpr("id as k", "id as v")
        .repartitionByRange(1, col("k")).sortWithinPartitions("k"),
      dir, options = smallRg)
    TableLog.computeRowGroupIndex(spark, dir)
    val (pr, st) =
      LakeSelect.readWhere(spark, dir, "k BETWEEN 1000 AND 1050")
    assert(st.rgTotal > 50L, s"want many row groups, got ${st.rgTotal}")
    assert(st.rgOpened <= 2L,
      s"driver must hold only the KEPT slices: $st")
    assert(pr.count() == 51L)
    // wide IN-list: the probe is a distributed exists() over a literal
    // array — correctness over 1000 probes, pruning still strict
    val keys = (0 until 1000).map(i => i.toLong * 199)
    val (inPr, inSt) = LakeSelect.readWhere(spark, dir,
      s"k IN (${keys.mkString(", ")})")
    assert(inSt.strategy == "rowgroup_in")
    assert(inSt.rgOpened < inSt.rgTotal)
    assert(inPr.count() == 1000L)
  }

  test("columnMinMax: metadata-only extremes; a DV hiding the max " +
    "forces a single-column scan of just the vectored files") {
    val dir = tmp("rgmm")
    TableLog.append(
      spark.range(9000).selectExpr("id as k",
        "concat('s', lpad(cast(id as string), 5, '0')) as s",
        "cast(null as long) as empty",
        "cast(id as double) as d"),
      dir, options = smallRg)
    TableLog.computeRowGroupIndex(spark, dir)
    // clean table: pure metadata, zero row groups scanned
    val ((Some((mn, mx, sc)), _)) =
      (TableLog.columnMinMax(spark, dir, "k"), ())
    assert(mn.contains(0L) && mx.contains(8999L) && sc == 0L)
    val Some((smn, smx, _)) = TableLog.columnMinMax(spark, dir, "s")
    assert(smn.contains("s00000") && smx.contains("s08999"))
    // all-null column: SQL MIN/MAX = NULL, still metadata-only
    val Some((nmn, nmx, nsc)) = TableLog.columnMinMax(spark, dir, "empty")
    assert(nmn.isEmpty && nmx.isEmpty && nsc == 0L)
    // double: served from the FP stats — metadata-only on clean files
    val Some((dmn, dmx, dsc)) = TableLog.columnMinMax(spark, dir, "d")
    assert(dmn.contains(0.0) && dmx.contains(8999.0) && dsc == 0L,
      s"$dmn $dmx $dsc")
    // hide the max behind a deletion vector: the answer must come from
    // scanning the DV'd file's column, not the (stale-looking) stats
    TableLog.deleteVectored(spark, dir, "k >= 8998")
    val Some((mn2, mx2, sc2)) = TableLog.columnMinMax(spark, dir, "k")
    assert(mn2.contains(0L) && mx2.contains(8997L))
    assert(sc2 > 0L, "DV'd file must scan")
    // SQL surface — the DV delete above also hid s08998/s08999, so the
    // string extremes must reflect the scan, not the stale file stats
    graft.functions.GraftFunctions.registerAll(spark)
    val r = spark.sql(s"SELECT * FROM graft_minmax('$dir', 's')").head()
    assert(r.getString(0) == "s00000" && r.getString(1) == "s08997")
    // FP extremes under NaN: the NaN-bearing group's stats drop a
    // bound, so it scans selectively — and the true max IS NaN
    // (Spark's NaN-greatest order), with the clean groups still
    // answering from metadata
    TableLog.append(spark.sql(
      "SELECT 20000L as k, 'zz' as s, cast(null as long) as empty, " +
        "double('NaN') as d " +
        "UNION ALL SELECT 20001L, 'zz', cast(null as long), " +
        "double(-5.0)"), dir, options = smallRg)
    val Some((fmn, fmx, fsc)) = TableLog.columnMinMax(spark, dir, "d")
    assert(fmn.contains(-5.0), s"$fmn")
    assert(fmx.exists(v => v.asInstanceOf[Double].isNaN), s"$fmx")
    assert(fsc > 0L, "NaN-bearing group must scan")
  }

  test("CHECK constraints on a non-deterministic write validate the " +
    "MATERIALIZED rows (staged files), not the plan") {
    val dir = tmp("rgnd")
    TableLog.append(spark.range(100).selectExpr("id as k", "id as v"),
      dir)
    TableLog.addCheck(spark, dir, "v_small", "v < 1000000")
    // deterministic violating write still fails pre-write
    intercept[IllegalArgumentException] {
      TableLog.append(spark.range(5)
        .selectExpr("id as k", "id + 2000000 as v"), dir)
    }
    // non-deterministic plan: any evaluation may violate — the staged
    // rows are what must be checked. rand() < 0 never violates; a
    // shifted rand always does.
    val okRows = TableLog.append(spark.range(50)
      .selectExpr("id as k", "cast(rand() * 100 as long) as v"), dir)
    assert(okRows >= 1)
    intercept[IllegalArgumentException] {
      TableLog.append(spark.range(5)
        .selectExpr("id as k",
          "cast(rand() * 100 as long) + 2000000 as v"), dir)
    }
    // nothing from the failed write leaked into the table
    assert(TableLog.read(spark, dir).filter("v >= 1000000").count() == 0L)
  }

  test("exclusive upper bounds stay exclusive through the metadata " +
    "count: k < N on a group whose max IS N never counts k = N") {
    val dir = tmp("rgex")
    // ONE row group (default block size) whose lmax == 6000 — the
    // full-containment proof must not treat `k < 6000` as `k <= 6000`
    TableLog.append(spark.range(6001L).coalesce(1)
      .selectExpr("id as k",
        "date_add(DATE'2020-01-01', cast(id as int)) as d"), dir)
    TableLog.computeRowGroupIndex(spark, dir)
    val (n, st) = LakeSelect.countWhere(spark, dir, "k < 6000")
    assert(n == 6000L, s"exclusive bound overcounted: $n")
    assert(st.exact, s"k < N should stay exactly countable: $st")
    // same in DATE space (epoch-day stats)
    val dMax = "2036-06-05" // 2020-01-01 + 6000 days = the max d
    val (nd, std) = LakeSelect.countWhere(spark, dir, s"d < DATE'$dMax'")
    assert(nd == 6000L, s"exclusive date bound overcounted: $nd")
    assert(std.exact)
    // k < Long.MinValue is vacuous — must never wrap to keep-all-exact
    val (nm, stm) = LakeSelect.countWhere(spark, dir,
      s"k < ${Long.MinValue}L")
    assert(nm == 0L && !stm.exact || nm == 0L)
  }

  test("pure-metadata COUNT deduplicates shared DV sidecars: a second " +
    "delete re-pointing one file must not double-count its stale rows") {
    val dir = tmp("rgdv2")
    sortedTable(dir, 12000) // two files: k 0..~5999 and ~6000..11999
    // first DV touches BOTH files → one shared sidecar S1
    TableLog.deleteVectored(spark, dir, "k IN (10, 6010)")
    // second touches only the second file → S2 holds its FULL vector
    // {6010, 6020}; S1 still holds the stale (file2, 6010) row
    TableLog.deleteVectored(spark, dir, "k = 6020")
    val (n, st) = LakeSelect.countWhere(spark, dir)
    assert(n == 12000L - 3L, s"stale sidecar rows double-counted: $n")
    assert(st.scannedRgs == 0L) // still pure metadata
    // the filtered read agrees
    assert(TableLog.read(spark, dir).count() == 12000L - 3L)
  }

  test("bloom point lookups resolve add-column-evolved columns even " +
    "when every bloom-kept file predates the column") {
    val dir = tmp("rgbe")
    TableLog.append(
      spark.range(6000).selectExpr("id as k", "id * 7 as v")
        .repartitionByRange(2, col("k")).sortWithinPartitions("k"),
      dir, options = smallRg)
    TableLog.computeBlooms(spark, dir, "k")
    // evolved append: new column `extra` lives only in the new file
    TableLog.append(
      spark.range(6000, 12000).selectExpr("id as k", "id * 7 as v",
        "concat('x', id) as extra"),
      dir, options = smallRg)
    // k = 100 lives in an OLD file; the bloom prunes the new one, so
    // the kept subset has no `extra` — the union must still carry it
    val (got, st) = LakeSelect.readWhere(spark, dir,
      "k = 100 AND extra IS NULL", columns = Seq("k", "extra"))
    assert(st.strategy == "point_lookup", s"expected bloom route: $st")
    val rows = got.collect()
    assert(rows.length == 1 && rows.head.getLong(0) == 100L &&
      rows.head.isNullAt(1))
    // projection-only shape too
    val (got2, _) = LakeSelect.readWhere(spark, dir, "k = 100",
      columns = Seq("k", "v", "extra"))
    assert(got2.collect().map(r => (r.getLong(0), r.isNullAt(2)))
      .toSeq == Seq((100L, true)))
  }

  test("partition tags compose into declarative reads: a conjunct on " +
    "the partition column drops files before any index math") {
    val dir = tmp("rgpart")
    val df = spark.range(12000).selectExpr("id as k",
      "concat('g', cast(id % 4 as string)) as grp", "id * 7 as v")
    TableLog.appendPartitioned(df, dir, "grp")
    val snap0 = TableLog.snapshot(dir)
    assert(snap0.partCol.contains("grp"))
    assert(snap0.parts.size == snap0.files.size)
    // NOT rgidx-indexed: eliminated files would each cost a footer open
    // in the planning pass — zero-footer proof that they never entered
    // the index math at all
    val ((got, st), opens) = footerOpens {
      LakeSelect.readWhere(spark, dir, "grp = 'g1' AND v >= 0")
    }
    assert(got.count() == 3000L)
    assert(st.filesOpened < st.filesTotal, s"no partition prune: $st")
    assert(opens < snap0.files.size,
      s"eliminated files still footer-planned: $opens of ${snap0.files.size}")
    // IN-lists and ranges on the tag prune too; results stay exact
    val (g2, st2) = LakeSelect.readWhere(spark, dir,
      "grp IN ('g0', 'g2')")
    assert(g2.count() == 6000L && st2.filesOpened < st2.filesTotal)
    // metadata COUNT sees the same elimination
    val (n3, st3) = LakeSelect.countWhere(spark, dir, "grp = 'g3'")
    assert(n3 == 3000L && st3.exact)
    // a mistyped probe must not eliminate: string tags probed with a
    // number keep every file (conservative), result still right
    val (g4, _) = LakeSelect.readWhere(spark, dir, "grp IS NOT NULL")
    assert(g4.count() == 12000L)
    // LONG partition column: tags parse back to the numeric space
    val dir2 = tmp("rgpart2")
    TableLog.appendPartitioned(
      spark.range(8000).selectExpr("id as k", "id % 4 as bucket"),
      dir2, "bucket")
    val (h1, hs1) = LakeSelect.readWhere(spark, dir2, "bucket = 2")
    assert(h1.count() == 2000L && hs1.filesOpened < hs1.filesTotal)
    val (h2, hs2) = LakeSelect.readWhere(spark, dir2, "bucket >= 2")
    assert(h2.count() == 4000L && hs2.filesOpened < hs2.filesTotal)
    // plain (untagged) append into a partitioned table: new file always
    // kept, partCol survives, results stay exact
    TableLog.append(spark.range(8000, 8100)
      .selectExpr("id as k", "id % 4 as bucket"), dir2)
    val (h3, _) = LakeSelect.readWhere(spark, dir2, "bucket = 2")
    assert(h3.count() == 2025L)
    assert(TableLog.snapshot(dir2).partCol.contains("bucket"))
  }

  test("read-side type widening: int→long, float→double, and decimal " +
    "scale-up evolutions read through the selective scan") {
    val dir = tmp("rgwide")
    TableLog.append(
      spark.range(6000).selectExpr("cast(id as int) as k",
        "cast(id as float) as x", "cast(id as decimal(10,2)) as m")
        .coalesce(1).sortWithinPartitions("k"),
      dir, options = smallRg)
    TableLog.append(
      spark.range(6000, 12000).selectExpr("id as k",
        "cast(id as double) as x", "cast(id as decimal(14,4)) as m")
        .coalesce(1).sortWithinPartitions("k"),
      dir, options = smallRg)
    val (got, st) = LakeSelect.readWhere(spark, dir,
      "k BETWEEN 5500 AND 6499")
    assert(got.schema("k").dataType.typeName == "long")
    assert(got.schema("x").dataType.typeName == "double")
    assert(got.schema("m").dataType.typeName == "decimal(14,4)")
    val r = got.agg(count(lit(1)), sum("k"), min("k"), max("k"),
      sum("x"), sum("m")).first()
    assert(r.getLong(0) == 1000L)
    assert(r.getLong(2) == 5500L && r.getLong(3) == 6499L)
    assert(r.getLong(1) == (5500L to 6499L).sum)
    assert(r.getDouble(4) == (5500L to 6499L).sum.toDouble)
    assert(r.getDecimal(5).longValue == (5500L to 6499L).sum)
    assert(st.rgOpened < st.rgTotal, s"widened read did not prune: $st")
    // metadata count stays exact across the int/long seam
    val (n, stc) = LakeSelect.countWhere(spark, dir, "k < 6000")
    assert(n == 6000L && stc.exact)
    // the persisted sidecar (per-file dtypes) widens identically
    TableLog.computeRowGroupIndex(spark, dir)
    val ((got2, _), opens) = footerOpens {
      LakeSelect.readWhere(spark, dir, "k BETWEEN 5500 AND 6499")
    }
    assert(opens == 0L && got2.count() == 1000L)
    // a genuine conflict (long vs string) still fails loudly
    val dir2 = tmp("rgwide2")
    TableLog.append(spark.range(100).selectExpr("id as k"), dir2)
    TableLog.append(spark.range(100)
      .selectExpr("cast(id as string) as k"), dir2)
    intercept[RuntimeException] {
      LakeSelect.readWhere(spark, dir2, "k IS NOT NULL")._1.count()
    }
  }

  test("page-level pruning under the row-group keep set: straddling " +
    "groups decode only the surviving pages, DV positions stay exact") {
    val dir = tmp("rgpage")
    // ONE big sorted row group with many small pages: the row-group
    // index can't skip anything, but the ColumnIndex can
    TableLog.append(
      spark.range(100000).selectExpr("id as k", "id * 7 as v")
        .coalesce(1).sortWithinPartitions("k"),
      dir, options = Map("parquet.block.size" -> (64 << 20).toString,
        "parquet.page.size" -> "4096",
        "parquet.page.row.count.limit" -> "1000"))
    // rows the scan decoded = the scan tasks' input records
    def decoded[A](body: => A): (A, Long) = {
      val (a, c) = Harness.probe(spark)(body)
      (a, c.recordsRead)
    }
    val (n1, read1) = decoded {
      // count INSIDE the measured block — the read is lazy
      LakeSelect.readWhere(spark, dir, "k BETWEEN 40000 AND 40999")
        ._1.count()
    }
    assert(n1 == 1000L)
    assert(read1 > 0L, "the scan decoded nothing")
    assert(read1 < 10000L, s"pages not skipped: decoded $read1 of 100000")
    // a DV delete inside the slice: positions must stay file-ordinal
    // under the page filter, not a 0-based counter
    TableLog.deleteVectored(spark, dir, "k IN (40010, 40020)")
    val (got2, read2) = decoded {
      LakeSelect.readWhere(spark, dir, "k BETWEEN 40000 AND 40999")._1
        .agg(count(lit(1)), sum("k")).first()
    }
    assert(got2.getLong(0) == 998L, s"DV under page filter: $got2")
    assert(got2.getLong(1) ==
      (40000L to 40999L).sum - 40010L - 40020L)
    assert(read2 < 10000L, s"pages not skipped under a DV: $read2")
    // countWhere's straddler scan rides the same page filter
    val ((n3, _), read3) = decoded {
      LakeSelect.countWhere(spark, dir, "k BETWEEN 50000 AND 50499")
    }
    assert(n3 == 500L && read3 < 10000L, s"decoded $read3 of 100000")
  }

  test("timestamp predicates route on micros-normalized zone stats: " +
    "ranges, exact counts, day windows, year slices, NTZ — and the " +
    "TZ/NTZ boundary never crosses") {
    val dir = tmp("rgts")
    // hourly timestamps spanning ~2.3 years from 2020-09-13T12:26:40Z
    TableLog.append(
      spark.range(20000).selectExpr("id as k",
        "timestamp_seconds(1600000000 + id * 3600) as ts",
        "cast(timestamp_seconds(1600000000 + id * 3600) " +
          "as timestamp_ntz) as tsn")
        .coalesce(1).sortWithinPartitions("k"),
      dir, options = smallRg)
    def sameAs(pred: String): LakeSelect.Stats = {
      val (got, st) = LakeSelect.readWhere(spark, dir, pred)
      val want = TableLog.read(spark, dir).where(pred)
      assert(got.orderBy("k").collect().toSeq ==
        want.orderBy("k").collect().toSeq, s"$pred result drift")
      st
    }
    val st1 = sameAs("ts >= TIMESTAMP'2021-03-01 00:00:00' AND " +
      "ts < TIMESTAMP'2021-03-08 00:00:00'")
    assert(st1.strategy != "full_scan" && st1.rgOpened < st1.rgTotal,
      s"timestamp range did not prune: $st1")
    // metadata-exact count on the micros stats, exclusive bound honored
    val (n2, st2) = LakeSelect.countWhere(spark, dir,
      "ts < TIMESTAMP'2021-01-01 00:00:00'")
    assert(n2 == TableLog.read(spark, dir)
      .where("ts < TIMESTAMP'2021-01-01 00:00:00'").count())
    assert(st2.exact && st2.metaRows > 0L, s"$st2")
    // day window (to_date on a timestamp) and a calendar-year slice
    val st3 = sameAs("to_date(ts) = '2021-06-15'")
    assert(st3.strategy != "full_scan" && st3.rgOpened < st3.rgTotal,
      s"day window did not prune: $st3")
    val st4 = sameAs("year(ts) = 2022")
    assert(st4.strategy != "full_scan" && st4.rgOpened < st4.rgTotal,
      s"year slice did not prune: $st4")
    val (n4, st4c) = LakeSelect.countWhere(spark, dir, "year(ts) = 2021")
    assert(n4 == 365L * 24L && st4c.exact, s"$n4 $st4c")
    // NTZ column with an NTZ literal routes the same way
    val st5 = sameAs("tsn >= TIMESTAMP_NTZ'2021-03-01 00:00:00' AND " +
      "tsn < TIMESTAMP_NTZ'2021-03-08 00:00:00'")
    assert(st5.strategy != "full_scan" && st5.rgOpened < st5.rgTotal,
      s"NTZ range did not prune: $st5")
    // a TZ literal against the NTZ column must NOT prune on raw micros
    // (coercion changes the comparison space) — the kind guard drops
    // the conjunct, the result stays exact via the re-applied predicate
    val st6 = sameAs("tsn >= TIMESTAMP'2021-03-01 00:00:00'")
    assert(st6.strategy == "full_scan",
      s"cross-kind timestamp literal must not route: $st6")
  }

  test("driver-side bloom probe hashes are bit-identical to the " +
    "distributed xxhash64 kernel the build folds") {
    val vals: Seq[Any] = Seq("0", "hello", "00042", "4.0", 12345L,
      "élève", "")
    val local = graft.operators.TableLog.probeHashesLocal(vals)
    val row = spark.range(1).select(vals.flatMap(v =>
      (0 until 6).map(i => xxhash64(lit(i), lit(v.toString)))): _*)
      .head()
    vals.indices.foreach { i =>
      (0 until 6).foreach { j =>
        assert(local(i)(j) == row.getLong(i * 6 + j),
          s"hash drift at value $i hash $j")
      }
    }
  }

  test("an all-null leading row group in the probed column never " +
    "fabricates [0,0] bounds: pruned reads keep the real matches") {
    val dir = tmp("rgnull")
    // file/groups where v is ALL NULL for the first half of the key
    // space — uninitialized parquet min/max primitives must be ignored
    TableLog.append(
      spark.range(12000).selectExpr("id as k",
        "if(id < 6000, cast(null as bigint), id) as v")
        .repartitionByRange(2, col("k")).sortWithinPartitions("k"),
      dir, options = smallRg)
    TableLog.computeRowGroupIndex(spark, dir)
    val (got, st) = LakeSelect.readWhere(spark, dir,
      "v BETWEEN 8000 AND 8999")
    assert(got.count() == 1000L)
    assert(st.rgOpened < st.rgTotal, s"expected pruning: $st")
    // and the all-null groups are NOT kept by a v-range that would
    // match a fabricated [0,0]
    val (got0, _) = LakeSelect.readWhere(spark, dir, "v = 0")
    assert(got0.count() == 0L)
    // metadata count over the null column stays right
    val (nn, _) = LakeSelect.countWhere(spark, dir, "v IS NULL")
    assert(nn == 6000L)
  }

  test("compactRowGroupIndex consolidates an append stream's sidecars " +
    "into one: reads agree, planning opens zero footers, vacuum sweeps " +
    "the old sidecars") {
    val dir = tmp("rgcmp")
    sortedTable(dir, 4000)
    TableLog.computeRowGroupIndex(spark, dir)
    // five more appends: each auto-top-up maps its files to a fresh
    // sidecar
    (1 to 5).foreach { i =>
      TableLog.append(
        spark.range(4000L * i, 4000L * (i + 1))
          .selectExpr("id as k", "id * 7 as v").coalesce(1),
        dir, options = smallRg)
    }
    val snap0 = TableLog.snapshot(dir)
    assert(snap0.files.forall(snap0.rgidx.contains))
    val pre = snap0.files.flatMap(snap0.rgidx.get).distinct
    assert(pre.size > 1, s"expected several sidecars, got $pre")
    val (r1, st1) = LakeSelect.readWhere(spark, dir,
      "k between 3900 and 8100")
    val rows1 = r1.orderBy("k").collect().toSeq
    val v = TableLog.compactRowGroupIndex(spark, dir)
    assert(v > snap0.version)
    assert(TableLog.compactRowGroupIndex(spark, dir) == v,
      "compaction must be idempotent")
    val snap1 = TableLog.snapshot(dir)
    assert(snap1.op == "rgidx-compact")
    val post = snap1.files.flatMap(snap1.rgidx.get).distinct
    assert(post.size == 1, s"expected one sidecar, got $post")
    val ((r2, st2), opens) = footerOpens {
      LakeSelect.readWhere(spark, dir, "k between 3900 and 8100")
    }
    assert(opens == 0L, s"compacted planning opened footers: $opens")
    assert(r2.orderBy("k").collect().toSeq == rows1,
      "reads drifted across compaction")
    assert(st2.rgOpened < st2.rgTotal, s"$st2")
    assert(st2.rgTotal == st1.rgTotal, s"$st1 vs $st2")
    // the pre-compaction sidecars orphan once history is vacuumed
    val deleted = TableLog.vacuum(dir,
      keepFrom = TableLog.currentVersion(dir), graceMs = 0L)
    pre.foreach { old =>
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir).resolve(old)),
        s"orphaned sidecar survived vacuum: $old ($deleted)")
    }
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir).resolve(post.head)),
      "live compacted sidecar swept")
    val (n, _) = LakeSelect.countWhere(spark, dir, "k < 4000")
    assert(n == 4000L)
  }

  test("compactBloomIndex consolidates the bloom sidecars: point " +
    "lookups agree, absent probes stay provably absent, vacuum sweeps " +
    "the old sidecars") {
    val dir = tmp("blcmp")
    sortedTable(dir, 4000)
    TableLog.computeBlooms(spark, dir, "k")
    // each append auto-tops-up into a FRESH sidecar
    (1 to 2).foreach { i =>
      TableLog.append(
        spark.range(4000L * i, 4000L * (i + 1))
          .selectExpr("id as k", "id * 7 as v").coalesce(1),
        dir, options = smallRg)
    }
    val snap0 = TableLog.snapshot(dir)
    assert(snap0.files.forall(snap0.blooms.contains))
    val pre = snap0.files.flatMap(snap0.blooms.get).distinct
    assert(pre.size > 1, s"expected several bloom sidecars, got $pre")
    val (df1, st1) = LakeSelect.readWhere(spark, dir, "k = 9002")
    assert(st1.strategy == "point_lookup", s"$st1")
    val rows1 = df1.collect().toSeq
    assert(rows1.nonEmpty)
    val v = TableLog.compactBloomIndex(spark, dir)
    assert(TableLog.compactBloomIndex(spark, dir) == v,
      "bloom compaction must be idempotent")
    val snap1 = TableLog.snapshot(dir)
    assert(snap1.op == "bloom-compact")
    val post = snap1.files.flatMap(snap1.blooms.get).distinct
    assert(post.size == 1, s"expected one bloom sidecar, got $post")
    val (df2, st2) = LakeSelect.readWhere(spark, dir, "k = 9002")
    assert(st2.strategy == "point_lookup", s"$st2")
    assert(df2.collect().toSeq == rows1,
      "point lookup drifted across bloom compaction")
    assert(st2.filesOpened < st2.filesTotal, s"$st2")
    // a provably-absent probe still prunes every file
    val (dfA, stA) = LakeSelect.readWhere(spark, dir, "k = 999999")
    assert(dfA.count() == 0L && stA.filesOpened == 0, s"$stA")
    TableLog.vacuum(dir, keepFrom = TableLog.currentVersion(dir),
      graceMs = 0L)
    pre.foreach { old =>
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir).resolve(old)),
        s"orphaned bloom sidecar survived vacuum: $old")
    }
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir).resolve(post.head)),
      "live compacted bloom sidecar swept")
  }

  test("appends auto-compact the stats sidecars past the threshold: " +
    "the streaming-sink shape never accumulates unbounded plan legs") {
    val dir = tmp("autocmp")
    val thr0 = TableLog.autoCompactThreshold
    TableLog.autoCompactThreshold = 6
    try {
      sortedTable(dir, 1000)
      TableLog.computeRowGroupIndex(spark, dir)
      TableLog.computeBlooms(spark, dir, "k")
      (1 to 14).foreach { i =>
        TableLog.append(
          spark.range(1000L * i, 1000L * (i + 1))
            .selectExpr("id as k", "id * 7 as v").coalesce(1),
          dir, options = smallRg)
      }
      val snap = TableLog.snapshot(dir)
      val rg = snap.files.flatMap(snap.rgidx.get).distinct.size
      val bl = snap.files.flatMap(snap.blooms.get).distinct.size
      // without the trigger this would be 15 sidecars per family; with
      // threshold 6 the count stays bounded by threshold + a partial
      // interval
      assert(rg <= 7, s"rg-index never auto-compacted: $rg sidecars")
      assert(bl <= 7, s"bloom index never auto-compacted: $bl sidecars")
      // data and indexes stay exact through the interleaved compactions
      val (df, st) = LakeSelect.readWhere(spark, dir, "k = 13500")
      assert(st.strategy == "point_lookup" && df.count() == 1L, s"$st")
      val (n, cs) = LakeSelect.countWhere(spark, dir, "k < 15000")
      assert(n == 15000L && cs.exact, s"$n $cs")
    } finally TableLog.autoCompactThreshold = thr0
  }

  test("bloom auto-top-up is schema-evolution safe: an append without " +
    "the indexed column stays unindexed and probes keep it " +
    "conservatively") {
    val dir = tmp("blevo")
    sortedTable(dir, 2000)
    TableLog.computeBlooms(spark, dir, "k")
    // evolved append: no `k` column at all — must not fail the append
    TableLog.append(
      spark.range(5).selectExpr("id + 1000000 as w").coalesce(1),
      dir, options = smallRg)
    val snap = TableLog.snapshot(dir)
    val newFile = snap.files.filterNot(snap.blooms.contains)
    assert(newFile.size == 1,
      s"evolved file must stay bloom-unindexed: ${snap.blooms.keySet}")
    // a probe keeps the unindexed file (conservative) and results are
    // exact through the re-applied predicate. Routing note: the type
    // guard reads the NEWEST file's schema, which no longer carries
    // `k`, so the bloom route declines and the zone route serves — a
    // safe fallback, never a wrong answer
    val (df, st) = LakeSelect.readWhere(spark, dir, "k = 700")
    assert(Set("point_lookup", "rowgroup_in").contains(st.strategy),
      s"$st")
    assert(df.count() == 1L)
    val (dfA, _) = LakeSelect.readWhere(spark, dir, "k = 999999999")
    assert(dfA.count() == 0L)
  }
}
