package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{LakeSelect, TableLog}

/** Declarative index routing: predicate analysis picks the most
  * selective index, the full predicate always re-applies, and results
  * match a plain filtered read for every strategy. */
class LakeSelectSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val smallRg = Map(
    "parquet.block.size" -> "16384", "parquet.page.size" -> "4096")

  private def freshTable(withBloom: Boolean): String = {
    val dir = java.nio.file.Files.createTempDirectory("lsel")
      .toString + "/t"
    val df = spark.range(16000).selectExpr(
      "id as k",
      "concat('d-', lpad(cast(id % 500 as string), 4, '0')) as tag",
      "id * 3 as v")
    TableLog.append(
      df.repartitionByRange(4, col("k")).sortWithinPartitions("k"),
      dir, options = smallRg)
    if (withBloom) TableLog.computeBlooms(spark, dir, "k")
    dir
  }

  private def expectSame(dir: String, pred: String, strategy: String,
      prunes: Boolean): Unit = {
    val (got, stats) = LakeSelect.readWhere(spark, dir, pred)
    assert(stats.strategy == strategy,
      s"$pred routed to ${stats.strategy}, wanted $strategy ($stats)")
    if (prunes)
      assert(stats.filesOpened < stats.filesTotal ||
        stats.rgOpened < stats.rgTotal, s"$pred did not prune: $stats")
    val want = TableLog.read(spark, dir).where(pred)
    assert(got.orderBy("k").collect().toSeq ==
      want.orderBy("k").collect().toSeq, s"$pred result drift")
  }

  test("equality on the bloom-indexed column routes to point_lookup") {
    val dir = freshTable(withBloom = true)
    expectSame(dir, "k = 12345", "point_lookup", prunes = true)
    expectSame(dir, "k IN (5, 7777, 15999)", "point_lookup",
      prunes = true)
    // extra unprunable conjunct rides along, result still exact
    expectSame(dir, "k = 200 AND v % 2 = 0", "point_lookup",
      prunes = true)
  }

  test("equality without a bloom index routes to rowgroup_in") {
    val dir = freshTable(withBloom = false)
    expectSame(dir, "k = 9000", "rowgroup_in", prunes = true)
    // two prunable equalities: keep sets intersect, one scan
    expectSame(dir, "tag = 'd-0042' AND k = 9000", "rowgroup_multi",
      prunes = true)
  }

  test("ranges route to rowgroup_range; BETWEEN desugars; bounds merge") {
    val dir = freshTable(withBloom = false)
    expectSame(dir, "k BETWEEN 100 AND 900", "rowgroup_range",
      prunes = true)
    expectSame(dir, "k >= 100 AND k <= 900", "rowgroup_range",
      prunes = true)
    expectSame(dir, "k >= 100 AND k < 900 AND k >= 200",
      "rowgroup_range", prunes = true)
    // reversed operand order
    expectSame(dir, "100 <= k AND 900 >= k", "rowgroup_range",
      prunes = true)
    // lo-only numeric range
    expectSame(dir, "k > 15500", "rowgroup_range", prunes = true)
  }

  test("string lo-only range prunes without a fake top string") {
    val dir = java.nio.file.Files.createTempDirectory("lsel_s")
      .toString + "/t"
    val df = spark.range(12000).selectExpr(
      "concat('u-', lpad(cast(id as string), 6, '0')) as key",
      "id as k", "id as v")
    TableLog.append(
      df.repartitionByRange(3, col("key")).sortWithinPartitions("key"),
      dir, options = smallRg)
    val (got, stats) = LakeSelect.readWhere(spark, dir,
      "key >= 'u-011500'")
    assert(stats.strategy == "rowgroup_range" &&
      stats.column.contains("key"))
    assert(stats.rgOpened < stats.rgTotal, s"no pruning: $stats")
    assert(got.count() == 500L)
  }

  test("single-column OR of equalities is an IN-list; everything else " +
    "unprunable falls back to full_scan, still exact") {
    val dir = freshTable(withBloom = false)
    // "k = a OR k = b" on one column prunes like k IN (a, b)
    expectSame(dir, "k = 5 OR k = 9000", "rowgroup_in", prunes = true)
    expectSame(dir, "k = 5 OR 9000 = k OR k = 5", "rowgroup_in",
      prunes = true)
    // OR across columns (or over non-equalities) prunes as a
    // DISJUNCTION when every branch is index-expressible: a group
    // survives unless all branches are disproven
    expectSame(dir, "k = 5 OR v = 3", "rowgroup_or", prunes = false)
    expectSame(dir, "k = 5 OR k > 100", "rowgroup_or", prunes = false)
    // a branch that is NOT expressible drops the whole disjunction
    expectSame(dir, "k = 5 OR v % 7 = 3", "full_scan", prunes = false)
    expectSame(dir, "v % 7 = 3", "full_scan", prunes = false)
    expectSame(dir, "k + 1 = 10", "full_scan", prunes = false)
  }

  test("disjunctions prune when both branches reject; NOT inverts " +
    "comparisons and De Morgan splits") {
    val dir = freshTable(withBloom = false)
    // two narrow k-islands: every group outside both ranges rejects
    val (got, st) = LakeSelect.readWhere(spark, dir,
      "k BETWEEN 100 AND 110 OR k BETWEEN 15000 AND 15010")
    assert(st.strategy == "rowgroup_or", s"$st")
    assert(st.rgOpened < st.rgTotal, s"no pruning: $st")
    assert(got.count() == 22L)
    // NOT over a comparison inverts exactly (three-valued safe)
    expectSame(dir, "NOT (k > 100)", "rowgroup_range", prunes = true)
    expectSame(dir, "NOT (k BETWEEN 100 AND 15900)", "rowgroup_or",
      prunes = true)
    // De Morgan: ¬(A ∨ B) becomes two prunable conjuncts (¬(tag = x)
    // is a not-equal — unprunable — so use an invertible comparison)
    expectSame(dir, "NOT (k < 15900 OR tag >= 'd-0100')",
      "rowgroup_multi", prunes = true)
    // ¬(A ∧ B) becomes a disjunction
    expectSame(dir, "NOT (k >= 100 AND k <= 15900)", "rowgroup_or",
      prunes = true)
  }

  test("equality beats range when both are present; priority is " +
    "bloom > eq > range") {
    val dir = freshTable(withBloom = true)
    // range on k plus equality on k: equality (point lookup) wins
    expectSame(dir, "k >= 0 AND k = 4242", "point_lookup", prunes = true)
    // equality on unindexed tag + range on k: both prune — the keep
    // sets intersect (strategy rowgroup_multi over both columns)
    val (_, st) = LakeSelect.readWhere(spark, dir,
      "tag = 'd-0042' AND k <= 15999")
    assert(st.strategy == "rowgroup_multi" &&
      st.column.contains("k,tag")) // constraints sort by column name
  }

  test("projection pushdown widens to predicate columns then trims " +
    "back, on every strategy") {
    val dir = freshTable(withBloom = true)
    // predicate references v, projection asks only for tag: the scan
    // must carry v for the re-filter, the result must not
    val (got, st) = LakeSelect.readWhere(spark, dir,
      "k = 4242 AND v % 2 = 0", columns = Seq("tag"))
    assert(st.strategy == "point_lookup")
    assert(got.columns.toSeq == Seq("tag"))
    assert(got.collect().map(_.getString(0)).toSeq == Seq("d-0242"))
    val (got2, st2) = LakeSelect.readWhere(spark, dir,
      "k BETWEEN 100 AND 110", columns = Seq("v", "k"))
    assert(st2.strategy == "rowgroup_range")
    assert(got2.columns.toSeq == Seq("v", "k"))
    assert(got2.orderBy("k").collect().map(r => (r.getLong(0),
      r.getLong(1))).toSeq == (100L to 110L).map(k => (k * 3, k)))
    // full-scan fallback projects too
    val (got3, st3) = LakeSelect.readWhere(spark, dir,
      "v % 4801 = 0 AND k > 0", columns = Seq("k"))
    assert(st3.strategy != "full_scan" || got3.columns.toSeq == Seq("k"))
    assert(got3.columns.toSeq == Seq("k"))
  }

  test("rowgroup_multi beats single-column pruning on a z-ordered " +
    "table — the clustering payoff") {
    val dir = java.nio.file.Files.createTempDirectory("lsel_z")
      .toString + "/t"
    val df = spark.range(16384).selectExpr(
      "id % 128 as x", "cast(id / 128 as long) as y", "id as v")
    TableLog.append(df.repartition(4), dir)
    TableLog.optimize(spark, dir, maxRows = 1024,
      clusterBy = Seq("x", "y"))
    val (_, sx) = LakeSelect.readWhere(spark, dir,
      "x BETWEEN 10 AND 20")
    val (got, sm) = LakeSelect.readWhere(spark, dir,
      "x BETWEEN 10 AND 20 AND y BETWEEN 10 AND 20")
    assert(sm.strategy == "rowgroup_multi")
    assert(sm.rgOpened < sx.rgOpened,
      s"intersection must out-prune one column: $sm vs $sx")
    assert(got.count() == 121L)
  }

  test("contradictory equalities intersect to an empty probe set " +
    "→ full scan fallback stays exact") {
    val dir = freshTable(withBloom = false)
    val (got, _) = LakeSelect.readWhere(spark, dir, "k = 5 AND k = 6")
    assert(got.count() == 0L)
  }

  test("datetime function predicates route to exact date ranges: " +
    "year comparisons, year BETWEEN, trunc and date_trunc equalities") {
    val dir = java.nio.file.Files.createTempDirectory("lsel_dt")
      .toString + "/t"
    // ~11 years of days, date-sorted so calendar slices cluster
    TableLog.append(
      spark.range(4000).selectExpr("id as k",
        "date_add(DATE'2018-01-01', cast(id as int)) as d",
        "date_format(date_add(DATE'2018-01-01', cast(id as int)), " +
          "'yyyy-MM-dd') as ds"),
      dir, options = smallRg)
    def sameAs(pred: String, wantPrune: Boolean = true): Unit = {
      val (got, st) = LakeSelect.readWhere(spark, dir, pred)
      assert(st.strategy != "full_scan", s"$pred did not route: $st")
      if (wantPrune)
        assert(st.rgOpened < st.rgTotal, s"$pred did not prune: $st")
      val want = TableLog.read(spark, dir).where(pred)
      assert(got.orderBy("k").collect().toSeq ==
        want.orderBy("k").collect().toSeq, s"$pred result drift")
    }
    sameAs("year(d) = 2020")
    sameAs("2022 = year(d)")
    sameAs("year(d) >= 2027")
    sameAs("year(d) < 2019")
    sameAs("year(d) BETWEEN 2025 AND 2026")
    sameAs("NOT (year(d) > 2018)")
    sameAs("trunc(d, 'MM') = DATE'2021-06-01'")
    sameAs("trunc(d, 'YEAR') = DATE'2024-01-01'")
    sameAs("date_trunc('month', d) = TIMESTAMP'2023-03-01 00:00:00'")
    sameAs("date_trunc('week', d) = '2020-02-03'") // a Monday
    // exactness: the year slice meta-counts without scanning row
    // groups that prove fully inside the year
    val (n, st) = LakeSelect.countWhere(spark, dir, "year(d) = 2020")
    assert(n == 366L, s"leap-year count: $n") // 2020 is a leap year
    assert(st.exact && st.metaRows > 0L, s"$st")
    // misaligned truncation literal is provably false — correct, no rows
    val (got0, _) = LakeSelect.readWhere(spark, dir,
      "trunc(d, 'MM') = DATE'2021-06-15'")
    assert(got0.count() == 0L)
    // a non-midnight timestamp can never equal a month truncation
    val (got1, _) = LakeSelect.readWhere(spark, dir,
      "date_trunc('month', d) = TIMESTAMP'2023-03-01 07:30:00'")
    assert(got1.count() == 0L)
    // year() on a NON-date (string) column must not prune on epoch-day
    // stats (lowering guard) — it falls back and stays correct
    val (gotK, stK) = LakeSelect.readWhere(spark, dir, "year(ds) = 2020")
    assert(stK.strategy == "full_scan", s"string year must not route: $stK")
    assert(gotK.count() == 366L)
  }

  test("not-equal and NOT IN route: constant excluded groups disprove, " +
    "clean covered groups meta-count, year IN prunes as a disjunction") {
    // low-cardinality clustered column: sorted by month-code, so most
    // row groups are CONSTANT in it — exactly what != can eliminate
    val dir = java.nio.file.Files.createTempDirectory("lsel_ne")
      .toString + "/t"
    TableLog.append(
      spark.range(16000).selectExpr("id as k",
        "concat('m', lpad(cast(id DIV 2000 as string), 2, '0')) as seg",
        "date_add(DATE'2019-01-01', cast(id % 3000 as int)) as d")
        .repartitionByRange(2, org.apache.spark.sql.functions.col("seg"))
        .sortWithinPartitions("seg", "k"),
      dir, options = smallRg)
    val (g1, st1) = LakeSelect.readWhere(spark, dir, "seg != 'm03'")
    assert(st1.strategy == "rowgroup_ne", s"$st1")
    assert(st1.rgOpened < st1.rgTotal, s"!= did not prune: $st1")
    assert(g1.count() == 14000L)
    val (g2, st2) = LakeSelect.readWhere(spark, dir,
      "seg NOT IN ('m00', 'm07')")
    assert(st2.strategy == "rowgroup_ne" &&
      st2.rgOpened < st2.rgTotal, s"$st2")
    assert(g2.count() == 12000L)
    // metadata COUNT: groups whose [min,max] excludes the value prove
    // full without scanning
    val (n3, st3) = LakeSelect.countWhere(spark, dir, "seg != 'm03'")
    assert(n3 == 14000L && st3.exact, s"$st3")
    assert(st3.scannedRgs < st3.rgTotal, s"$st3")
    // numeric NOT IN on the long column stays exact
    val (n4, st4) = LakeSelect.countWhere(spark, dir,
      "k NOT IN (10, 20, 30)")
    assert(n4 == 15997L && st4.exact)
    // year(d) IN (…) prunes as a disjunction of calendar-year ranges
    val (g5, st5) = LakeSelect.readWhere(spark, dir,
      "year(d) IN (2019, 2026)")
    assert(st5.strategy != "full_scan", s"year IN did not route: $st5")
    val want5 = TableLog.read(spark, dir)
      .where("year(d) IN (2019, 2026)").count()
    assert(g5.count() == want5 && want5 > 0L)
  }

  test("LIKE with a custom ESCAPE never prefix-routes: the raw pattern " +
    "is not the prefix, and pruning on it would lose rows silently") {
    // tags contain a literal '#': pattern 'a##-%' ESCAPE '#' (a doubled
    // escape) matches prefix 'a#-' — its RAW body 'a##-' contains no
    // %/_/\\, so a route that ignores the escape would prune on the
    // wrong prefix and silently drop every matching row group
    val dir = java.nio.file.Files.createTempDirectory("lsel_esc")
      .toString + "/t"
    TableLog.append(
      spark.range(8000).selectExpr("id as k",
        "concat('a#-', lpad(cast(id as string), 5, '0')) as tag"),
      dir, options = smallRg)
    val pred = "tag LIKE 'a##-0004%' ESCAPE '#'"
    val (got, st) = LakeSelect.readWhere(spark, dir, pred)
    assert(st.strategy == "full_scan", s"custom escape must not route: $st")
    val want = TableLog.read(spark, dir).where(pred).count()
    assert(want > 0L && got.count() == want)
    // the default escape still prefix-routes the same slice
    val (got2, st2) = LakeSelect.readWhere(spark, dir,
      "tag LIKE 'a#-0004%'")
    assert(st2.strategy == "rowgroup_range", s"$st2")
    assert(got2.count() == want)
  }

  test("case-mapped equalities route through the variant probe: " +
    "upper/lower =/IN prune, non-ASCII and non-fixed-points stay safe") {
    val dir = java.nio.file.Files.createTempDirectory("lsel_case")
      .toString + "/t"
    // two single-case clusters sorted apart: uppercase SEGnn rows then
    // lowercase segnn rows — a case-insensitive equality must keep both
    // clusters' matching groups and prune the rest
    val df = spark.range(16000).selectExpr(
      "id as k",
      "case when id % 2 = 0 " +
        "then concat('SEG', lpad(cast(id % 8 as string), 2, '0')) " +
        "else concat('seg', lpad(cast(id % 8 as string), 2, '0')) " +
        "end as tag")
    TableLog.append(
      df.repartitionByRange(4, col("tag"), col("k"))
        .sortWithinPartitions("tag", "k"),
      dir, options = smallRg)
    def same(pred: String, strategy: String, prunes: Boolean): Unit = {
      val (got, st) = LakeSelect.readWhere(spark, dir, pred)
      assert(st.strategy == strategy,
        s"$pred routed ${st.strategy}, wanted $strategy ($st)")
      if (prunes) assert(st.rgOpened < st.rgTotal, s"$pred: $st")
      val want = TableLog.read(spark, dir).where(pred)
      assert(got.orderBy("k").collect().toSeq ==
        want.orderBy("k").collect().toSeq, s"$pred result drift")
      assert(got.count() > 0L, s"$pred unexpectedly empty")
    }
    same("lower(tag) = 'seg03'", "rowgroup_case", prunes = true)
    same("upper(tag) IN ('SEG01', 'SEG05')", "rowgroup_case",
      prunes = true)
    same("ucase(tag) = 'SEG07'", "rowgroup_case", prunes = true)
    // a literal that is not a fixed point of its mapping is provably
    // false — empty result, nothing scanned beyond the empty probe
    val (gotF, _) = LakeSelect.readWhere(spark, dir,
      "upper(tag) = 'seg01'")
    assert(gotF.count() == 0L)
    // non-ASCII literals must NOT route (Unicode case mapping is not
    // per-character) — conservative full scan, exact result
    val (gotU, stU) = LakeSelect.readWhere(spark, dir,
      "lower(tag) = 'ség03'")
    assert(stU.strategy == "full_scan", s"$stU")
    assert(gotU.count() == 0L)
    // case-insensitive PREFIX family: ILIKE (prefix and no-wildcard),
    // lower() LIKE, startswith(upper())
    same("tag ILIKE 'seg03%'", "rowgroup_case", prunes = true)
    same("tag ILIKE 'SeG05'", "rowgroup_case", prunes = true)
    same("lower(tag) LIKE 'seg07%'", "rowgroup_case", prunes = true)
    same("startswith(upper(tag), 'SEG01')", "rowgroup_case",
      prunes = true)
    // ILIKE under a custom escape must not route (same contract as
    // LIKE): conservative full scan, exact result
    val (gotE, stE) = LakeSelect.readWhere(spark, dir,
      "tag ILIKE 'seg03%' ESCAPE '#'")
    assert(stE.strategy == "full_scan", s"$stE")
    assert(gotE.count() ==
      TableLog.read(spark, dir).where("lower(tag) = 'seg03'").count())
    // the aggregate twin stays correct and never claims exactness
    val (n, cs) = LakeSelect.countWhere(spark, dir,
      "lower(tag) = 'seg03'")
    assert(n == TableLog.read(spark, dir)
      .where("lower(tag) = 'seg03'").count())
    assert(!cs.exact, s"case-mapped count must not claim exact: $cs")
    // constant-group full proof: a one-value table proves containment
    // through the folded constant, so the straddle count stays 0
    val dir2 = java.nio.file.Files.createTempDirectory("lsel_case2")
      .toString + "/t"
    TableLog.append(
      spark.range(4000).selectExpr("id as k", "'BUILDING' as tag")
        .coalesce(1),
      dir2, options = smallRg)
    val (n2, cs2) = LakeSelect.countWhere(spark, dir2,
      "lower(tag) = 'building'")
    assert(n2 == 4000L, s"$n2")
  }

  test("trim-mapped equalities route through the padded-variant probe: " +
    "trim/ltrim/rtrim =/IN prune, non-fixed-points are provably false") {
    val dir = java.nio.file.Files.createTempDirectory("lsel_trim")
      .toString + "/t"
    // a mix of clean, right-padded, and left-padded tag values, sorted
    // so the left-padded rows (which keep every 'b'/'l' probe) cluster
    // in their own leading groups and the rest prune on the exact
    // trailing-pad test
    val df = spark.range(16000).selectExpr(
      "id as k",
      "case when id % 3 = 0 " +
        "then concat(' ', 'tag', lpad(cast(id % 8 as string), 2, '0')) " +
        "when id % 3 = 1 " +
        "then concat('tag', lpad(cast(id % 8 as string), 2, '0'), '  ') " +
        "else concat('tag', lpad(cast(id % 8 as string), 2, '0')) " +
        "end as tag")
    TableLog.append(
      df.repartitionByRange(4, col("tag"), col("k"))
        .sortWithinPartitions("tag", "k"),
      dir, options = smallRg)
    def same(pred: String, strategy: String, prunes: Boolean): Unit = {
      val (got, st) = LakeSelect.readWhere(spark, dir, pred)
      assert(st.strategy == strategy,
        s"$pred routed ${st.strategy}, wanted $strategy ($st)")
      if (prunes) assert(st.rgOpened < st.rgTotal, s"$pred: $st")
      val want = TableLog.read(spark, dir).where(pred)
      assert(got.orderBy("k").collect().toSeq ==
        want.orderBy("k").collect().toSeq, s"$pred result drift")
      assert(got.count() > 0L, s"$pred unexpectedly empty")
    }
    same("trim(tag) = 'tag03'", "rowgroup_trim", prunes = true)
    same("btrim(tag) IN ('tag01', 'tag05')", "rowgroup_trim",
      prunes = true)
    same("rtrim(tag) = 'tag07'", "rowgroup_trim", prunes = true)
    same("ltrim(tag) = 'tag02  '", "rowgroup_trim", prunes = true)
    // a target that is not a fixed point of its trim is provably
    // false — empty result, nothing scanned beyond the empty probe
    val (gotF, _) = LakeSelect.readWhere(spark, dir,
      "trim(tag) = ' tag01'")
    assert(gotF.count() == 0L)
    // the two-arg custom-charset form must NOT route (different
    // variant set) — conservative full scan, exact result
    val (gotC, stC) = LakeSelect.readWhere(spark, dir,
      "btrim(tag, ' t') = 'ag03'")
    assert(stC.strategy == "full_scan", s"$stC")
    assert(gotC.orderBy("k").collect().toSeq ==
      TableLog.read(spark, dir).where("btrim(tag, ' t') = 'ag03'")
        .orderBy("k").collect().toSeq)
    // the aggregate twin stays correct and never claims exactness
    val (n, cs) = LakeSelect.countWhere(spark, dir,
      "trim(tag) = 'tag03'")
    assert(n == TableLog.read(spark, dir)
      .where("trim(tag) = 'tag03'").count())
    assert(!cs.exact, s"trim-mapped count must not claim exact: $cs")
    // constant-group full proof: a one-value padded table proves
    // containment through the stripped constant
    val dir2 = java.nio.file.Files.createTempDirectory("lsel_trim2")
      .toString + "/t"
    TableLog.append(
      spark.range(4000).selectExpr("id as k", "'  padded  ' as tag")
        .coalesce(1),
      dir2, options = smallRg)
    val (n2, _) = LakeSelect.countWhere(spark, dir2,
      "trim(tag) = 'padded'")
    assert(n2 == 4000L, s"$n2")
  }

  test("float/double predicates route on FP zone stats: ranges and " +
    "equalities prune, NaN stays safe, -0.0 = 0.0, counts never exact") {
    val dir = java.nio.file.Files.createTempDirectory("lsel_dbl")
      .toString + "/t"
    // doubles + floats sorted by price; a few NaN and -0.0 rows ride
    // along (NaN sorts greatest in Spark, so they cluster in the last
    // groups)
    val df = spark.range(16000).selectExpr("id as k",
      "cast(id as double) / 10.0 as price",
      "cast(cast(id as float) / 5.0 as float) as fprice")
      .unionByName(spark.sql(
        "SELECT 100001L as k, double('NaN') as price, " +
          "float('NaN') as fprice " +
          "UNION ALL SELECT 100002L, double('NaN'), float('NaN') " +
          "UNION ALL SELECT 100003L, double('-0.0'), float('-0.0')"))
    TableLog.append(
      df.repartitionByRange(4, col("price"), col("k"))
        .sortWithinPartitions("price", "k"),
      dir, options = smallRg)
    def same(pred: String, strategy: String, prunes: Boolean): Unit = {
      val (got, st) = LakeSelect.readWhere(spark, dir, pred)
      assert(st.strategy == strategy,
        s"$pred routed ${st.strategy}, wanted $strategy ($st)")
      if (prunes) assert(st.rgOpened < st.rgTotal, s"$pred: $st")
      val want = TableLog.read(spark, dir).where(pred)
      assert(got.orderBy("k").collect().toSeq ==
        want.orderBy("k").collect().toSeq, s"$pred result drift")
    }
    same("price < 100.5", "rowgroup_range", prunes = true)
    same("price >= 1500.0 and price <= 1550.2", "rowgroup_range",
      prunes = true)
    same("price > 1590.0", "rowgroup_range", prunes = true)
    // equality: the decimal literal promotes with the same toDouble
    // Spark's comparison uses, so the probe lands on the exact value
    same("price = 123.4", "rowgroup_in", prunes = true)
    // float column: stats widen exactly to double space
    same("fprice < 50.2", "rowgroup_range", prunes = true)
    // NaN-matching predicates keep the NaN rows (NaN is greatest):
    // the result check inside same() proves the NaN rows survive
    // whatever this writer folded into the last groups' stats
    val (gotN, _) = LakeSelect.readWhere(spark, dir, "price > 1599.9")
    assert(gotN.count() ==
      TableLog.read(spark, dir).where("price > 1599.9").count())
    assert(gotN.filter(col("k") >= 100001L && col("k") <= 100002L)
      .count() == 2, "NaN rows pruned away")
    // an explicit NaN probe is unroutable (conservative full scan)
    val (gotNaN, stNaN) = LakeSelect.readWhere(spark, dir,
      "price = double('NaN')")
    assert(stNaN.strategy == "full_scan", s"$stNaN")
    assert(gotNaN.count() == 2L)
    // -0.0 equals 0.0 in Spark: the 0.0 probe must keep the -0.0 row
    val (gotZ, _) = LakeSelect.readWhere(spark, dir, "price = 0.0")
    assert(gotZ.count() == 2L, // id 0 and the planted -0.0 row
      s"${gotZ.count()}")
    // a decimal literal against a BIGINT column stays unrouted on the
    // FP path (different comparison space)
    val (gotI, _) = LakeSelect.readWhere(spark, dir, "k = 55.0")
    assert(gotI.count() == 1L)
    // FP counts never claim exactness (stats may not bound NaN rows)
    val (n, cs) = LakeSelect.countWhere(spark, dir, "price < 100.5")
    assert(n == TableLog.read(spark, dir).where("price < 100.5").count())
    assert(!cs.exact, s"FP count must stay conservative: $cs")
  }

  test("decimal predicates route as exact unscaled bounds: ranges " +
    "rescale exactly, unrepresentable equalities prune to empty, wide " +
    "precision stays conservative") {
    val dir = java.nio.file.Files.createTempDirectory("lsel_dec")
      .toString + "/t"
    // price = id + 0.25 as DECIMAL(12,2) (string-built: exact), plus a
    // wide DECIMAL(20,2) twin whose stats are binary (unfoldable)
    val df = spark.range(16000).selectExpr("id as k",
      "cast(concat(cast(id as string), '.25') as decimal(12,2)) " +
        "as price",
      "cast(concat(cast(id as string), '.25') as decimal(20,2)) " +
        "as price_wide")
    TableLog.append(
      df.repartitionByRange(4, col("price"), col("k"))
        .sortWithinPartitions("price", "k"),
      dir, options = smallRg)
    def same(pred: String, strategy: String, prunes: Boolean): Long = {
      val (got, st) = LakeSelect.readWhere(spark, dir, pred)
      assert(st.strategy == strategy,
        s"$pred routed ${st.strategy}, wanted $strategy ($st)")
      if (prunes) assert(st.rgOpened < st.rgTotal, s"$pred: $st")
      val want = TableLog.read(spark, dir).where(pred)
      assert(got.orderBy("k").collect().toSeq ==
        want.orderBy("k").collect().toSeq, s"$pred result drift")
      got.count()
    }
    assert(same("price < 100.2", "rowgroup_range",
      prunes = true) == 100L)
    // a bound the scale cannot represent rescales EXACTLY in integer
    // semantics (k < 100.005 <=> unscaled <= 10000)
    assert(same("price < 100.005", "rowgroup_range",
      prunes = true) == 100L)
    assert(same("price >= 15000.25 and price <= 15010.0",
      "rowgroup_range", prunes = true) == 10L)
    assert(same("price = 123.25", "rowgroup_in", prunes = true) == 1L)
    // an equality the scale cannot represent is provably false:
    // nothing scans at all
    val (gotF, stF) = LakeSelect.readWhere(spark, dir,
      "price = 123.256")
    assert(gotF.count() == 0L && stF.rgOpened == 0, s"$stF")
    // precision > 18: binary stats, conservative full scan, exact
    val (gotW, stW) = LakeSelect.readWhere(spark, dir,
      "price_wide < 100.2")
    assert(stW.strategy == "full_scan", s"$stW")
    assert(gotW.count() == 100L)
    // counts stay conservative in flag, exact in value
    val (n, cs) = LakeSelect.countWhere(spark, dir, "price < 100.2")
    assert(n == 100L && !cs.exact, s"$n $cs")
  }

  test("readJoinPruned: dim keys route through zone stats and blooms, " +
    "wide/empty/untyped dims fall back safely") {
    val dir = java.nio.file.Files.createTempDirectory("lsel_join")
      .toString + "/t"
    val fact = spark.range(32000).selectExpr("id as fk",
      "id * 7 as v")
    TableLog.append(
      fact.repartitionByRange(8, col("fk")).sortWithinPartitions("fk"),
      dir, options = smallRg)
    import spark.implicits._
    def expect(dim: org.apache.spark.sql.DataFrame, dimKey: String,
        strategy: String, wantRows: Long, prunes: Boolean): Unit = {
      val (df, st) = LakeSelect.readJoinPruned(spark, dir, "fk",
        dim, dimKey)
      assert(st.strategy == strategy,
        s"routed ${st.strategy}, wanted $strategy ($st)")
      if (prunes) assert(st.filesOpened < st.filesTotal, s"$st")
      assert(df.count() == wantRows, s"$strategy join rows")
    }
    // a narrow dim slice prunes most fact files via zone stats
    val dim = (100L to 180L).map(k => (k, s"d$k")).toDF("dk", "attr")
    expect(dim, "dk", "join_rowgroup_in", 81L, prunes = true)
    // blooms take over once built
    TableLog.computeBlooms(spark, dir, "fk")
    expect(dim, "dk", "join_point_lookup", 81L, prunes = true)
    // join multiplicity is preserved (duplicate dim keys)
    val dup = dim.union(dim.limit(3))
    expect(dup, "dk", "join_point_lookup", 84L, prunes = true)
    // empty dim → empty join, zero fact files
    expect(dim.where("dk < 0"), "dk", "join_pruned_empty", 0L,
      prunes = false)
    // over-wide key set falls back to the plain broadcast join
    val wide = spark.range(32000).selectExpr("id as dk")
    val (dfW, stW) = LakeSelect.readJoinPruned(spark, dir, "fk",
      wide, "dk", maxKeys = 1000)
    assert(stW.strategy == "join_full", s"$stW")
    assert(dfW.count() == 32000L)
    // untyped (double) keys cannot probe soundly → unpruned, exact
    val dbl = Seq(100.0, 101.0).toDF("dk")
    val (dfD, stD) = LakeSelect.readJoinPruned(spark, dir, "fk",
      dbl, "dk")
    assert(stD.strategy == "join_full", s"$stD")
    assert(dfD.count() == 2L)

    // DATE join keys — the calendar-dim pattern: a date-typed fact
    // column pruned by a narrow dim's dates via epoch-day zone stats
    val dirD = java.nio.file.Files.createTempDirectory("lsel_joind")
      .toString + "/t"
    TableLog.append(
      spark.range(16000).selectExpr("id as k",
        "date_add(date'2023-01-01', cast(id % 400 as int)) as d")
        .repartitionByRange(4, col("d"), col("k"))
        .sortWithinPartitions("d", "k"),
      dirD, options = smallRg)
    val dimD = spark.sql(
      "SELECT explode(sequence(date'2023-02-01', date'2023-02-03')) " +
        "AS dd")
    val (dfJ, stJ) = LakeSelect.readJoinPruned(spark, dirD, "d",
      dimD, "dd")
    assert(stJ.strategy == "join_rowgroup_in", s"$stJ")
    assert(stJ.rgOpened < stJ.rgTotal, s"date-dim join must prune: $stJ")
    assert(dfJ.count() ==
      TableLog.read(spark, dirD)
        .where("d BETWEEN date'2023-02-01' AND date'2023-02-03'")
        .count(), "date-dim join row drift")

    // TIMESTAMP join keys — an event-time dim against a ts-sorted fact
    val dirT = java.nio.file.Files.createTempDirectory("lsel_joint")
      .toString + "/t"
    TableLog.append(
      spark.range(16000).selectExpr("id as k",
        "timestamp'2023-01-01 00:00:00' + " +
          "make_interval(0, 0, 0, 0, 0, cast(id as int), 0) as ts")
        .repartitionByRange(4, col("ts"), col("k"))
        .sortWithinPartitions("ts", "k"),
      dirT, options = smallRg)
    val dimT = spark.sql(
      "SELECT timestamp'2023-01-03 05:00:00' + " +
        "make_interval(0, 0, 0, 0, 0, cast(m as int), 0) AS dt " +
        "FROM range(3) AS t(m)")
    val (dfT, stT) = LakeSelect.readJoinPruned(spark, dirT, "ts",
      dimT, "dt")
    assert(stT.strategy == "join_rowgroup_in", s"$stT")
    assert(stT.rgOpened < stT.rgTotal, s"ts-dim join must prune: $stT")
    assert(dfT.count() == 3L, s"ts-dim join rows: ${dfT.count()}")
  }

  test("property: readWhere equals readEvolved + where as a multiset " +
    "over an evolved, widened, nested, DV-carrying table") {
    val dir = java.nio.file.Files.createTempDirectory("lsel_prop")
      .toString + "/t"
    // v1: int k, decimal(5,2) d, a nested struct, a case-mixed tag
    TableLog.append(spark.range(3000).selectExpr(
        "cast(id as int) as k",
        "cast(id % 1000 / 10.0 as decimal(5,2)) as d",
        "named_struct('a', cast(id % 7 as int), " +
          "'tags', array(concat('t', id % 5))) as n",
        "case when id % 11 = 0 then null " +
          "else concat(if(id % 2 = 0, 'Seg', 'SEG'), id % 13) end as tag")
      .repartitionByRange(2, col("k")).sortWithinPartitions("k"),
      dir, options = smallRg)
    // v2: k widens to bigint, d's scale widens, plus an added column
    TableLog.append(spark.range(3000L, 6000L).selectExpr(
        "id as k",
        "cast(id % 1000 / 10.0 as decimal(12,4)) as d",
        "named_struct('a', cast(id % 7 as int), " +
          "'tags', array(concat('t', id % 5))) as n",
        "concat(if(id % 2 = 0, 'seg', 'Seg'), id % 13) as tag",
        "case when id % 3 = 0 then null else id * 2 end as x")
      .repartitionByRange(2, col("k")).sortWithinPartitions("k"),
      dir, options = smallRg)
    // the deletion vector's scan spans both type generations
    TableLog.deleteVectored(spark, dir, "k % 97 = 5")
    val want = TableLog.readEvolved(spark, dir)
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(want.columns.map(col): _*).collect().map(_.toString)
        .sorted.toSeq
    val rnd = new scala.util.Random(0x5e1ec7L)
    def range = {
      val a = rnd.nextInt(6200) - 100
      s"k BETWEEN $a AND ${a + rnd.nextInt(1500)}"
    }
    val preds = Seq.fill(4)(range) ++ Seq.fill(3) {
      "k IN (" + Seq.fill(1 + rnd.nextInt(6))(rnd.nextInt(6100))
        .mkString(", ") + ")"
    } ++ Seq(
      "x IS NULL", "x IS NOT NULL AND " + range, "tag IS NULL",
      s"lower(tag) = 'seg${rnd.nextInt(13)}'",
      s"upper(tag) = 'SEG${rnd.nextInt(13)}' AND " + range,
      s"d BETWEEN ${rnd.nextInt(50)} AND ${50 + rnd.nextInt(50)}",
      "n.a = 3 AND " + range)
    preds.foreach { p =>
      val (got, st) = LakeSelect.readWhere(spark, dir, p)
      val (g, w) = (canon(got), canon(want.where(p)))
      assert(g == w, s"$p drifted ($st): only read ${g.diff(w).take(3)}" +
        s", only expected ${w.diff(g).take(3)}")
    }
  }
}
