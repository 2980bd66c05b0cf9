package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions._
import graft.functions.GeoSimplify

/** SpatialJoinRewrite: the naive `JOIN ON st_contains(...)` (a cartesian
  * in Catalyst's hands) must rewrite to the grid-bucketed equi-join +
  * JTS refine, produce identical results, and leave equi-joins and
  * hinted joins alone. */
class SpatialJoinRuleSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def fixtures() = {
    GeoSimplify.install(spark)
    // 400 points on a deterministic lattice; 20 small squares + (one test
    // adds an oversized continent square separately)
    val pts = (0 until 400).map { i =>
      (i.toLong, -170.0 + (i % 40) * 8.5 + 0.25, -75.0 + (i / 40) * 15.5 + 0.5)
    }.toDF("pid", "x", "y").select(col("pid"), st_point(col("x"), col("y")).as("pgeom"))
    val polys = (0 until 20).map { k =>
      (k.toLong, -170.0 + (k % 10) * 30.0, -70.0 + (k / 10) * 60.0)
    }.toDF("polyid", "cx", "cy")
      .select(col("polyid"), st_make_square(col("cx"), col("cy"), lit(12.0)).as("ggeom"))
    (pts, polys)
  }

  private def naive(pts: org.apache.spark.sql.DataFrame,
      polys: org.apache.spark.sql.DataFrame) =
    pts.join(polys, st_contains(col("ggeom"), col("pgeom")))
      .select(col("pid"), col("polyid"))

  test("rewrites the contains join to an equi-join, results identical") {
    val (pts, polys) = fixtures()
    val expected = try {
      spark.conf.set("spark.graft.spatialjoin.rewrite", "false")
      naive(pts, polys).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    } finally spark.conf.set("spark.graft.spatialjoin.rewrite", "true")
    val got = naive(pts, polys)
    val p = got.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"still cartesian:\n$p")
    assert(p.contains("__graft_cell"), s"no cell equi-join:\n$p")
    // the coarse fallback exists but broadcasts an (empty-here) filtered side
    assert(got.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == expected)
    assert(expected.nonEmpty, "fixture must produce containment pairs")
  }

  test("oversized polygons survive via the broadcast coarse branch") {
    val (pts, _) = fixtures()
    // a 160-degree square covers far more than 4096 res-10 cells → its
    // covering is empty and only the coarse branch can produce its pairs
    val continent = Seq((99L, 0.0, 0.0)).toDF("polyid", "cx", "cy")
      .select(col("polyid"), st_make_square(col("cx"), col("cy"), lit(160.0)).as("ggeom"))
    val got = naive(pts, continent)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = try {
      spark.conf.set("spark.graft.spatialjoin.rewrite", "false")
      naive(pts, continent).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    } finally spark.conf.set("spark.graft.spatialjoin.rewrite", "true")
    assert(got == expected, "oversized branch must not lose pairs")
    assert(got.nonEmpty, "the continent square should contain many points")
  }

  test("contains works with the polygon side on the left too") {
    val (pts, polys) = fixtures()
    val swapped = polys.join(pts, st_contains(col("ggeom"), col("pgeom")))
      .select(col("pid"), col("polyid"))
    val p = swapped.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"still cartesian:\n$p")
    val expected = try {
      spark.conf.set("spark.graft.spatialjoin.rewrite", "false")
      naive(pts, polys).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    } finally spark.conf.set("spark.graft.spatialjoin.rewrite", "true")
    assert(swapped.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == expected)
  }

  test("joins with an equality conjunct are left alone") {
    val (pts, polys) = fixtures()
    val withKey = pts.withColumn("k", col("pid") % 20)
    val polyKey = polys.withColumn("k2", col("polyid"))
    val j = withKey.join(polyKey,
      col("k") === col("k2") && st_contains(col("ggeom"), col("pgeom")))
    val p = j.queryExecution.optimizedPlan.toString
    assert(!p.contains("__graft_cell"), s"equi-join was rewritten:\n$p")
    // and it still evaluates correctly
    assert(j.count() >= 0)
  }

  test("residual predicates ride along the rewrite") {
    val (pts, polys) = fixtures()
    val j = pts.join(polys,
      st_contains(col("ggeom"), col("pgeom")) && col("pid") > col("polyid"))
      .select(col("pid"), col("polyid"))
    val expected = try {
      spark.conf.set("spark.graft.spatialjoin.rewrite", "false")
      pts.join(polys,
          st_contains(col("ggeom"), col("pgeom")) && col("pid") > col("polyid"))
        .select(col("pid"), col("polyid"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    } finally spark.conf.set("spark.graft.spatialjoin.rewrite", "true")
    assert(j.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == expected)
  }

  test("disable flag restores the naive plan") {
    val (pts, polys) = fixtures()
    try {
      spark.conf.set("spark.graft.spatialjoin.rewrite", "false")
      val p = naive(pts, polys).queryExecution.optimizedPlan.toString
      assert(!p.contains("__graft_cell"))
    } finally spark.conf.set("spark.graft.spatialjoin.rewrite", "true")
  }

  // --- two-sided rewrites (st_intersects / st_dwithin) ---------------------

  /** Overlapping square lattices with planted TOUCHING edges: a-squares on
    * a 17° pitch with half 9.0, b-squares on a 13° pitch with half 4.0 —
    * many overlaps, several exact boundary contacts (all values
    * quarter-degree exact, so JTS and the naive replay agree bit-for-bit). */
  private def boxFixtures() = {
    GeoSimplify.install(spark)
    val a = (0 until 100).map { i =>
      (i.toLong, -160.0 + (i % 10) * 17.0, -60.0 + (i / 10) * 13.0)
    }.toDF("aid", "cx", "cy")
      .select(col("aid"), st_make_square(col("cx"), col("cy"), lit(9.0)).as("ag"))
    val b = (0 until 80).map { k =>
      (k.toLong, -155.0 + (k % 8) * 13.0, -55.0 + (k / 8) * 11.0)
    }.toDF("bid", "cx", "cy")
      .select(col("bid"), st_make_square(col("cx"), col("cy"), lit(4.0)).as("bg"))
    (a, b)
  }

  private def pairsOf(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  test("st_intersects rewrites to a two-sided cell equi-join; the pair " +
    "MULTISET is identical (exactly-once dedup, no duplicates)") {
    val (a, b) = boxFixtures()
    def q() = a.join(b, st_intersects(col("ag"), col("bg")))
      .select(col("aid"), col("bid"))
    val expected = try {
      spark.conf.set("spark.graft.spatialjoin.rewrite", "false")
      pairsOf(q())
    } finally spark.conf.set("spark.graft.spatialjoin.rewrite", "true")
    val got = q()
    val p = got.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"still cartesian:\n$p")
    assert(p.contains("__graft_cell_a"), s"no two-sided cell join:\n$p")
    // pin the FINE path to a real equi-join: the only nested-loop joins
    // allowed are the two (empty-here) broadcast coarse branches
    assert(pairsOf(got) == expected,
      "pair multiset differs — lost, duplicated, or spurious pairs")
    assert(expected.nonEmpty)
    // duplicates are the characteristic dedup failure: check explicitly
    assert(expected.distinct.size == expected.size,
      "fixture sanity: naive join emits each pair once")
  }

  test("st_intersects: argument order (b, a) rewrites too") {
    val (a, b) = boxFixtures()
    val got = a.join(b, st_intersects(col("bg"), col("ag")))
      .select(col("aid"), col("bid"))
    val p = got.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"still cartesian:\n$p")
    assert(p.contains("__graft_cell_a"), s"no two-sided cell join:\n$p")
    val expected = try {
      spark.conf.set("spark.graft.spatialjoin.rewrite", "false")
      pairsOf(a.join(b, st_intersects(col("bg"), col("ag")))
        .select(col("aid"), col("bid")))
    } finally spark.conf.set("spark.graft.spatialjoin.rewrite", "true")
    assert(pairsOf(got) == expected)
  }

  test("st_intersects: an oversized geometry on either side survives " +
    "through the broadcast coarse branches") {
    val (a, b) = boxFixtures()
    val bigA = a.unionByName(Seq((999L, 0.0, 0.0)).toDF("aid", "cx", "cy")
      .select(col("aid"), st_make_square(col("cx"), col("cy"), lit(170.0)).as("ag")))
    val bigB = b.unionByName(Seq((888L, 5.0, 5.0)).toDF("bid", "cx", "cy")
      .select(col("bid"), st_make_square(col("cx"), col("cy"), lit(165.0)).as("bg")))
    def q() = bigA.join(bigB, st_intersects(col("ag"), col("bg")))
      .select(col("aid"), col("bid"))
    val expected = try {
      spark.conf.set("spark.graft.spatialjoin.rewrite", "false")
      pairsOf(q())
    } finally spark.conf.set("spark.graft.spatialjoin.rewrite", "true")
    val got = pairsOf(q())
    assert(got == expected, "oversized branches lost or duplicated pairs")
    // the two continents intersect each other AND most normal squares
    assert(expected.count(_._1 == 999L) > 1)
    assert(expected.count(_._2 == 888L) > 1)
    assert(expected.contains((999L, 888L)),
      "the oversized×oversized pair must appear exactly once")
  }

  test("st_dwithin rewrites with the first argument's covering padded; " +
    "pairs equal the naive join including boundary-exact distances") {
    GeoSimplify.install(spark)
    // quarter-exact lattice points; radius 2.0 → several boundary-exact
    // pairs (dx=2, dy=0), which JTS (sqrt of exact square) and the naive
    // replay both count
    val a = (0 until 60).map { i =>
      (i.toLong, -150.0 + (i % 10) * 6.0, -50.0 + (i / 10) * 8.0)
    }.toDF("aid", "x", "y")
      .select(col("aid"), st_point(col("x"), col("y")).as("ag"))
    // dx ∈ {−2+3m} (boundary-exact 2 and interior 1 both occur with
    // dy = 0, since dy is a multiple of 4)
    val b = (0 until 400).map { k =>
      (k.toLong, -148.0 + (k % 20) * 3.0, -50.0 + (k / 20) * 4.0)
    }.toDF("bid", "x", "y")
      .select(col("bid"), st_point(col("x"), col("y")).as("bg"))
    def q() = a.join(b, st_dwithin(col("ag"), col("bg"), lit(2.0)))
      .select(col("aid"), col("bid"))
    val expected = try {
      spark.conf.set("spark.graft.spatialjoin.rewrite", "false")
      pairsOf(q())
    } finally spark.conf.set("spark.graft.spatialjoin.rewrite", "true")
    val got = q()
    val p = got.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"still cartesian:\n$p")
    assert(p.contains("__graft_cell_a"), s"no padded cell join:\n$p")
    assert(pairsOf(got) == expected)
    assert(expected.nonEmpty)
  }

  test("st_dwithin pads the SMALLER side regardless of argument order " +
    "(plan-stats choice)") {
    GeoSimplify.install(spark)
    val small = (0 until 30).map { i =>
      (i.toLong, -100.0 + i * 5.0, 10.0)
    }.toDF("aid", "x", "y")
      .select(col("aid"), st_point(col("x"), col("y")).as("ag"))
    val big = (0 until 2000).map { k =>
      (k.toLong, -101.0 + (k % 200) * 1.0, 9.0 + (k / 200) * 0.5)
    }.toDF("bid", "x", "y")
      .select(col("bid"), st_point(col("x"), col("y")).as("bg"))
    // BIG side is the left plan AND the first predicate argument — the
    // stats heuristic must still land the pad on the 30-row side
    val q = big.join(small, st_dwithin(col("bg"), col("ag"), lit(2.0)))
      .select(col("aid"), col("bid"))
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("cells_covering_pad"), s"no padded covering:\n$p")
    p.linesIterator.filter(_.contains("cells_covering_pad")).foreach { l =>
      assert(l.contains("ag#"), s"pad landed on the big side: $l")
      assert(!l.contains("bg#"), s"pad landed on the big side: $l")
    }
    val expected = try {
      spark.conf.set("spark.graft.spatialjoin.rewrite", "false")
      pairsOf(big.join(small, st_dwithin(col("bg"), col("ag"), lit(2.0)))
        .select(col("aid"), col("bid")))
    } finally spark.conf.set("spark.graft.spatialjoin.rewrite", "true")
    assert(pairsOf(q) == expected)
    assert(expected.nonEmpty)
  }

  test("st_dwithin with a non-foldable distance is left to the naive plan") {
    GeoSimplify.install(spark)
    val a = Seq((1L, 0.0, 0.0, 1.5)).toDF("aid", "x", "y", "r")
      .select(col("aid"), st_point(col("x"), col("y")).as("ag"), col("r"))
    val b = Seq((2L, 1.0, 0.0)).toDF("bid", "x", "y")
      .select(col("bid"), st_point(col("x"), col("y")).as("bg"))
    val j = a.join(b, st_dwithin(col("ag"), col("bg"), col("r")))
    val p = j.queryExecution.optimizedPlan.toString
    assert(!p.contains("__graft_cell"), s"non-foldable distance rewritten:\n$p")
    assert(j.count() == 1)
  }

  // --- semi / anti rewrites ------------------------------------------------

  private def semiAnti(pts: org.apache.spark.sql.DataFrame,
      polys: org.apache.spark.sql.DataFrame, how: String) =
    pts.join(polys, st_contains(col("ggeom"), col("pgeom")), how)

  private def naiveSet(df: => org.apache.spark.sql.DataFrame): Set[Long] = {
    try {
      spark.conf.set("spark.graft.spatialjoin.rewrite", "false")
      df.collect().map(_.getLong(0)).toSet
    } finally spark.conf.set("spark.graft.spatialjoin.rewrite", "true")
  }

  private def countOf(hay: String, needle: String): Int =
    if (needle.isEmpty) 0 else hay.sliding(needle.length).count(_ == needle)

  /** Every BroadcastNestedLoopJoin in a rewritten plan must be a BOUNDED
    * coarse branch — one whose build side filters on an overflowed
    * covering (`size(cells_covering…) = 0`), by nature few rows — never
    * the |probe|·|corpus| loop. The naive plan has a nested loop and NO
    * coarse filter, so this also proves the rewrite fired. */
  private def assertOnlyBoundedNestedLoops(p: String): Unit = {
    val bnl = countOf(p, "BroadcastNestedLoopJoin")
    val coarse = countOf(p, "size(cells_covering")
    assert(bnl <= coarse, s"unbounded nested loop ($bnl loops, " +
      s"$coarse coarse filters):\n$p")
    assert(countOf(p, "CartesianProduct") == 0, s"cartesian:\n$p")
  }

  test("LEFT ANTI contains join (probe contained) rewrites to chained " +
    "hash anti joins — no nested loop, result identical") {
    val (pts, polys) = fixtures()
    val expected = naiveSet(semiAnti(pts, polys, "left_anti"))
    val got = semiAnti(pts, polys, "left_anti")
    val p = got.queryExecution.executedPlan.toString
    assertOnlyBoundedNestedLoops(p)
    assert(p.contains("__graft_cell"), s"no cell equi anti join:\n$p")
    assert(got.collect().map(_.getLong(0)).toSet == expected)
    assert(expected.nonEmpty && expected.size < 400,
      "fixture must keep the anti join non-trivial")
  }

  test("LEFT SEMI contains join rewrites; fine/coarse branches partition " +
    "the probe rows exactly (oversized polygon included)") {
    val (pts, polys) = fixtures()
    val continent = Seq((99L, 0.0, 0.0)).toDF("polyid", "cx", "cy")
      .select(col("polyid"),
        st_make_square(col("cx"), col("cy"), lit(160.0)).as("ggeom"))
    val all = polys.unionByName(continent)
    val expectedSemi = naiveSet(semiAnti(pts, all, "left_semi"))
    val expectedAnti = naiveSet(semiAnti(pts, all, "left_anti"))
    val gotSemi = semiAnti(pts, all, "left_semi")
      .collect().map(_.getLong(0)).toSet
    val gotAnti = semiAnti(pts, all, "left_anti")
      .collect().map(_.getLong(0)).toSet
    assert(gotSemi == expectedSemi)
    assert(gotAnti == expectedAnti)
    // disjoint exact partition of the probe side
    assert((gotSemi & gotAnti).isEmpty && gotSemi.size + gotAnti.size == 400)
  }

  test("WHERE [NOT] EXISTS (st_contains) — the subquery becomes a " +
    "LeftAnti / LeftSemi join before the rule runs; the rule still kills " +
    "the nested loop") {
    val (pts, polys) = fixtures()
    graft.functions.GraftFunctions.registerAll(spark) // SQL-text names
    pts.createOrReplaceTempView("sjr_pts")
    polys.createOrReplaceTempView("sjr_polys")
    for (exists <- Seq("NOT EXISTS", "EXISTS")) {
      val sql = s"""SELECT pid FROM sjr_pts p WHERE $exists
                     (SELECT 1 FROM sjr_polys r
                      WHERE st_contains(r.ggeom, p.pgeom))"""
      val expected = naiveSet(spark.sql(sql))
      val got = spark.sql(sql)
      val p = got.queryExecution.executedPlan.toString
      assertOnlyBoundedNestedLoops(p)
      assert(p.contains("__graft_cell"), s"$exists: rule did not fire:\n$p")
      assert(got.collect().map(_.getLong(0)).toSet == expected, exists)
      assert(expected.nonEmpty, exists)
    }
  }

  // --- one containment plan for the rule and the operators ----------------

  private def withRes[A](res: Int)(body: => A): A = {
    spark.conf.set("spark.graft.spatialjoin.res", res.toString)
    try body finally spark.conf.unset("spark.graft.spatialjoin.res")
  }

  /** [[fixtures]] read back from parquet: over a LocalRelation the
    * optimizer folds projections into literals, so neither the plan's
    * covering calls nor the records read would show. */
  private def parquetFixtures() = {
    val (pts, polys) = fixtures()
    val dir = java.nio.file.Files.createTempDirectory("sjr_pq").toString
    pts.write.parquet(s"$dir/pts")
    polys.write.parquet(s"$dir/polys")
    (spark.read.parquet(s"$dir/pts"), spark.read.parquet(s"$dir/polys"))
  }

  test("pointInPolygon and the rewritten st_contains join return the same " +
    "pairs, and each fine branch evaluates cells_covering once") {
    val (pts, polys) = parquetFixtures()
    val res = 6
    val (rule, rulePlan) = withRes(res) {
      val j = naive(pts, polys)
      (j.collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
        j.queryExecution.optimizedPlan.toString)
    }
    val op = graft.operators.SpatialJoin.pointInPolygon(pts, polys, res,
      pointGeom = "pgeom", polyGeom = "ggeom")
    val opPairs = op.select(col("pid"), col("polyid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(opPairs == rule, "operator and rule disagree")
    assert(rule.nonEmpty, "fixture must produce containment pairs")
    // points and polygons cut from ONE relation share attribute ids
    val mixed = pts.select(col("pid").as("id"), col("pgeom").as("g"))
      .unionByName(polys.select((col("polyid") + 1000).as("id"),
        col("ggeom").as("g")))
    val shared = graft.operators.SpatialJoin.pointInPolygon(
      mixed.filter(col("id") < 1000), mixed.filter(col("id") >= 1000), res,
      pointGeom = "g", polyGeom = "g")
    assert(shared.collect().map(r => (r.getLong(0), r.getLong(2) - 1000))
      .toSet == rule, "one-lineage inputs lose or invent pairs")
    // no polygon overflows here: the operator's eager probe plans the fine
    // branch alone, the rule also plans its (empty) coarse branch, whose
    // oversized filter is the second call
    val opPlan = op.queryExecution.optimizedPlan.toString
    assert(countOf(opPlan, "cells_covering(") == 1,
      s"operator evaluates the covering more than once:\n$opPlan")
    assert(countOf(rulePlan, "cells_covering(") == 2 &&
      countOf(rulePlan, "size(cells_covering(") == 1,
      s"rule evaluates the covering more than once per branch:\n$rulePlan")
    val h3Plan = graft.operators.SpatialJoin.pointInPolygonH3(pts, polys, 3,
      pointGeom = "pgeom", polyGeom = "ggeom").queryExecution.optimizedPlan
      .toString
    assert(countOf(h3Plan, "h3_cells_covering(") == 1,
      s"H3 operator evaluates the covering more than once:\n$h3Plan")
  }

  test("with AQE on, the rule's empty coarse branch is dropped: points are " +
    "read once, polygons twice (fine join and coarse broadcast)") {
    val (pts, polys) = parquetFixtures()
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val (rows, c) = Harness.probe(spark)(naive(pts, polys).collect())
    assert(rows.nonEmpty)
    assert(c.recordsRead == 400L + 2 * 20L,
      s"records read ${c.recordsRead}, want 400 points + 2 x 20 polygons")
  }

  test("symmetric semi (st_intersects, left_semi): value-based membership " +
    "preserves probe multiplicity, no cartesian") {
    GeoSimplify.install(spark)
    val boxesA = (0 until 40).flatMap { i =>
      val rep = 1 + (i % 3) // duplicate probe rows on purpose
      Seq.fill(rep)((i.toLong, -170.0 + (i % 10) * 30.0, -60.0 + (i / 10) * 40.0))
    }.toDF("aid", "x", "y")
      .select(col("aid"), st_make_square(col("x"), col("y"), lit(6.0)).as("ag"))
    val boxesB = (0 until 15).map { k =>
      (k.toLong, -168.0 + (k % 5) * 30.0, -58.0 + (k / 5) * 40.0)
    }.toDF("bid", "x", "y")
      .select(col("bid"), st_make_square(col("x"), col("y"), lit(5.0)).as("bg"))
    def q = boxesA.join(boxesB, st_intersects(col("ag"), col("bg")), "left_semi")
    val expected = {
      try {
        spark.conf.set("spark.graft.spatialjoin.rewrite", "false")
        q.collect().map(_.getLong(0)).toSeq.sorted
      } finally spark.conf.set("spark.graft.spatialjoin.rewrite", "true")
    }
    val got = q
    val p = got.queryExecution.executedPlan.toString
    assertOnlyBoundedNestedLoops(p)
    assert(p.contains("__graft_cell"), s"value-based rewrite did not fire:\n$p")
    // multiplicity: duplicated probe rows survive with their duplicates
    assert(got.collect().map(_.getLong(0)).toSeq.sorted == expected)
    assert(expected.nonEmpty)
    // and the anti complement partitions the multiset exactly
    def qa = boxesA.join(boxesB, st_intersects(col("ag"), col("bg")), "left_anti")
    val expectedAnti = {
      try {
        spark.conf.set("spark.graft.spatialjoin.rewrite", "false")
        qa.collect().map(_.getLong(0)).toSeq.sorted
      } finally spark.conf.set("spark.graft.spatialjoin.rewrite", "true")
    }
    assert(qa.collect().map(_.getLong(0)).toSeq.sorted == expectedAnti)
    assert(expected.size + expectedAnti.size == boxesA.count())
  }

  test("st_within rewrites like the flipped contains — both argument " +
    "orders, inner and anti") {
    val (pts, polys) = fixtures()
    def q = pts.join(polys, st_within(col("pgeom"), col("ggeom")))
      .select(col("pid"), col("polyid"))
    val expected = {
      try {
        spark.conf.set("spark.graft.spatialjoin.rewrite", "false")
        q.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      } finally spark.conf.set("spark.graft.spatialjoin.rewrite", "true")
    }
    val got = q
    val p = got.queryExecution.executedPlan.toString
    assert(p.contains("__graft_cell"), s"st_within not rewritten:\n$p")
    assert(got.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      == expected)
    assert(expected.nonEmpty)
    // anti: points not within any polygon (the curation filter, within-
    // spelled) — probe contained, direct chained path
    def qa = pts.join(polys, st_within(col("pgeom"), col("ggeom")),
      "left_anti")
    val expAnti = naiveSet(qa)
    val gotAnti = qa
    assertOnlyBoundedNestedLoops(
      gotAnti.queryExecution.executedPlan.toString)
    assert(gotAnti.collect().map(_.getLong(0)).toSet == expAnti)
    assert(expAnti.size + expected.map(_._1).size >= 400)
  }

  test("semi/anti joins with an equality conjunct are left alone") {
    val (pts, polys) = fixtures()
    val j = pts.join(polys,
      col("pid") === col("polyid") &&
        st_contains(col("ggeom"), col("pgeom")), "left_semi")
    val p = j.queryExecution.optimizedPlan.toString
    assert(!p.contains("__graft_cell"), s"equi semi join was rewritten:\n$p")
    j.collect() // must stay executable
  }
}
