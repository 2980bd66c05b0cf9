package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Expectations

/** Data-quality expectations: null-safe row checks, exact uniqueness
  * violation counts, the null-key guard, empty-table behavior, and the
  * one-pass plan contract (no joins, one aggregate over one scan). */
class ExpectationsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def df = Seq(
    (1L, Some(10L), "a"),
    (2L, Some(-5L), "b"),
    (3L, None, "a"),       // null v: violates v_positive (null-safe)
    (4L, Some(40L), "zz"), // violates name_short? no — checks below
    (4L, Some(40L), "a")   // duplicate id
  ).toDF("id", "v", "name")

  test("row checks are null-safe; uniqueness counts extra rows") {
    val out = Expectations.check(df,
      rowChecks = Seq(
        "v_positive" -> "v > 0",
        "name_in_domain" -> "name IN ('a','b')"),
      uniqueKeys = Seq("unique_id" -> Seq("id")))
      .orderBy("check").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3)))
    assert(out.toSeq == Seq(
      ("name_in_domain", 1L, 5L, false), // "zz"
      ("unique_id", 1L, 5L, false),      // one extra row for id=4
      ("v_positive", 2L, 5L, false)))    // -5 and the NULL
  }

  test("passing checks pass; composite uniqueness keys") {
    val out = Expectations.check(df,
      rowChecks = Seq("id_positive" -> "id > 0"),
      uniqueKeys = Seq("unique_id_name" -> Seq("id", "name")))
      .orderBy("check").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(3)))
    assert(out.toSeq == Seq(
      ("id_positive", 0L, true),
      ("unique_id_name", 0L, true))) // (4,zz) and (4,a) differ
  }

  test("null key columns fail loudly instead of shrinking the count") {
    val bad = Seq((Some(1L), "a"), (None, "b")).toDF("k", "name")
    val e = intercept[IllegalArgumentException] {
      Expectations.check(bad, Nil, Seq("unique_k" -> Seq("k")))
    }
    assert(e.getMessage.contains("null in key"))
  }

  test("empty table: zero violations, every check passes") {
    val out = Expectations.check(df.limit(0),
      rowChecks = Seq("v_positive" -> "v > 0"),
      uniqueKeys = Seq("unique_id" -> Seq("id")))
      .orderBy("check").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3)))
    assert(out.toSeq == Seq(("unique_id", 0L, 0L, true),
      ("v_positive", 0L, 0L, true)))
  }

  test("duplicate or empty check specs are rejected") {
    intercept[IllegalArgumentException] {
      Expectations.check(df, Seq("x" -> "id > 0", "x" -> "v > 0"))
    }
    intercept[IllegalArgumentException] {
      Expectations.check(df, Nil, Nil)
    }
    intercept[IllegalArgumentException] {
      Expectations.check(df, Nil, Seq("u" -> Nil))
    }
    intercept[IllegalArgumentException] {
      Expectations.check(df, Nil, Seq("u" -> Seq("missing_col")))
    }
  }

  test("referential: null FKs pass, duplicate dim keys are fine, orphans count") {
    val facts = Seq((1L, Some(10L)), (2L, Some(20L)), (3L, None),
      (4L, Some(99L))).toDF("id", "fk")
    val dim = Seq(10L, 10L, 20L).toDF("k") // dup key must not double-count
    val out = Expectations.referential(facts, "fk", dim, "k").collect().head
    assert(out.getString(0) == "ref_fk_in_k")
    assert(out.getLong(1) == 1L, s"only the 99 orphan violates: $out")
    assert(out.getLong(2) == 4L && !out.getBoolean(3))
    val clean = Expectations.referential(
      facts.filter($"id" =!= 4L), "fk", dim, "k", name = "clean")
    val c = clean.collect().head
    assert(c.getString(0) == "clean" && c.getLong(1) == 0L && c.getBoolean(3))
  }

  test("referential: the anti-join broadcasts a small dimension") {
    val facts = Seq((1L, 10L)).toDF("id", "fk")
    val dim = Seq(10L).toDF("k")
    // same plan shape the operator builds
    val plan = facts.select($"fk").filter($"fk".isNotNull)
      .join(dim.select($"k".as("fk")), Seq("fk"), "left_anti")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast anti:\n$plan")
  }

  test("one pass: adding checks adds expressions, not jobs") {
    def jobsFor(body: => Unit): Int = Harness.probe(spark)(body)._2.jobs
    val one = jobsFor {
      Expectations.check(df, Seq("a" -> "id > 0"))
    }
    val many = jobsFor {
      // six checks of both families — same number of passes as one check
      Expectations.check(df,
        rowChecks = Seq("a" -> "id > 0", "b" -> "v > 0",
          "c" -> "name IS NOT NULL", "d" -> "length(name) <= 2"),
        uniqueKeys = Seq("u1" -> Seq("id"), "u2" -> Seq("id", "name")))
    }
    assert(one >= 1 && many <= one + 1,
      s"job count grew with checks: $one -> $many")
  }
}
