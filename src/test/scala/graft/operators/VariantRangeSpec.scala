package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** [[RowGroupScan.variantInRange]] — the exact case-variant membership
  * test behind case-mapped predicate routing — cross-checked against a
  * brute-force enumeration of the variant set. */
class VariantRangeSpec extends AnyFunSuite {

  private def variants(x: String): Seq[String] =
    x.foldLeft(Seq("")) { (acc, ch) =>
      val forms = Seq(Character.toUpperCase(ch),
        Character.toLowerCase(ch)).distinct
      acc.flatMap(p => forms.map(p + _))
    }

  private def utf8Leq(a: String, b: String): Boolean = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length <= y.length
  }

  private def brute(x: String, lo: String, hi: String): Boolean =
    variants(x).exists(v => utf8Leq(lo, v) && utf8Leq(v, hi))

  test("hand cases: single-case clusters prune, straddlers keep") {
    // all-upper group bounds vs a lowercase target: 'BUILDING' is a
    // variant of 'building' and sits inside [AUTOMOBILE, MACHINERY]
    assert(RowGroupScan.variantInRange("building",
      "AUTOMOBILE", "MACHINERY"))
    // no variant of 'building' (all start with B or b) fits
    // [FURNITURE, MACHINERY]: 'B…' < FURNITURE, 'b…' > MACHINERY
    assert(!RowGroupScan.variantInRange("building",
      "FURNITURE", "MACHINERY"))
    // constant group equal to a variant
    assert(RowGroupScan.variantInRange("building",
      "BUILDING", "BUILDING"))
    assert(!RowGroupScan.variantInRange("building",
      "BUILDINGS", "BUILDINGZ")) // longer strings, no 8-char variant
    // prefix-ordering edges: lo equals a variant's prefix
    assert(RowGroupScan.variantInRange("ab", "A", "zz"))
    assert(!RowGroupScan.variantInRange("ab", "ABX", "ABZ"))
    // empty target matches only the empty string
    assert(RowGroupScan.variantInRange("", "", "x"))
    assert(!RowGroupScan.variantInRange("", "a", "x"))
    // non-letters are fixed points
    assert(RowGroupScan.variantInRange("3-low", "3-LOW", "3-LOW"))
    assert(!RowGroupScan.variantInRange("3-low", "4-", "5-"))
  }

  test("exhaustive cross-check against brute-force variant enumeration") {
    val rnd = new scala.util.Random(42)
    val alphabet = "aB0~é"
    def randStr(maxLen: Int): String =
      Seq.fill(rnd.nextInt(maxLen + 1))(
        alphabet(rnd.nextInt(alphabet.length))).mkString
    var checked = 0
    (1 to 4000).foreach { _ =>
      // targets stay ASCII (the caller's guard); bounds may be any mix
      val x = randStr(4).filter(_.toInt < 128)
      val a = randStr(5); val b = randStr(5)
      val (lo, hi) = if (utf8Leq(a, b)) (a, b) else (b, a)
      assert(RowGroupScan.variantInRange(x, lo, hi) == brute(x, lo, hi),
        s"x='$x' lo='$lo' hi='$hi'")
      checked += 1
    }
    assert(checked == 4000)
  }

  test("non-ASCII characters whose case mapping is ASCII are variants: " +
    "upper('ı') = 'I', upper('ß') = 'SS', lower('K') = 'k', ligatures") {
    // every spelling of x whose Spark upper or lower case equals x's
    def spellings(x: String): Seq[String] =
      if (x.isEmpty) Seq("")
      else {
        val one = variants(x.take(1)).flatMap(c =>
          spellings(x.drop(1)).map(c + _))
        val runs = Seq("\u00df", "\u0131", "\u017f", "\u212a", "\ufb00",
          "\ufb01", "\ufb02", "\ufb03", "\ufb04", "\ufb05", "\ufb06")
          .filter { c =>
            val f = c.toUpperCase(java.util.Locale.ROOT)
              .toLowerCase(java.util.Locale.ROOT)
            x.toLowerCase(java.util.Locale.ROOT).startsWith(f)
          }.flatMap { c =>
            val f = c.toUpperCase(java.util.Locale.ROOT)
            spellings(x.drop(f.length)).map(c + _)
          }
        one ++ runs
      }
    assert(RowGroupScan.variantInRange("I", "\u0131", "\u0131"))
    assert(RowGroupScan.variantInRange("SS", "\u00df", "\u00df"))
    assert(RowGroupScan.variantInRange("k", "\u212a", "\u212a"))
    assert(RowGroupScan.variantInRange("OFFICE", "O\ufb03CE", "O\ufb03CE"))
    assert(!RowGroupScan.variantInRange("E", "\u00e9", "\u00e9"))
    // a prefix may end inside a ligature's spelling
    assert(RowGroupScan.variantInRange("F", "\ufb01x", "\ufb01x",
      prefix = true))
    assert(!RowGroupScan.variantInRange("F", "\ufb01x", "\ufb01x"))
    val rnd = new scala.util.Random(7)
    val alphabet = "iSfktA\u0131\u00df\u017f\u212a\ufb01\ufb03\u00e9"
    def randStr(maxLen: Int): String =
      Seq.fill(rnd.nextInt(maxLen + 1))(
        alphabet(rnd.nextInt(alphabet.length))).mkString
    (1 to 3000).foreach { _ =>
      val x = randStr(4).filter(_.toInt < 128)
      val a = randStr(4); val b = randStr(4)
      val (lo, hi) = if (utf8Leq(a, b)) (a, b) else (b, a)
      assert(RowGroupScan.variantInRange(x, lo, hi) ==
        spellings(x).exists(v => utf8Leq(lo, v) && utf8Leq(v, hi)),
        s"x='$x' lo='$lo' hi='$hi'")
    }
  }
}
