package graft.text

/** Aho-Corasick multi-pattern matcher (Aho & Corasick, CACM 1975) — the
  * scale answer to term-blocklist filtering. A crawl-cleaning pass checks
  * every document against thousands of banned terms; an alternation regex
  * is built per-row-per-pattern work (and catastrophic at 10k patterns),
  * while the AC automaton matches ALL patterns in one O(text) scan.
  *
  * The automaton is built once on the driver and rides to executors
  * inside the serialized expression ([[graft.functions.AcContains]], the
  * [[BpeModel]] broadcast-model pattern). Matching is case-sensitive on
  * exact byte-char sequences; normalize upstream (lowercase,
  * `unicode_normalize`) for case-folded semantics — the same contract
  * grep/fgrep give.
  *
  * Goto/fail/output construction is the textbook BFS; transitions are
  * per-node hash maps (pattern alphabets are tiny relative to Char), and
  * the output set per node stores pattern INDEXES so callers get which
  * patterns hit, not just a boolean. */
final class AhoCorasick(val patterns: Array[String]) extends Serializable {
  require(patterns.nonEmpty, "need at least one pattern")
  require(patterns.forall(_.nonEmpty), "patterns must be non-empty")

  // built eagerly so construction cost is paid once on the driver;
  // @transient-free — the maps serialize with the expression (tens of
  // bytes per node; a 10k-term blocklist is ~100k nodes, single-digit MB)
  private val gotoMap = scala.collection.mutable.ArrayBuffer(
    new java.util.HashMap[java.lang.Character, java.lang.Integer]())
  private val fail = scala.collection.mutable.ArrayBuffer(0)
  private val out = scala.collection.mutable.ArrayBuffer(
    scala.collection.mutable.ArrayBuffer.empty[Int])

  locally {
    // phase 1: trie
    patterns.zipWithIndex.foreach { case (p, pi) =>
      var node = 0
      p.foreach { ch =>
        var next = gotoMap(node).get(Char.box(ch))
        if (next == null) {
          gotoMap += new java.util.HashMap[java.lang.Character, java.lang.Integer]()
          fail += 0
          out += scala.collection.mutable.ArrayBuffer.empty[Int]
          val id = gotoMap.length - 1
          gotoMap(node).put(Char.box(ch), Int.box(id))
          next = Int.box(id)
        }
        node = next.intValue
      }
      out(node) += pi
    }
    // phase 2: failure links by BFS
    val queue = new java.util.ArrayDeque[Int]()
    gotoMap(0).forEach { (_, v) => fail(v.intValue) = 0; queue.add(v.intValue) }
    while (!queue.isEmpty) {
      val r = queue.poll()
      gotoMap(r).forEach { (ch, vB) =>
        val v = vB.intValue
        queue.add(v)
        var f = fail(r)
        while (f != 0 && gotoMap(f).get(ch) == null) f = fail(f)
        val fNext = gotoMap(f).get(ch)
        fail(v) = if (fNext != null && fNext.intValue != v) fNext.intValue else 0
        out(v) ++= out(fail(v))
      }
    }
  }

  private def step(node: Int, ch: Char): Int = {
    val key = Char.box(ch)
    var n = node
    while (n != 0 && gotoMap(n).get(key) == null) n = fail(n)
    val nxt = gotoMap(n).get(key)
    if (nxt == null) 0 else nxt.intValue
  }

  /** Distinct indexes of patterns occurring in `text`, ascending. */
  def findAll(text: String): Array[Int] = {
    if (text == null) return Array.empty
    val hits = scala.collection.mutable.SortedSet.empty[Int]
    var node = 0
    var i = 0
    while (i < text.length) {
      node = step(node, text.charAt(i))
      out(node).foreach(hits += _)
      i += 1
    }
    hits.toArray
  }

  /** True iff any pattern occurs in `text` — early exit on first hit. */
  def containsAny(text: String): Boolean = {
    if (text == null) return false
    var node = 0
    var i = 0
    while (i < text.length) {
      node = step(node, text.charAt(i))
      if (out(node).nonEmpty) return true
      i += 1
    }
    false
  }
}
