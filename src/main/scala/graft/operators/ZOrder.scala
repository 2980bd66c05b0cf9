package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Multi-column Z-order (Morton) clustering keys — the Delta/Iceberg
  * `OPTIMIZE ZORDER BY` technique: bit-interleave N bounded integer
  * columns so a range/point predicate on ANY of them touches a contiguous
  * band of the sorted/min-max-indexed layout. The 2-D spatial case is
  * better served by the Hilbert key (O1 — stronger locality); Z-order is
  * the N-column generalization whose key is PURE bit arithmetic: it
  * compiles to a codegen'd shift/mask chain (no custom expression) and
  * replays exactly in ANSI SQL.
  *
  * Scale shape: key computation is map-only; clustering is one range
  * exchange (the `writeClustered` pattern) paid at ingest and amortized
  * over every later pruned scan.
  */
object ZOrder {

  /** Interleave `cols` (each a NON-NEGATIVE integer < 2^bits — normalize
    * upstream with rank/bucket/mod) into one long: bit `b` of column `c`
    * lands at position `b * n + c`. Requires `n * bits <= 62`. */
  def zorderEncode(cols: Seq[Column], bits: Int): Column = {
    val n = cols.length
    require(n >= 1, "zorderEncode needs at least one column")
    require(bits >= 1 && n * bits <= 62,
      s"n*bits must be in [1, 62]: $n columns x $bits bits")
    val terms = for { b <- 0 until bits; c <- 0 until n } yield
      shiftleft(shiftright(cols(c).cast("long"), b).bitwiseAND(lit(1L)),
        b * n + c)
    terms.reduce(_.bitwiseOR(_))
  }

  /** The matching ANSI replay of [[zorderEncode]] over SQL expressions —
    * kept adjacent so the two stay in lockstep. */
  def zorderSql(exprs: Seq[String], bits: Int): String = {
    val n = exprs.length
    val terms = for { b <- 0 until bits; c <- 0 until n } yield
      s"((((${exprs(c)}) >> $b) & 1) << ${b * n + c})"
    terms.mkString("(", " + ", ")")
  }
}
