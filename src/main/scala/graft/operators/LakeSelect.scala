package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ByteType, DataType, DateType,
  IntegerType, LongType, ShortType, StringType, StructType}

/** Declarative index-accelerated lake reads: give [[readWhere]] a table
  * and a SQL predicate, and it picks the best pruning path the log's
  * indexes support — the user never chooses an index by hand (the
  * reference's stance: every read is a declarative SQL statement; the
  * engine owns the physical plan).
  *
  * Strategy order, most selective first:
  *  1. equality/IN on the bloom-indexed column → [[TableLog.
  *     readPointLookup]] (bloom prunes FILES, row-group stats prune
  *     inside the kept ones) — and every OTHER prunable conjunct rides
  *     into the same scan, so a bloom fetch with a range rider prunes on
  *     both. The bloom route is TYPE-GUARDED: integral probes demand an
  *     integral column, string probes a string column — a double column
  *     hashed as "4.0" must never be probed with "4" (Spark's implicit
  *     cast would match rows the bloom pruned away); mistyped conjuncts
  *     fall through to the conservative row-group route instead.
  *  2. any other prunable conjunct(s) → [[TableLog.
  *     readRowGroupPrunedMulti]] over the row-group zone stats: every
  *     constraint's keep set intersects and the scan runs once — the
  *     z-order payoff (a 2-column clustered table prunes on both
  *     predicate columns). Open bounds stay open (a one-sided range
  *     prunes on its one side). The strategy label names the shape of
  *     a single constraint, or `rowgroup_multi` for two or more;
  *  3. nothing prunable → a full snapshot scan.
  *
  * Prunable conjunct shapes: top-level ANDs of `col = lit`,
  * `col IN (lits…)`, `col <cmp> lit` (either operand order; integral,
  * string, DATE, or TIMESTAMP[_NTZ] literals — date bounds fold as
  * epoch days, timestamp bounds as micros against the index's
  * micros-normalized stats, kind-guarded so TZ and NTZ never cross),
  * `col != lit` / `col NOT IN (…)` (constant excluded groups disprove
  * — the clustered low-cardinality shape), single-column
  * OR-of-equalities ("k = 5 OR k = 9"), BETWEEN, the PREFIX family —
  * `col LIKE 'p%'` (default escape only), `startswith(col, 'p')`,
  * `substr/substring(col, 1, n) = 'p'` — and the DATETIME family:
  * `to_date(col) = d`, `year(col) <cmp> y`, `year(col) BETWEEN/IN`,
  * `trunc(col, unit) = d`, `date_trunc(unit, col) = ts`, each an exact
  * half-open window over DATE or (through the session zone) TIMESTAMP
  * columns. Everything else — OR across columns with an inexpressible
  * branch, casts, arithmetic, floating-point literals — is simply not
  * prunable and rides along. The FULL predicate is always re-applied
  * on top of the pruned frame, so an unprunable (or mis-typed)
  * conjunct can never change results, only pruning power: the
  * conservative-keep contract every skipping path in this engine
  * follows. Under the row-group keep set, surviving groups also skip
  * PAGES via the parquet ColumnIndex: constraints on integral and
  * string columns, and null checks, are pushed to Spark's parquet
  * reader as `sources.Filter`s.
  *
  * [[countWhere]] is the aggregate twin: COUNT answered from footer
  * metadata wherever the index PROVES a whole row group in or out, with
  * only the straddling groups scanned — the most common lake query
  * without touching a data page when the predicate aligns with the
  * clustering.
  *
  * Scale shape: everything here is driver-side predicate analysis over
  * O(conjuncts); the heavy lifting stays in the underlying pruned reads
  * (sidecar-served distributed indexes, selective row-group scans).
  */
object LakeSelect {

  /** What a [[readWhere]] actually did — for plan assertions and ops
    * introspection. `strategy` ∈ point_lookup | rowgroup_multi |
    * rowgroup_in | rowgroup_range | rowgroup_null | rowgroup_ne |
    * rowgroup_or | rowgroup_case | rowgroup_trim | full_scan. */
  final case class Stats(strategy: String, column: Option[String],
      rgOpened: Long, rgTotal: Long, filesOpened: Int, filesTotal: Int)

  /** What a [[countWhere]] did: `metaRows` answered from footer stats
    * alone, `scannedRgs` row groups actually read (straddlers),
    * `exact` whether the predicate was fully index-expressible (when
    * false, every non-disproven group scans — still correct). */
  final case class CountStats(metaRows: Long, scannedRgs: Long,
      rgTotal: Long, filesTotal: Int, exact: Boolean)

  private[operators] sealed trait Constraint
  private[operators] final case class EqIn(values: Seq[Any])
    extends Constraint
  private[operators] final case class Range(lo: Option[Any],
      hi: Option[Any], hiExcl: Boolean = false) extends Constraint
  private[operators] final case class NullC(isNull: Boolean)
    extends Constraint
  /** `col != v` / `col NOT IN (…)` — excluded values. */
  private[operators] final case class NeC(values: Seq[Any])
    extends Constraint
  /** A TIMESTAMP[_NTZ] literal in micros — kept tagged so the lowering
    * can demand a matching timestamp COLUMN (micros zone stats) and
    * never cross the TZ/NTZ boundary. */
  private[operators] final case class TsLit(micros: Long, ntz: Boolean)
  /** A DECIMAL literal kept exact — the lowering dispatches by the
    * COLUMN's type: toDouble against an FP column (the same promotion
    * Spark's comparison applies), exact unscaled-integer bounds
    * against a DECIMAL column of foldable precision, unprunable
    * elsewhere. */
  private[operators] final case class DecLit(
      dec: org.apache.spark.sql.types.Decimal)
  private[operators] final case class OrC(
      branches: Seq[(String, Constraint)]) extends Constraint
  /** `upper(col) = 'X'` / `lower(col) IN (…)` — and, with `prefix`,
    * the case-insensitive prefix family (`col ILIKE 'p%'`,
    * `lower(col) LIKE 'p%'`, `startswith(lower(col), 'p')`): ASCII
    * case-folded targets, matched by the exact variant-in-range test. */
  private[operators] final case class CaseEq(values: Seq[String],
      toUpper: Boolean, prefix: Boolean = false) extends Constraint
  /** `trim(col) = 'x'` / `ltrim`/`rtrim` `... IN (…)` (default
    * one-arg forms, SPACE-only trimming): targets matched by the
    * exact padded-variant-in-range test. `mode` ∈ 'b' | 'l' | 'r'. */
  private[operators] final case class TrimEq(values: Seq[String],
      mode: Char) extends Constraint

  /** Read `dir` filtered by `predicate` (any Spark SQL boolean
    * expression over the table's columns), routed through the most
    * selective index available. Returns the FILTERED frame plus the
    * pruning stats. */
  def readWhere(spark: SparkSession, dir: String, predicate: String,
      version: Int = -1, columns: Seq[String] = Nil)
      : (DataFrame, Stats) = {
    import org.apache.spark.sql.functions.{col, expr}
    val (constraints, _) = analyzeFull(spark, predicate)
    val snap = TableLog.snapshot(dir, version)
    lazy val schema = tableSchemaOf(spark, dir, snap)
    val bloomed = snap.bloomCol
    // projection pushdown: the SCAN must still carry every column the
    // predicate references (the exact filter re-applies on top), so
    // widen the pushed set by the predicate's attributes and trim back
    // to the caller's columns at the end
    val predCols = referencedColumns(spark, predicate)
    val scanCols =
      if (columns.isEmpty) Nil
      else (columns ++ predCols.filterNot(columns.contains)).toList

    def isStringVals(vs: Seq[Any]) = vs.forall(_.isInstanceOf[String])
    def isLongVals(vs: Seq[Any]) = vs.forall(_.isInstanceOf[Long])
    // the bloom build hashes Spark's cast-to-string of the COLUMN; a
    // probe may only use it when its `toString` provably equals that
    // cast — integral probes on integral columns, string probes on
    // string columns. Anything else (double column probed with "4",
    // string column "05" probed with "5") could prune files that match
    // under Spark's implicit-cast equality.
    def bloomSafe(c: String, vs: Seq[Any]): Boolean =
      schema.get(c).exists {
        case ByteType | ShortType | IntegerType | LongType =>
          isLongVals(vs)
        case StringType => isStringVals(vs)
        case _ => false
      }

    // candidate = (column, constraint) in priority order; contradictory
    // equalities intersect to an EMPTY probe set — not a usable index
    // probe, and the re-applied predicate makes the result empty anyway
    val eqCols = constraints.collect {
      case (c, e: EqIn) if e.values.nonEmpty => (c, e)
    }
    val bloomEq = eqCols.find { case (c, e) =>
      bloomed.contains(c) && bloomSafe(c, e.values)
    }

    // every prunable conjunct as a row-group constraint — when two or
    // more columns prune, their keep sets INTERSECT and the scan runs
    // once (the z-order payoff: a 2-column clustered table prunes on
    // both predicate columns)
    val (rgConstraints, _) = toRgConstraints(constraints, schema,
      java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone))
    // a conjunct on the partition column drops whole FILES before any
    // index math (zero index rows consulted for eliminated files)
    val partKeep = partitionKeep(snap, constraints, schema)

    val (df0, stats) =
      if (bloomEq.isDefined) {
        val (c, e) = bloomEq.get
        // every other prunable conjunct rides into the bloom-kept scan
        val extra = rgConstraints.filter(_.column != c)
        val (df, rgo, rgt, fo, ft) =
          TableLog.readPointLookup(spark, dir, c, e.values, version,
            scanCols, extra, partKeep)
        (df, Stats("point_lookup", Some(c), rgo, rgt, fo, ft))
      } else if (rgConstraints.nonEmpty) {
        val (df, rgo, rgt, fo, ft) = TableLog.readRowGroupPrunedMulti(
          spark, dir, rgConstraints, version, scanCols, partKeep)
        (df, Stats(strategyOf(rgConstraints),
          Some(rgConstraints.map(_.column).distinct.mkString(",")),
          rgo, rgt, fo, ft))
      } else {
        val df = TableLog.read(spark, dir, version)
        (df, Stats("full_scan", None, 0L, 0L,
          snap.files.size, snap.files.size))
      }
    val filtered = df0.where(expr(predicate))
    (if (columns.isEmpty) filtered
     else filtered.select(columns.map(col): _*), stats)
  }

  /** The [[Stats.strategy]] label of a row-group read: `rowgroup_multi`
    * for two or more constraints, else named after the one constraint's
    * shape. */
  private def strategyOf(cs: Seq[TableLog.RgConstraint]): String =
    if (cs.size >= 2) "rowgroup_multi"
    else cs.head match {
      case TableLog.AtScale(in, _) => strategyOf(Seq(in))
      case _: TableLog.NumIn | _: TableLog.StrIn | _: TableLog.DblIn =>
        "rowgroup_in"
      case _: TableLog.CaseIn => "rowgroup_case"
      case _: TableLog.TrimIn => "rowgroup_trim"
      case _: TableLog.NullCheck => "rowgroup_null"
      case _: TableLog.NumNotIn | _: TableLog.StrNotIn => "rowgroup_ne"
      case _: TableLog.RgOr => "rowgroup_or"
      case _ => "rowgroup_range"
    }

  /** COUNT(*) with the predicate answered from footer METADATA wherever
    * the index proves a row group fully in (exact constraints, zero
    * nulls, un-truncatable stats) or fully out; only straddling groups
    * scan, selectively, predicate columns only. An EMPTY predicate is a
    * pure metadata count — footer row counts minus deletion-vector
    * cardinalities, zero data pages even on a DV-carrying table. */
  def countWhere(spark: SparkSession, dir: String, predicate: String = "",
      version: Int = -1): (Long, CountStats) = {
    if (predicate == null || predicate.trim.isEmpty) {
      val (n, meta, scanned, total, files) =
        TableLog.countPruned(spark, dir, Nil, exact = true, None, version)
      return (n, CountStats(meta, scanned, total, files, exact = true))
    }
    val (constraints, exactConjuncts) = analyzeFull(spark, predicate)
    val snap = TableLog.snapshot(dir, version)
    lazy val schema = tableSchemaOf(spark, dir, snap)
    val (rgConstraints, lossless) = toRgConstraints(constraints, schema,
      java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone))
    val exact = exactConjuncts && lossless
    val (n, meta, scanned, total, files) = TableLog.countPruned(spark,
      dir, rgConstraints, exact, Some(predicate), version,
      partitionKeep(snap, constraints, schema))
    (n, CountStats(meta, scanned, total, files, exact))
  }

  /** PARTITION pruning composed into the declarative reads: when the
    * table was written by `appendPartitioned` (the log carries the
    * partition COLUMN and per-file tag VALUES), a conjunct on that
    * column drops whole files from the snapshot BEFORE any index math —
    * zero index rows consulted, zero footers opened for eliminated
    * files. Type-guarded like the bloom route: a tag only disproves a
    * constraint whose literal space provably matches the column's type
    * (integral tags parse to Long, DATE tags to LocalDate, strings
    * compare raw in UTF-8 order); anything else keeps the file.
    * Untagged files (plain appends into a partitioned table) always
    * keep. Returns None when nothing can be eliminated — callers skip
    * the subset path entirely. */
  private[operators] def partitionKeep(snap: TableLog.Snapshot,
      constraints: Seq[(String, Constraint)],
      schema: => Map[String, DataType]): Option[Seq[String]] = {
    val pc = snap.partCol.getOrElse(return None)
    if (snap.parts.isEmpty) return None
    val relevant = constraints.filter {
      case (c, _: EqIn | _: Range | _: NullC | _: NeC | _: CaseEq |
          _: TrimEq) => c == pc
      case (_, OrC(bs)) => bs.forall(_._1 == pc)
      case _ => false
    }
    if (relevant.isEmpty) return None
    // the tag in the COLUMN's value space (None = unparseable → keep)
    val typedTag: String => Option[Any] = schema.get(pc) match {
      case Some(ByteType | ShortType | IntegerType | LongType) =>
        t => t.toLongOption
      case Some(DateType) =>
        t => scala.util.Try(java.time.LocalDate.parse(t)).toOption
      case Some(StringType) => t => Some(t)
      case _ => _ => None
    }
    def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
      case (x: Long, y: Long) => Some(java.lang.Long.compare(x, y))
      case (x: String, y: String) => Some(utf8Compare(x, y))
      case (x: java.time.LocalDate, y: java.time.LocalDate) =>
        Some(x.compareTo(y))
      case _ => None
    }
    // TRUE iff no row tagged `t` can satisfy the constraint
    def disproves(con: Constraint, t: Any): Boolean = con match {
      case EqIn(vs) =>
        vs.forall(v => cmp(v, t).exists(_ != 0)) // Nil = provably false
      case Range(lo, hi, hiExcl) =>
        lo.exists(l => cmp(t, l).exists(_ < 0)) ||
          hi.exists(h => cmp(t, h).exists(c =>
            if (hiExcl) c >= 0 else c > 0))
      case NullC(isNull) => isNull // tag values are non-null by contract
      case NeC(vs) => // every row carries the tag value exactly
        vs.exists(v => cmp(v, t).exists(_ == 0))
      case CaseEq(vs, up, pfx) => t match {
        // the tag IS the value, so the fold evaluates exactly —
        // restricted to pure-ASCII tags where Java and Spark case
        // mapping provably agree (anything wider keeps)
        case ts: String if ts.forall(_.toInt < 128) =>
          val f = if (up) ts.toUpperCase(java.util.Locale.ROOT)
                  else ts.toLowerCase(java.util.Locale.ROOT)
          if (pfx) !vs.exists(f.startsWith) else !vs.contains(f)
        case _ => false
      }
      case TrimEq(vs, mode) => t match {
        // SPACE-only strip of the exact tag value
        case ts: String =>
          var a = 0; var b = ts.length
          if (mode != 'r') while (a < b && ts.charAt(a) == ' ') a += 1
          if (mode != 'l') while (b > a && ts.charAt(b - 1) == ' ') b -= 1
          !vs.contains(ts.substring(a, b))
        case _ => false
      }
      case OrC(bs) => bs.forall { case (c, b) =>
        c == pc && disproves(b, t) }
    }
    val kept = snap.files.filter { f =>
      snap.parts.get(f) match {
        case None => true // untagged: may hold any partition
        case Some(tag) => typedTag(tag) match {
          case None => true
          case Some(t) => !relevant.exists(r => disproves(r._2, t))
        }
      }
    }
    if (kept.size == snap.files.size) None else Some(kept)
  }

  /** The table's top-level column types, from ONE footer (the newest
    * file — the widest schema under add-column evolution). Used only to
    * GUARD routing (bloom type safety, date-constraint eligibility);
    * a column missing here just loses its index candidacy. Memoized per
    * (dir, version) — a committed snapshot's files are immutable — and
    * resolved LAZILY by the callers, so predicates that need no guard
    * (the common long/string, bloom-less case) never pay the footer. */
  private def tableSchemaOf(spark: SparkSession, dir: String,
      snap: TableLog.Snapshot): Map[String, DataType] =
    TableLog.newestFileSchema(spark, dir, snap)
      .map(fd => fd.name -> fd.dataType).toMap

  /** Lower (column, Constraint) pairs onto the physical index constraint
    * types, schema-aware: LocalDate values (from `to_date` rewrites)
    * become epoch-day numerics ONLY on a DateType column (where parquet
    * stats ARE epoch days); anything unconvertible drops. Returns the
    * constraints plus whether the lowering was LOSSLESS (false = a
    * conjunct was dropped, so a metadata count may not trust
    * full-containment proofs). */
  private[operators] def toRgConstraints(
      constraints: Seq[(String, Constraint)],
      schema: => Map[String, DataType],
      zone: => java.time.ZoneId = java.time.ZoneOffset.UTC)
      : (Seq[TableLog.RgConstraint], Boolean) = {
    var lossless = true
    // by-name + lazy: only date-space constraints need the schema guard,
    // so the common long/string predicate never reads a footer
    lazy val s = schema
    def isDateCol(c: String): Boolean = s.get(c).contains(DateType)
    def isFpCol(c: String): Boolean = s.get(c).exists(t =>
      t == org.apache.spark.sql.types.FloatType ||
        t == org.apache.spark.sql.types.DoubleType)
    // a DECIMAL column whose parquet stats fold as unscaled ints
    // (precision <= 18: INT32/INT64 physical; wider is binary)
    def decScale(c: String): Option[Int] = s.get(c) match {
      case Some(t: org.apache.spark.sql.types.DecimalType)
          if t.precision <= 18 => Some(t.scale)
      case _ => None
    }
    // DecLit -> normalized double (a decimal is never NaN), the same
    // toDouble Spark's double-vs-decimal promotion applies
    def fpD(v: Any): Double = {
      val d = v.asInstanceOf[DecLit].dec.toDouble
      if (d == 0.0) 0.0 else d
    }
    // DecLit at the COLUMN's scale: None when equality cannot be
    // represented (provably false) or the unscaled value overflows
    def unscaledExact(v: Any, sc: Int): Option[Long] =
      try {
        Some(v.asInstanceOf[DecLit].dec.toJavaBigDecimal
          .setScale(sc).unscaledValue.longValueExact)
      } catch { case _: ArithmeticException => None }
    def unscaledDir(v: Any, sc: Int,
        mode: java.math.RoundingMode): (Long, Boolean) = {
      val bd = v.asInstanceOf[DecLit].dec.toJavaBigDecimal
      val r = bd.setScale(sc, mode)
      (r.unscaledValue.longValueExact,
        r.compareTo(bd) == 0) // exact <=> no rounding happened
    }
    def tsKind(c: String): Option[Boolean] = s.get(c) match {
      case Some(org.apache.spark.sql.types.TimestampType) => Some(false)
      case Some(org.apache.spark.sql.types.TimestampNTZType) => Some(true)
      case _ => None
    }
    def isTsVals(vs: Seq[Any], c: String): Boolean =
      vs.nonEmpty && vs.forall(_.isInstanceOf[TsLit]) &&
        tsKind(c).exists(k => vs.forall(_.asInstanceOf[TsLit].ntz == k))
    def micros(v: Any): Long = v.asInstanceOf[TsLit].micros
    // a calendar day's start instant in MICROS, in the space the
    // timestamp COLUMN compares in (session zone for TIMESTAMP,
    // zone-free for TIMESTAMP_NTZ) — local-date extraction is monotonic
    // over instants, so [start(d), start(d+1)) captures the day exactly
    def dayStartUs(d: java.time.LocalDate, ntz: Boolean): Long =
      if (ntz) d.atStartOfDay.toEpochSecond(java.time.ZoneOffset.UTC) *
        1000000L
      else d.atStartOfDay(zone).toInstant.getEpochSecond * 1000000L
    def day(v: Any): Long =
      v.asInstanceOf[java.time.LocalDate].toEpochDay
    def lower(p: (String, Constraint)): Option[TableLog.RgConstraint] =
      p match {
        case (c, e: EqIn) if e.values.nonEmpty &&
            e.values.forall(_.isInstanceOf[Long]) =>
          Some(TableLog.NumIn(c, e.values.map(_.asInstanceOf[Long])))
        case (c, e: EqIn) if e.values.nonEmpty &&
            e.values.forall(_.isInstanceOf[String]) =>
          Some(TableLog.StrIn(c, e.values.map(_.asInstanceOf[String])))
        case (c, e: EqIn) if isTsVals(e.values, c) =>
          Some(TableLog.NumIn(c, e.values.map(micros)))
        case (c, e: EqIn) if e.values.nonEmpty &&
            e.values.forall(_.isInstanceOf[DecLit]) =>
          lossless = false
          if (isFpCol(c)) Some(TableLog.DblIn(c, e.values.map(fpD)))
          else decScale(c) match {
            case Some(sc) =>
              try {
                // values the column's scale cannot represent are
                // provably false and drop from the probe set (an
                // empty set rejects every stats-bearing group)
                Some(TableLog.AtScale(TableLog.NumIn(c,
                  e.values.flatMap(unscaledExact(_, sc))), sc))
              } catch { case _: ArithmeticException => None }
            case None => None
          }
        case (c, e: EqIn) if e.values.nonEmpty &&
            e.values.forall(_.isInstanceOf[Double]) =>
          // FP probes only against an FP column (a decimal literal on
          // an integral or decimal column compares in a different
          // space); always lossy — FP stats never prove containment
          lossless = false
          if (isFpCol(c))
            Some(TableLog.DblIn(c, e.values.map(_.asInstanceOf[Double])))
          else None
        case (c, e: EqIn) if e.values.nonEmpty &&
            e.values.forall(_.isInstanceOf[java.time.LocalDate]) =>
          if (isDateCol(c))
            Some(TableLog.NumIn(c, e.values.map(day)))
          else tsKind(c) match {
            case Some(ntz) =>
              // DATE equality on a TIMESTAMP column (the to_date shape)
              // is a day WINDOW per value: [start(d), start(d+1))
              val ranges = e.values
                .map(_.asInstanceOf[java.time.LocalDate]).distinct
                .map(d => TableLog.NumRange(c,
                  Some(dayStartUs(d, ntz)),
                  Some(dayStartUs(d.plusDays(1), ntz) - 1L)))
              if (ranges.size == 1) Some(ranges.head)
              else Some(TableLog.RgOr(ranges))
            case None => lossless = false; None
          }
        case (c, NullC(isNull)) =>
          Some(TableLog.NullCheck(c, isNull))
        case (c, e: NeC) if e.values.nonEmpty &&
            e.values.forall(_.isInstanceOf[Long]) =>
          Some(TableLog.NumNotIn(c, e.values.map(_.asInstanceOf[Long])))
        case (c, e: NeC) if e.values.nonEmpty &&
            e.values.forall(_.isInstanceOf[String]) =>
          Some(TableLog.StrNotIn(c, e.values.map(_.asInstanceOf[String])))
        case (c, e: NeC) if e.values.nonEmpty &&
            e.values.forall(_.isInstanceOf[java.time.LocalDate]) =>
          if (isDateCol(c))
            Some(TableLog.NumNotIn(c, e.values.map(day)))
          else { lossless = false; None }
        case (c, e: NeC) if isTsVals(e.values, c) =>
          Some(TableLog.NumNotIn(c, e.values.map(micros)))
        case (c, CaseEq(vs, up, pfx)) =>
          // variant-set probes demand raw STRING stats; on any other
          // column type the folded literals say nothing about the
          // stats space
          if (s.get(c).contains(StringType))
            Some(TableLog.CaseIn(c, vs, up, pfx))
          else { lossless = false; None }
        case (c, TrimEq(vs, mode)) =>
          if (s.get(c).contains(StringType))
            Some(TableLog.TrimIn(c, vs, mode))
          else { lossless = false; None }
        case (_, OrC(bs)) =>
          // every branch must lower, or the whole disjunction drops —
          // a partially-expressible OR cannot prune (the missing branch
          // could match anywhere)
          val lbs = bs.map(lower)
          if (lbs.exists(_.isEmpty) || lbs.isEmpty) {
            lossless = false; None
          } else Some(TableLog.RgOr(lbs.flatten))
        case (c, r: Range) =>
          val bs = r.lo.toSeq ++ r.hi.toSeq
          // NumRange has no exclusive-hi form; in INTEGRAL space the
          // exclusive bound lowers EXACTLY by decrement (k < 5 ⟺
          // k <= 4, same for epoch days). MinValue cannot decrement
          // (k < MIN is vacuously false) — keep it inclusive and drop
          // losslessness so full-containment proofs (metadata COUNT)
          // never trust the widened bound.
          def exclLong(hi: Option[Long]): Option[Long] =
            if (!r.hiExcl) hi
            else hi.map {
              case Long.MinValue => lossless = false; Long.MinValue
              case h => h - 1
            }
          if (bs.isEmpty) { lossless = false; None }
          else if (bs.forall(_.isInstanceOf[Long]))
            Some(TableLog.NumRange(c, r.lo.map(_.asInstanceOf[Long]),
              exclLong(r.hi.map(_.asInstanceOf[Long]))))
          else if (bs.forall(_.isInstanceOf[String]))
            Some(TableLog.StrRange(c, r.lo.map(_.asInstanceOf[String]),
              r.hi.map(_.asInstanceOf[String]), r.hiExcl))
          else if (bs.forall(_.isInstanceOf[Double])) {
            lossless = false
            if (isFpCol(c))
              Some(TableLog.DblRange(c,
                r.lo.map(_.asInstanceOf[Double]),
                r.hi.map(_.asInstanceOf[Double]), r.hiExcl))
            else None
          }
          else if (bs.forall(_.isInstanceOf[DecLit])) {
            lossless = false
            if (isFpCol(c))
              Some(TableLog.DblRange(c, r.lo.map(fpD), r.hi.map(fpD),
                r.hiExcl))
            else decScale(c) match {
              case Some(sc) =>
                try {
                  // bounds rescale EXACTLY in integer semantics:
                  // k >= 950.005 <=> unscaled >= ceil; k <(=) 950.005
                  // <=> unscaled <= floor; an exactly-representable
                  // exclusive hi decrements (same Long.MinValue guard
                  // as the integral path)
                  import java.math.RoundingMode.{CEILING, FLOOR}
                  val lo = r.lo.map(unscaledDir(_, sc, CEILING)._1)
                  val hi = r.hi.map { v =>
                    val (h, exact) = unscaledDir(v, sc, FLOOR)
                    if (exact && r.hiExcl)
                      (if (h == Long.MinValue) h else h - 1)
                    else h
                  }
                  Some(TableLog.AtScale(TableLog.NumRange(c, lo, hi), sc))
                } catch { case _: ArithmeticException => None }
              case None => None
            }
          }
          else if (bs.forall(_.isInstanceOf[java.time.LocalDate]) &&
              isDateCol(c))
            Some(TableLog.NumRange(c, r.lo.map(day),
              exclLong(r.hi.map(day))))
          else if (isTsVals(bs, c))
            Some(TableLog.NumRange(c, r.lo.map(micros),
              exclLong(r.hi.map(micros))))
          else if (bs.forall(_.isInstanceOf[java.time.LocalDate]) &&
              tsKind(c).isDefined) {
            // DATE bounds on a TIMESTAMP column: d <= hi means
            // ts < start(hi + 1); d < hi means ts < start(hi) — both
            // land inclusive on start − 1 in micros space (exact)
            val ntz = tsKind(c).get
            def ld(v: Any) = v.asInstanceOf[java.time.LocalDate]
            val lo = r.lo.map(v => dayStartUs(ld(v), ntz))
            val hi = r.hi.map { v =>
              val d = if (r.hiExcl) ld(v) else ld(v).plusDays(1)
              dayStartUs(d, ntz) - 1L
            }
            Some(TableLog.NumRange(c, lo, hi))
          }
          else { lossless = false; None }
        case _ => lossless = false; None
      }
    val out = constraints.flatMap(lower)
    (out, lossless)
  }

  /** Single-part column names the predicate references — what a pushed
    * projection must additionally carry so the exact re-filter can
    * evaluate. */
  private[operators] def referencedColumns(spark: SparkSession,
      predicate: String): Seq[String] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    spark.sessionState.sqlParser.parseExpression(predicate).collect {
      case a: UnresolvedAttribute if a.nameParts.size == 1 =>
        a.nameParts.head
    }.distinct
  }

  /** [[analyzeFull]]'s constraint list alone. */
  private[operators] def analyze(spark: SparkSession,
      predicate: String): Seq[(String, Constraint)] =
    analyzeFull(spark, predicate)._1

  /** Driver-side conjunct analysis: top-level ANDs of parse-time
    * comparisons between a bare column and integral/string/date
    * literals, plus the prefix family. Everything else contributes no
    * constraint (conservative). The Boolean is TRUE iff every conjunct
    * was captured EXACTLY — the row set the constraints select equals
    * the predicate's — which is what licenses metadata-only counting. */
  private[operators] def analyzeFull(spark: SparkSession,
      predicate: String): (Seq[(String, Constraint)], Boolean) = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions._
    val parsed = spark.sessionState.sqlParser.parseExpression(predicate)
    var exact = true
    def inexact[A](a: A): A = { exact = false; a }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(a, b) => conjuncts(a) ++ conjuncts(b)
      case Not(Or(a, b)) => // De Morgan: ¬(A ∨ B) = ¬A ∧ ¬B
        conjuncts(Not(a)) ++ conjuncts(Not(b))
      case x => Seq(x)
    }
    def litVal(l: Literal): Option[Any] = l.value match {
      case null => None
      case i: Int if l.dataType == DateType =>
        // DATE literal: kept in DATE space (LocalDate) so the lowering
        // can demand a DateType COLUMN before pruning on epoch days —
        // against a timestamp column the comparison space is micros,
        // and a raw epoch-day bound would prune away every match
        Some(java.time.LocalDate.ofEpochDay(i.toLong))
      case b: Byte => Some(b.toLong)
      case s: Short => Some(s.toLong)
      case i: Int => Some(i.toLong)
      case micros: Long
          if l.dataType == org.apache.spark.sql.types.TimestampType =>
        Some(TsLit(micros, ntz = false))
      case micros: Long if l.dataType ==
          org.apache.spark.sql.types.TimestampNTZType =>
        Some(TsLit(micros, ntz = true))
      case l2: Long => Some(l2)
      case u: org.apache.spark.unsafe.types.UTF8String =>
        Some(u.toString)
      case s: String => Some(s)
      case d: Double =>
        // Spark compares FP with NaN greatest and -0.0 = 0.0; the
        // stats space is normalized the same way. NaN probes stay
        // unroutable (conservative).
        if (d.isNaN) None else Some(if (d == 0.0) 0.0 else d)
      case f: Float =>
        if (f.isNaN) None
        else Some(if (f == 0.0f) 0.0 else f.toDouble)
      case dec: org.apache.spark.sql.types.Decimal =>
        // a bare `950.0` parses as DECIMAL — kept exact and tagged;
        // the lowering dispatches on the column type
        Some(DecLit(dec))
      case _ => None // timestamps/binary: not prunable here
    }
    def colName(e: Expression): Option[String] = e match {
      case a: UnresolvedAttribute if a.nameParts.size == 1 =>
        Some(a.nameParts.head)
      case _ => None
    }
    def isFn(e: Expression, names: String*): Boolean = e match {
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction =>
        names.contains(f.nameParts.map(_.toLowerCase).mkString("."))
      case _ => false
    }
    def fnArgs(e: Expression): Seq[Expression] = e match {
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction =>
        f.arguments
      case _ => Nil
    }
    // an OR tree whose every leaf is `col = lit` on ONE column is an
    // IN-list (the "k = 5 OR k = 9000" shape) — prunable; OR over
    // different columns or non-equalities stays unprunable
    def orAsIn(e: Expression): Option[(String, Constraint)] = {
      def leaves(x: Expression): Seq[Expression] = x match {
        case Or(a, b) => leaves(a) ++ leaves(b)
        case l => Seq(l)
      }
      val pairs = leaves(e).map {
        case EqualTo(a, l: Literal) =>
          for (c <- colName(a); v <- litVal(l)) yield (c, v)
        case EqualTo(l: Literal, a) =>
          for (c <- colName(a); v <- litVal(l)) yield (c, v)
        case _ => None
      }
      if (pairs.exists(_.isEmpty)) None
      else {
        val ps = pairs.map(_.get)
        if (ps.map(_._1).distinct.size == 1)
          Some((ps.head._1, EqIn(ps.map(_._2).distinct)))
        else None
      }
    }
    // prefix `p` as an exact half-open range [p, bump(p)): exact when
    // the LAST char is ASCII-bumpable (byte order stays consistent);
    // otherwise bump an earlier char — over-keeps (safe), marked
    // inexact — or, all-non-ASCII, a lo-only range.
    def prefixRange(c: String, p: String): (String, Constraint) = {
      val i = p.lastIndexWhere(_ < '\u007f')
      if (i < 0) inexact((c, Range(Some(p), None)))
      else {
        val hi = p.substring(0, i) + (p.charAt(i) + 1).toChar
        if (i != p.length - 1) { exact = false }
        (c, Range(Some(p), Some(hi), hiExcl = true))
      }
    }
    // `substr(col, 1, n) = 'p'` with n == p.length is the prefix
    // predicate; n < length can never equal; n > length pins the whole
    // value (col = 'p' exactly, since substring stops at the end)
    def substrEq(args: Seq[Expression], l: Literal)
        : Option[(String, Constraint)] =
      (args, litVal(l)) match {
        case (Seq(a, p1: Literal, pn: Literal), Some(p: String)) =>
          (colName(a), p1.value, pn.value) match {
            case (Some(c), one: Int, n: Int) if one == 1 =>
              if (n == p.length) Some(prefixRange(c, p))
              else if (n > p.length) Some((c, EqIn(Seq(p))))
              else Some(inexact((c, EqIn(Nil)))) // provably false
            case _ => None
          }
        case _ => None
      }
    // ===== case-mapped equality routing ==============================
    // `upper(c) = 'X'` / `lower(c) = 'x'` / `... IN (lits)`: for an
    // ASCII literal the matching raw strings are exactly the case
    // VARIANTS of the target (each char in either case, or a non-ASCII
    // character whose mapping spells a run of it: upper('ı') = 'I',
    // upper('ß') = 'SS'), so a [[CaseEq]] constraint routes
    // through the variant-in-range test against raw zone stats
    // (RowGroupScan.variantInRange -- an exact membership check over
    // the variant set, far tighter than any single bounding range on
    // single-case data). Marked inexact: zone stats can disprove a
    // group but never prove one fully matching, so metadata counts
    // must not trust containment. A literal that is not a fixed point
    // of its own mapping (`upper(c) = 'x'`) is provably false and
    // drops from the probe set. Non-ASCII literals fall through to
    // unprunable: their preimages under Unicode case mapping are not
    // enumerated (dotted I, locale-dependent maps).
    def caseConstraint(c: String, strs: Seq[String], up: Boolean,
        pfx: Boolean): Option[(String, Constraint)] = {
      if (strs.isEmpty ||
          strs.exists(s => !s.forall(_.toInt < 128))) None
      else {
        // a target that is not a fixed point of the fold can never
        // match the folded column (provably false) and drops; all
        // dropped → empty probe
        val keep = strs.filter(s =>
          (if (up) s.toUpperCase else s.toLowerCase) == s).distinct
        Some(
          if (keep.isEmpty) inexact((c, EqIn(Nil)))
          else inexact((c, CaseEq(keep, up, pfx))))
      }
    }
    def caseFold(f: Expression, ls: Seq[Literal],
        pfx: Boolean = false): Option[(String, Constraint)] = {
      val vals = ls.map(litVal)
      if (ls.isEmpty ||
          vals.exists(!_.exists(_.isInstanceOf[String]))) return None
      val strs = vals.map(_.get.asInstanceOf[String])
      val up = isFn(f, "upper", "ucase")
      fnArgs(f) match {
        case Seq(a) =>
          colName(a).flatMap(caseConstraint(_, strs, up, pfx))
        case _ => None
      }
    }
    // ===== trim-mapped equality routing ==============================
    // `trim(c) = 'x'` / `ltrim`/`rtrim` / `... IN (lits)` (the default
    // ONE-ARG forms — SPACE-only trimming; the two-arg custom-charset
    // forms fall through to unprunable): the matching raw strings are
    // exactly the space-padded variants of the target, so a [[TrimEq]]
    // constraint routes through the padded-variant-in-range test
    // against raw zone stats (RowGroupScan.paddedVariantInRange — on
    // space-free data as tight as a plain equality). Marked inexact
    // for counting, like [[CaseEq]]. A target that is not a fixed
    // point of its own trim (`trim(c) = ' x'`) is provably false and
    // drops from the probe set; all dropped → empty probe.
    def trimFold(f: Expression, ls: Seq[Literal])
        : Option[(String, Constraint)] = {
      val vals = ls.map(litVal)
      if (ls.isEmpty ||
          vals.exists(!_.exists(_.isInstanceOf[String]))) return None
      val strs = vals.map(_.get.asInstanceOf[String])
      val mode = if (isFn(f, "ltrim")) 'l'
                 else if (isFn(f, "rtrim")) 'r' else 'b'
      fnArgs(f) match {
        case Seq(a) => colName(a).map { c =>
          val keep = strs.filter { s =>
            (mode == 'r' || !s.startsWith(" ")) &&
              (mode == 'l' || !s.endsWith(" "))
          }.distinct
          if (keep.isEmpty) inexact((c, EqIn(Nil)))
          else inexact((c, TrimEq(keep, mode)))
        }
        case _ => None
      }
    }
    // a LIKE/ILIKE pattern that is a plain prefix under the DEFAULT
    // escape: 'p%' with no other wildcard or escape in the body
    def plainPrefix(p: String): Option[String] =
      if (p.nonEmpty && p.endsWith("%") &&
          !p.dropRight(1).exists(ch => ch == '%' || ch == '_' ||
            ch == '\\')) Some(p.dropRight(1))
      else None

    // `to_date(col) = 'yyyy-MM-dd'` (or a DATE literal): an equality in
    // DATE space — valid only on a DateType column (to_date is identity
    // there), which toRgConstraints checks against the schema
    def toDateEq(args: Seq[Expression], l: Literal)
        : Option[(String, Constraint)] =
      args match {
        case Seq(a) => colName(a).flatMap { c =>
          (l.value, l.dataType) match {
            case (i: Int, DateType) =>
              Some((c, EqIn(Seq(java.time.LocalDate.ofEpochDay(
                i.toLong)))))
            case (u: org.apache.spark.unsafe.types.UTF8String, _)
                if u.toString.matches("\\d{4}-\\d{2}-\\d{2}") =>
              Some((c, EqIn(Seq(java.time.LocalDate.parse(u.toString)))))
            case _ => None
          }
        }
        case _ => None
      }

    // ===== datetime function routing =================================
    // `year(c) <cmp> y`, `year(c) BETWEEN a AND b`, `trunc(c, unit) =
    // d`, `date_trunc(unit, c) = ts` all rewrite to EXACT ranges in
    // DATE space (LocalDate bounds the lowering converts to epoch days
    // on a DateType column): year(c) = 2024 ⟺ c ∈ [2024-01-01,
    // 2025-01-01). A truncation equality whose literal is NOT aligned
    // to the unit start is provably false (empty probe set, marked
    // inexact — the re-applied predicate returns nothing anyway).
    import java.time.LocalDate
    def yearOk(y: Long): Boolean = y > -999999L && y < 999999L
    def jan1(y: Long): LocalDate = LocalDate.of(y.toInt, 1, 1)
    // year(c) <cmp> y in every operand order → a date Range
    def yearCmp(c: String, y: Long, op: String)
        : Option[(String, Constraint)] =
      if (!yearOk(y)) None
      else Some(op match {
        case "=" => (c, Range(Some(jan1(y)), Some(jan1(y + 1)),
          hiExcl = true))
        case ">=" => (c, Range(Some(jan1(y)), None))
        case ">" => (c, Range(Some(jan1(y + 1)), None))
        case "<=" => (c, Range(None, Some(jan1(y + 1)), hiExcl = true))
        case "<" => (c, Range(None, Some(jan1(y)), hiExcl = true))
      })
    def yearArg(e: Expression): Option[String] =
      if (isFn(e, "year") && fnArgs(e).size == 1)
        colName(fnArgs(e).head)
      else None
    // one truncated-unit window [start, next(start)) — None when the
    // literal is not aligned to the unit start (provably false)
    def truncWindow(unit: String, d: LocalDate)
        : Option[(LocalDate, LocalDate)] = unit.toLowerCase match {
      case "year" | "yyyy" | "yy" =>
        if (d.getDayOfYear == 1) Some((d, d.plusYears(1))) else None
      case "quarter" =>
        if (d.getDayOfMonth == 1 && (d.getMonthValue - 1) % 3 == 0)
          Some((d, d.plusMonths(3)))
        else None
      case "month" | "mon" | "mm" =>
        if (d.getDayOfMonth == 1) Some((d, d.plusMonths(1))) else None
      case "week" => // ISO: weeks start Monday
        if (d.getDayOfWeek == java.time.DayOfWeek.MONDAY)
          Some((d, d.plusDays(7)))
        else None
      case "day" | "dd" => Some((d, d.plusDays(1)))
      case _ => None // hour/minute/…: not a date-space window
    }
    // the literal a truncation compares against, as (LocalDate,
    // midnight?) — DATE, midnight-string, and TIMESTAMP[_NTZ] literals
    // (timestamps resolve through the SESSION time zone, the zone
    // date_trunc itself evaluates in)
    def dateOf(l: Literal): Option[(LocalDate, Boolean)] = l.value match {
      case i: Int if l.dataType == DateType =>
        Some((LocalDate.ofEpochDay(i.toLong), true))
      case u: org.apache.spark.unsafe.types.UTF8String =>
        val s = u.toString
        if (s.matches("\\d{4}-\\d{2}-\\d{2}"))
          Some((LocalDate.parse(s), true))
        else if (s.matches("\\d{4}-\\d{2}-\\d{2}[ T]00:00(:00(\\.0+)?)?"))
          Some((LocalDate.parse(s.substring(0, 10)), true))
        else if (s.matches("\\d{4}-\\d{2}-\\d{2}[ T].*"))
          Some((LocalDate.parse(s.substring(0, 10)), false))
        else None
      case micros: Long
          if l.dataType == org.apache.spark.sql.types.TimestampType =>
        val zone = java.time.ZoneId.of(
          spark.sessionState.conf.sessionLocalTimeZone)
        val ldt = java.time.Instant.EPOCH
          .plus(micros, java.time.temporal.ChronoUnit.MICROS)
          .atZone(zone).toLocalDateTime
        Some((ldt.toLocalDate, ldt.toLocalTime == java.time.LocalTime
          .MIDNIGHT))
      case micros: Long
          if l.dataType == org.apache.spark.sql.types.TimestampNTZType =>
        val ldt = java.time.LocalDateTime.ofEpochSecond(
          Math.floorDiv(micros, 1000000L),
          (Math.floorMod(micros, 1000000L) * 1000L).toInt,
          java.time.ZoneOffset.UTC)
        Some((ldt.toLocalDate, ldt.toLocalTime == java.time.LocalTime
          .MIDNIGHT))
      case _ => None
    }
    // trunc(c, unit) = lit  /  date_trunc(unit, c) = lit → the unit
    // window, or a provably-false empty probe when misaligned
    def truncEq(f: Expression, l: Literal): Option[(String, Constraint)] = {
      val (unitArg, colArg) =
        if (isFn(f, "trunc")) (fnArgs(f).lift(1), fnArgs(f).lift(0))
        else (fnArgs(f).lift(0), fnArgs(f).lift(1))
      for {
        u <- unitArg.collect {
          case ul: Literal => Option(ul.value).map(_.toString)
        }.flatten
        c <- colArg.flatMap(colName)
        (d, midnight) <- dateOf(l)
      } yield truncWindow(u, d) match {
        case Some((lo, hi)) if midnight =>
          (c, Range(Some(lo), Some(hi), hiExcl = true))
        case _ => inexact((c, EqIn(Nil))) // provably false
      }
    }

    // ¬ rewriting (three-valued-logic safe under WHERE: ¬(k > 5) and
    // k <= 5 select the same rows — both drop NULLs): comparisons flip,
    // null checks toggle, De Morgan splits, BETWEEN opens out
    def invertNot(x: Expression): Option[Expression] = x match {
      case Not(inner) => Some(inner) // double negation
      case GreaterThan(a, b) => Some(LessThanOrEqual(a, b))
      case GreaterThanOrEqual(a, b) => Some(LessThan(a, b))
      case LessThan(a, b) => Some(GreaterThanOrEqual(a, b))
      case LessThanOrEqual(a, b) => Some(GreaterThan(a, b))
      case IsNull(a) => Some(IsNotNull(a))
      case IsNotNull(a) => Some(IsNull(a))
      case And(a, b) => Some(Or(Not(a), Not(b)))
      case f if isFn(f, "between") && fnArgs(f).size == 3 =>
        val as = fnArgs(f)
        Some(Or(LessThan(as(0), as(1)), GreaterThan(as(0), as(2))))
      case _ => None
    }
    def one(cj: Expression): Option[(String, Constraint)] = cj match {
      case o: Or => orAsIn(o).orElse(orAcross(o))
      // col != v / col NOT IN (…): exact — both the predicate and the
      // constraint drop NULL rows, and a constant excluded group has
      // provably no matching row
      case Not(EqualTo(a, l: Literal)) =>
        (for (c <- colName(a); v <- litVal(l)) yield (c, NeC(Seq(v))))
          .orElse(invertNot(Not(EqualTo(a, l))).flatMap(one))
      case Not(EqualTo(l: Literal, a)) =>
        (for (c <- colName(a); v <- litVal(l)) yield (c, NeC(Seq(v))))
          .orElse(invertNot(Not(EqualTo(l, a))).flatMap(one))
      case Not(In(a, ls)) if ls.forall(_.isInstanceOf[Literal]) =>
        colName(a).flatMap { c =>
          val vs = ls.map(l => litVal(l.asInstanceOf[Literal]))
          if (vs.forall(_.isDefined) && vs.nonEmpty)
            Some((c, NeC(vs.map(_.get)))) else None
        }
      case Not(x) => invertNot(x).flatMap(one)
      case other => oneSimple(other)
    }
    // a disjunction whose EVERY flattened leaf is index-expressible —
    // possibly across columns (`a < 10 OR b = 'x'`) — prunes as an
    // [[OrC]]: a group survives unless every branch is disproven
    def orAcross(o: Or): Option[(String, Constraint)] = {
      def leaves(x: Expression): Seq[Expression] = x match {
        case Or(a, b) => leaves(a) ++ leaves(b)
        case l => Seq(l)
      }
      val bs = leaves(o).map {
        case Not(x) => invertNot(x).flatMap(oneSimple)
        case l => oneSimple(l)
      }
      if (bs.exists(_.isEmpty) || bs.isEmpty) None
      else Some((bs.flatten.map(_._1).distinct.sorted.mkString("|"),
        OrC(bs.flatten)))
    }
    lazy val oneSimple: Expression => Option[(String, Constraint)] = {
      cj => cj match {
        // BETWEEN survives parsing as an unresolved 'between' function
        // call (the analyzer, which never runs on a bare
        // parseExpression, would rewrite it to >= AND <=)
        case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
            if f.nameParts.map(_.toLowerCase) == Seq("between") &&
              f.arguments.size == 3 =>
          (f.arguments(0), f.arguments(1), f.arguments(2)) match {
            // year(c) BETWEEN a AND b ⟺ c ∈ [a-01-01, (b+1)-01-01)
            case (a, lo: Literal, hi: Literal)
                if yearArg(a).isDefined =>
              (litVal(lo), litVal(hi)) match {
                case (Some(l: Long), Some(h: Long))
                    if yearOk(l) && yearOk(h) =>
                  Some((yearArg(a).get,
                    Range(Some(jan1(l)), Some(jan1(h + 1)),
                      hiExcl = true)))
                case _ => None
              }
            case (a, lo: Literal, hi: Literal) =>
              for (c <- colName(a); l <- litVal(lo); h <- litVal(hi))
                yield (c, Range(Some(l), Some(h)))
            case _ => None
          }
        // year(c) <cmp> y → exact calendar-year date ranges
        case EqualTo(f, l: Literal) if yearArg(f).isDefined =>
          litVal(l).collect { case y: Long => y }
            .flatMap(yearCmp(yearArg(f).get, _, "="))
        case EqualTo(l: Literal, f) if yearArg(f).isDefined =>
          litVal(l).collect { case y: Long => y }
            .flatMap(yearCmp(yearArg(f).get, _, "="))
        case GreaterThanOrEqual(f, l: Literal) if yearArg(f).isDefined =>
          litVal(l).collect { case y: Long => y }
            .flatMap(yearCmp(yearArg(f).get, _, ">="))
        case GreaterThan(f, l: Literal) if yearArg(f).isDefined =>
          litVal(l).collect { case y: Long => y }
            .flatMap(yearCmp(yearArg(f).get, _, ">"))
        case LessThanOrEqual(f, l: Literal) if yearArg(f).isDefined =>
          litVal(l).collect { case y: Long => y }
            .flatMap(yearCmp(yearArg(f).get, _, "<="))
        case LessThan(f, l: Literal) if yearArg(f).isDefined =>
          litVal(l).collect { case y: Long => y }
            .flatMap(yearCmp(yearArg(f).get, _, "<"))
        case GreaterThanOrEqual(l: Literal, f) if yearArg(f).isDefined =>
          litVal(l).collect { case y: Long => y }
            .flatMap(yearCmp(yearArg(f).get, _, "<="))
        case GreaterThan(l: Literal, f) if yearArg(f).isDefined =>
          litVal(l).collect { case y: Long => y }
            .flatMap(yearCmp(yearArg(f).get, _, "<"))
        case LessThanOrEqual(l: Literal, f) if yearArg(f).isDefined =>
          litVal(l).collect { case y: Long => y }
            .flatMap(yearCmp(yearArg(f).get, _, ">="))
        case LessThan(l: Literal, f) if yearArg(f).isDefined =>
          litVal(l).collect { case y: Long => y }
            .flatMap(yearCmp(yearArg(f).get, _, ">"))
        // trunc(c, unit) = d / date_trunc(unit, c) = ts → unit window
        case EqualTo(f, l: Literal) if isFn(f, "trunc", "date_trunc") =>
          truncEq(f, l)
        case EqualTo(l: Literal, f) if isFn(f, "trunc", "date_trunc") =>
          truncEq(f, l)
        // case-insensitive prefix family → variant-set PREFIX probes:
        // `lower(col) LIKE 'p%'` (default escape, plain prefix only)
        case Like(f, l: Literal, '\\')
            if isFn(f, "upper", "ucase", "lower", "lcase") =>
          (fnArgs(f), litVal(l)) match {
            case (Seq(a), Some(p: String)) =>
              for {
                pre <- plainPrefix(p)
                c <- colName(a)
                r <- caseConstraint(c, Seq(pre),
                  isFn(f, "upper", "ucase"), pfx = true)
              } yield r
            case _ => None
          }
        // `col ILIKE 'x'` (no wildcards → case-insensitive equality)
        // and `col ILIKE 'p%'` (plain prefix). ILIKE lowercases both
        // sides, so the folded target is lower(pattern) — always a
        // fixed point by construction.
        case ILike(a, l: Literal, '\\') =>
          (colName(a), litVal(l)) match {
            case (Some(c), Some(p: String)) =>
              if (!p.exists(ch => ch == '%' || ch == '_' || ch == '\\'))
                caseConstraint(c, Seq(p.toLowerCase), up = false,
                  pfx = false)
              else plainPrefix(p).flatMap(pre =>
                caseConstraint(c, Seq(pre.toLowerCase), up = false,
                  pfx = true))
            case _ => None
          }
        // `startswith(upper/lower(col), 'p')`
        case g if isFn(g, "startswith") && fnArgs(g).size == 2 &&
            isFn(fnArgs(g).head, "upper", "ucase", "lower", "lcase") =>
          val inner = fnArgs(g).head
          (fnArgs(inner), fnArgs(g)(1)) match {
            case (Seq(a), l: Literal) => litVal(l) match {
              case Some(p: String) => colName(a).flatMap(
                caseConstraint(_, Seq(p),
                  isFn(inner, "upper", "ucase"), pfx = true))
              case _ => None
            }
            case _ => None
          }
        // only the DEFAULT escape char qualifies: under `ESCAPE '#'`
        // the pattern 'a#b%' matches prefix 'ab', so routing the raw
        // 'a#b' prefix would prune away every matching row group — an
        // unrecoverable miss (the re-applied predicate can't restore
        // pruned groups). Custom escapes fall through to unprunable.
        case Like(a, l: Literal, '\\') =>
          (colName(a), litVal(l)) match {
            case (Some(c), Some(p: String))
                if p.nonEmpty && p.endsWith("%") &&
                  !p.dropRight(1).exists(ch => ch == '%' || ch == '_' ||
                    ch == '\\') =>
              Some(prefixRange(c, p.dropRight(1)))
            case _ => None
          }
        // upper/lower equality and IN → exact variant-set probes
        case EqualTo(f, l: Literal)
            if isFn(f, "upper", "ucase", "lower", "lcase") =>
          caseFold(f, Seq(l))
        case EqualTo(l: Literal, f)
            if isFn(f, "upper", "ucase", "lower", "lcase") =>
          caseFold(f, Seq(l))
        case In(f, ls)
            if isFn(f, "upper", "ucase", "lower", "lcase") &&
              ls.nonEmpty && ls.forall(_.isInstanceOf[Literal]) =>
          caseFold(f, ls.map(_.asInstanceOf[Literal]))
        // trim/ltrim/rtrim/btrim equality and IN → padded-variant probes
        case EqualTo(f, l: Literal)
            if isFn(f, "trim", "btrim", "ltrim", "rtrim") =>
          trimFold(f, Seq(l))
        case EqualTo(l: Literal, f)
            if isFn(f, "trim", "btrim", "ltrim", "rtrim") =>
          trimFold(f, Seq(l))
        case In(f, ls)
            if isFn(f, "trim", "btrim", "ltrim", "rtrim") &&
              ls.nonEmpty && ls.forall(_.isInstanceOf[Literal]) =>
          trimFold(f, ls.map(_.asInstanceOf[Literal]))
        case EqualTo(a, l: Literal) if isFn(a, "substr", "substring") =>
          substrEq(fnArgs(a), l)
        case EqualTo(l: Literal, a) if isFn(a, "substr", "substring") =>
          substrEq(fnArgs(a), l)
        case EqualTo(a, l: Literal) if isFn(a, "to_date") =>
          toDateEq(fnArgs(a), l)
        case EqualTo(l: Literal, a) if isFn(a, "to_date") =>
          toDateEq(fnArgs(a), l)
        case f if isFn(f, "startswith") && fnArgs(f).size == 2 =>
          (colName(fnArgs(f).head), fnArgs(f)(1)) match {
            case (Some(c), l: Literal) => litVal(l) match {
              case Some(p: String) => Some(prefixRange(c, p))
              case _ => None
            }
            case _ => None
          }
        case EqualTo(a, l: Literal) =>
          for (c <- colName(a); v <- litVal(l)) yield (c, EqIn(Seq(v)))
        case EqualTo(l: Literal, a) =>
          for (c <- colName(a); v <- litVal(l)) yield (c, EqIn(Seq(v)))
        case In(f, ls) if yearArg(f).isDefined &&
            ls.forall(_.isInstanceOf[Literal]) =>
          val c = yearArg(f).get
          val ys = ls.map(l => litVal(l.asInstanceOf[Literal]))
          if (ys.forall(_.exists(v =>
              v.isInstanceOf[Long] && yearOk(v.asInstanceOf[Long]))) &&
              ys.nonEmpty) {
            val branches = ys.map(_.get.asInstanceOf[Long]).distinct
              .map(y => (c, Range(Some(jan1(y)), Some(jan1(y + 1)),
                hiExcl = true): Constraint))
            Some((c, OrC(branches)))
          } else None
        case In(a, ls) if ls.forall(_.isInstanceOf[Literal]) =>
          colName(a).flatMap { c =>
            val vs = ls.map(l => litVal(l.asInstanceOf[Literal]))
            if (vs.forall(_.isDefined) && vs.nonEmpty)
              Some((c, EqIn(vs.map(_.get)))) else None
          }
        case IsNull(a) =>
          colName(a).map(c => (c, NullC(isNull = true)))
        case IsNotNull(a) =>
          colName(a).map(c => (c, NullC(isNull = false)))
        case GreaterThanOrEqual(a, l: Literal) =>
          for (c <- colName(a); v <- litVal(l))
            yield (c, Range(Some(v), None))
        case GreaterThan(a, l: Literal) =>
          for (c <- colName(a); v <- litVal(l))
            yield inexact((c, Range(Some(v), None)))
        case LessThanOrEqual(a, l: Literal) =>
          for (c <- colName(a); v <- litVal(l))
            yield (c, Range(None, Some(v)))
        case LessThan(a, l: Literal) =>
          for (c <- colName(a); v <- litVal(l))
            yield (c, Range(None, Some(v), hiExcl = true))
        case GreaterThanOrEqual(l: Literal, a) =>
          for (c <- colName(a); v <- litVal(l))
            yield (c, Range(None, Some(v)))
        case GreaterThan(l: Literal, a) =>
          for (c <- colName(a); v <- litVal(l))
            yield (c, Range(None, Some(v), hiExcl = true))
        case LessThanOrEqual(l: Literal, a) =>
          for (c <- colName(a); v <- litVal(l))
            yield (c, Range(Some(v), None))
        case LessThan(l: Literal, a) =>
          for (c <- colName(a); v <- litVal(l))
            yield inexact((c, Range(Some(v), None)))
        case _ => None
      }
    }
    val raw = conjuncts(parsed).flatMap { cj =>
      val got = one(cj)
      if (got.isEmpty) exact = false
      got
    }
    // null checks and disjunctions ride beside the valued constraints
    // (k IS NOT NULL AND k > 5 contributes BOTH conjuncts to the
    // intersection; a disjunction is its own conjunct)
    val (nullChecks, valued) = raw.partition(p =>
      p._2.isInstanceOf[NullC] || p._2.isInstanceOf[OrC] ||
        p._2.isInstanceOf[NeC] || p._2.isInstanceOf[CaseEq] ||
        p._2.isInstanceOf[TrimEq])
    // merge per column: ranges intersect; equality values FILTER by the
    // merged range (k = 5 AND k < 3 → empty probe set), staying exact
    val merged = valued.groupBy(_._1).toSeq.sortBy(_._1).map { case (c, cs) =>
      val eqs = cs.collect { case (_, e: EqIn) => e }
      val ranges = cs.collect { case (_, r: Range) => r }
      def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
        case (x: Long, y: Long) => Some(java.lang.Long.compare(x, y))
        case (x: String, y: String) => Some(utf8Compare(x, y))
        case (x: Double, y: Double) =>
          Some(java.lang.Double.compare(x, y)) // normalized, no NaN
        case (DecLit(x), DecLit(y)) =>
          Some(x.toJavaBigDecimal.compareTo(y.toJavaBigDecimal))
        case (x: java.time.LocalDate, y: java.time.LocalDate) =>
          Some(x.compareTo(y))
        case (x: TsLit, y: TsLit) if x.ntz == y.ntz =>
          Some(java.lang.Long.compare(x.micros, y.micros))
        case _ => None
      }
      if (eqs.nonEmpty) {
        // several equality conjuncts on one column: intersect value
        // sets, then filter by any range conjuncts on the same column
        var vs = eqs.map(_.values.toSet).reduce(_ intersect _).toSeq
        ranges.foreach { r =>
          vs = vs.filter { v =>
            r.lo.forall(l => cmp(v, l) match {
              case Some(x) => x >= 0
              case None => exact = false; true
            }) &&
            r.hi.forall(h => cmp(v, h) match {
              case Some(x) => if (r.hiExcl) x < 0 else x <= 0
              case None => exact = false; true
            })
          }
        }
        (c, EqIn(vs))
      } else {
        def maxOf(vs: Seq[Any]): Any =
          vs.reduce((a, b) => if (cmp(a, b).exists(_ >= 0)) a else b)
        def minOf(vs: Seq[Any]): Any =
          vs.reduce((a, b) => if (cmp(a, b).exists(_ <= 0)) a else b)
        val los = ranges.flatMap(_.lo)
        val his = ranges.flatMap(_.hi)
        // mixed-type bounds on one column: not prunable, drop to Range
        // with no bounds (harmless — selection requires a defined side)
        val consistent = (los ++ his).map(_.getClass).distinct.size <= 1
        if (!consistent) inexact((c, Range(None, None)))
        else {
          // hi side: an exclusive bound equal to an inclusive one is
          // TIGHTER; keep exclusivity only when the winning hi is
          // exclusive-only (conservative: mixed same-value → inclusive
          // keeps more, marked inexact for counting)
          val hi = if (his.isEmpty) None else Some(minOf(his))
          val hiExcl = hi.exists(h => {
            val cands = ranges.filter(_.hi.contains(h))
            val excl = cands.forall(_.hiExcl) && cands.nonEmpty
            if (!excl && cands.exists(_.hiExcl)) exact = false
            excl
          })
          (c, Range(
            if (los.isEmpty) None else Some(maxOf(los)),
            hi, hiExcl))
        }
      }
    }
    (merged ++ nullChecks.distinct, exact)
  }

  /** JOIN-DRIVEN file pruning (dynamic file skipping): the warehouse
    * pattern `fact JOIN dim ON k WHERE dim.attr = x` where the filter
    * arrives through the DIMENSION — no scalar predicate on the fact
    * table exists for [[readWhere]] to route. Collects the dim side's
    * distinct join keys driver-side (BOUNDED, the planning-memo
    * discipline: past `maxKeys` distinct keys the collect aborts and
    * the join runs unpruned — a dim that wide wouldn't prune anyway)
    * and routes them through the fact table's existing indexes as an
    * IN probe: bloom point-lookup when the join key is bloom-indexed,
    * zone/partition elimination otherwise. The join itself re-applies
    * exact equality, so pruning stays conservative-keep; the dim side
    * is broadcast (it fit in the driver), so the joined plan adds no
    * shuffle on the fact side.
    *
    * Returns (fact ⋈ dim, pruning stats). `strategy` gains a `join_`
    * prefix; `join_full` = key set too wide or untyped, nothing
    * pruned. */
  def readJoinPruned(spark: SparkSession, dir: String, factKey: String,
      dim: DataFrame, dimKey: String, version: Int = -1,
      maxKeys: Int = 100000): (DataFrame, Stats) = {
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    val snap = TableLog.snapshot(dir, version)
    def joined(fact: DataFrame) =
      fact.join(broadcast(dim), fact(factKey) === dim(dimKey))
    def full(label: String) = {
      val df = TableLog.read(spark, dir, version)
      (joined(df), Stats(label, Some(factKey), 0L, 0L,
        snap.files.size, snap.files.size))
    }
    // bounded driver collect of the probe keys; limit(maxKeys+1) keeps
    // the overflow check one row cheap instead of counting the dim
    val keyRows = dim.select(dimKey).distinct().limit(maxKeys + 1)
      .collect()
    if (keyRows.length > maxKeys) return full("join_full")
    // probe values in the index's value space: integrals fold to Long,
    // strings stay raw, DATE keys (the calendar-dim join) stay
    // LocalDate so the lowering can demand a DateType fact column
    // before pruning on epoch days; any other key type (double joins,
    // decimals) cannot probe the indexes soundly — unpruned join,
    // still exact
    val keys: Seq[Any] = keyRows.iterator.map(_.get(0))
      .filter(_ != null).map {
        case b: Byte => b.toLong
        case s: Short => s.toLong
        case i: Int => i.toLong
        case l: Long => l
        case s: String => s
        case d: java.sql.Date => d.toLocalDate
        case d: java.time.LocalDate => d
        // TIMESTAMP keys (event-time dims): micros-tagged, so the
        // lowering demands a matching TS/NTZ fact column
        case t: java.sql.Timestamp => TsLit(
          org.apache.spark.sql.catalyst.util.DateTimeUtils
            .fromJavaTimestamp(t), ntz = false)
        case i: java.time.Instant => TsLit(
          org.apache.spark.sql.catalyst.util.DateTimeUtils
            .instantToMicros(i), ntz = false)
        case ldt: java.time.LocalDateTime => TsLit(
          org.apache.spark.sql.catalyst.util.DateTimeUtils
            .localDateTimeToMicros(ldt), ntz = true)
        case other => return full("join_full")
      }.toSeq.distinct
    if (keys.isEmpty) {
      // dim side is empty (or all-null keys): the join is empty with
      // zero fact files read
      val empty = TableLog.read(spark, dir, version).where(lit(false))
      return (joined(empty),
        Stats("join_pruned_empty", Some(factKey), 0L, 0L, 0,
          snap.files.size))
    }
    val eq = Seq(factKey -> EqIn(keys))
    lazy val schema = tableSchemaOf(spark, dir, snap)
    val bloomOk = snap.bloomCol.contains(factKey) &&
      schema.get(factKey).exists {
        case ByteType | ShortType | IntegerType | LongType =>
          keys.forall(_.isInstanceOf[Long])
        case StringType => keys.forall(_.isInstanceOf[String])
        case _ => false
      }
    val partKeep = partitionKeep(snap, eq, schema)
    val (df0, st) =
      if (bloomOk) {
        val (df, rgo, rgt, fo, ft) = TableLog.readPointLookup(spark,
          dir, factKey, keys, version, Nil, Nil, partKeep)
        (df, Stats("join_point_lookup", Some(factKey), rgo, rgt, fo, ft))
      } else {
        val (rg, _) = toRgConstraints(eq, schema,
          java.time.ZoneId.of(
            spark.sessionState.conf.sessionLocalTimeZone))
        if (rg.isEmpty) return full("join_full")
        val (df, rgo, rgt, fo, ft) = TableLog.readRowGroupPrunedMulti(
          spark, dir, rg, version, Nil, partKeep)
        (df, Stats("join_rowgroup_in", Some(factKey), rgo, rgt, fo, ft))
      }
    (joined(df0), st)
  }

  /** UTF-8 byte-order comparison — the order parquet string stats and
    * Spark's own string comparison use (Java String compareTo disagrees
    * beyond the BMP). */
  private def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }
}
