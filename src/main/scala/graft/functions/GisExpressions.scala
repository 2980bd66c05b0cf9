package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, CodegenFallback}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.geom.{GeomLib, CrsTransform, H3Lib}

/** Catalyst expressions for the spatial operator family (SURVEY.md §2.9).
  *
  * Geometry is WKB bytes in `BinaryType` columns end-to-end (the reference's
  * at-rest contract, east_asia.py:73,250). Hot, allocation-free scalars
  * (Hilbert key, WKB shape type, grid cells, point construction) generate
  * code into whole-stage codegen via static calls into [[graft.geom.GeomLib]];
  * JTS-object operators use CodegenFallback (they allocate geometry objects
  * regardless, so interpreted dispatch is not the bottleneck).
  */

/** hilbert_encode(lat, lon) → Long. The reference's signature sort key:
  * HILBERT_ENCODE([ST_Y(centroid), ST_X(centroid)]::DOUBLE[2])
  * (east_asia.py:75-77,252-254,401-403). */
case class HilbertEncode(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(DoubleType, DoubleType)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "hilbert_encode"
  protected override def nullSafeEval(lat: Any, lon: Any): Any =
    GeomLib.hilbertEncode(lat.asInstanceOf[Number].doubleValue, lon.asInstanceOf[Number].doubleValue)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.geom.GeomLib.hilbertEncode($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** geohash_encode(lat, lon, precision) → base-32 cell id (Niemeyer's
  * public spec). Prefix-hierarchical: `geohash_encode(lat, lon, 4)` is a
  * prefix of `geohash_encode(lat, lon, 6)`, so string range scans and
  * LIKE-prefix predicates prune cells — the property the zone-map string
  * stats (k11b) already exploit. */
case class GeohashEncode(first: Expression, second: Expression,
    third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(DoubleType, DoubleType, IntegerType)
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "geohash_encode"
  protected override def nullSafeEval(lat: Any, lon: Any, p: Any): Any =
    UTF8String.fromString(GeomLib.geohashEncode(
      lat.asInstanceOf[Number].doubleValue,
      lon.asInstanceOf[Number].doubleValue,
      p.asInstanceOf[Number].intValue))
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.geom.GeomLib.geohashEncode($a, $b, $c))")
  override protected def withNewChildrenInternal(a: Expression,
      b: Expression, c: Expression): Expression =
    copy(first = a, second = b, third = c)
}

/** Shared shape of geohash_lat / geohash_lon: UTF8String in, boxed
  * Double out with null meaning "malformed geohash", mapped onto the
  * codegen null flag (the [[WkbStaticCodegen]] discipline, string
  * input). */
abstract class GeohashToDouble extends UnaryExpression
    with ImplicitCastInputTypes {
  def staticMethod: String
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("ghRes")
      s"""java.lang.Double $tmp = $staticMethod($c.toString());
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $tmp.doubleValue(); }""".stripMargin
    })
}

/** geohash_lat(hash) → cell-center latitude; null if malformed. */
case class GeohashLat(child: Expression) extends GeohashToDouble {
  override def staticMethod: String = "graft.geom.GeomLib.geohashLat"
  override def prettyName: String = "geohash_lat"
  protected override def nullSafeEval(h: Any): Any =
    GeomLib.geohashLat(h.asInstanceOf[UTF8String].toString)
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** geohash_lon(hash) → cell-center longitude; null if malformed. */
case class GeohashLon(child: Expression) extends GeohashToDouble {
  override def staticMethod: String = "graft.geom.GeomLib.geohashLon"
  override def prettyName: String = "geohash_lon"
  protected override def nullSafeEval(h: Any): Any =
    GeomLib.geohashLon(h.asInstanceOf[UTF8String].toString)
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** wkb_shape_type(geom) → Int: low byte of the WKB geometry-type word —
  * the reference's core-7 predicate input (east_asia.py:176,248). */
case class WkbShapeType(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "wkb_shape_type"
  protected override def nullSafeEval(wkb: Any): Any =
    GeomLib.wkbShapeType(wkb.asInstanceOf[Array[Byte]])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.geom.GeomLib.wkbShapeType($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** st_point(x, y) → WKB POINT (constructor for synthesized geometry). */
case class StPoint(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(DoubleType, DoubleType)
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "st_point"
  protected override def nullSafeEval(x: Any, y: Any): Any =
    GeomLib.pointWkb(x.asInstanceOf[Number].doubleValue, y.asInstanceOf[Number].doubleValue)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.geom.GeomLib.pointWkb($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** st_point_z(x, y, z) → ISO WKB POINT Z (type 1001); synthesizes the 3D
  * inputs the reference's fallback path exists for (east_asia.py:37-42). */
case class StPointZ(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(DoubleType, DoubleType, DoubleType)
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "st_point_z"
  protected override def nullSafeEval(x: Any, y: Any, z: Any): Any =
    GeomLib.pointZWkb(x.asInstanceOf[Number].doubleValue, y.asInstanceOf[Number].doubleValue, z.asInstanceOf[Number].doubleValue)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.geom.GeomLib.pointZWkb($a, $b, $c)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** st_make_square(cx, cy, half) → WKB square POLYGON around a center. */
case class StMakeSquare(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(DoubleType, DoubleType, DoubleType)
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "st_make_square"
  protected override def nullSafeEval(x: Any, y: Any, h: Any): Any =
    GeomLib.squareWkb(x.asInstanceOf[Number].doubleValue, y.asInstanceOf[Number].doubleValue, h.asInstanceOf[Number].doubleValue)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.geom.GeomLib.squareWkb($a, $b, $c)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** st_multipoint1(x, y) → WKB MULTIPOINT of one point (type 4). */
case class StMultiPoint1(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(DoubleType, DoubleType)
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "st_multipoint1"
  protected override def nullSafeEval(x: Any, y: Any): Any =
    GeomLib.multiPointWkb(x.asInstanceOf[Number].doubleValue, y.asInstanceOf[Number].doubleValue)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.geom.GeomLib.multiPointWkb($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Base for WKB→WKB unary geometry ops returning null on broken input. */
abstract class WkbToWkbExpression extends UnaryExpression
    with ImplicitCastInputTypes with WkbStaticCodegen {
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
}

/** st_centroid(geom) → WKB POINT (east_asia.py:76). */
case class StCentroid(child: Expression) extends WkbToWkbExpression {
  override def prettyName: String = "st_centroid"
  override def staticMethod: String = "graft.geom.GeomLib.centroid"
  protected override def nullSafeEval(wkb: Any): Any =
    GeomLib.centroid(wkb.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** st_flip_coordinates(geom): swap x/y (east_asia.py:261). */
case class StFlipCoordinates(child: Expression) extends WkbToWkbExpression {
  override def prettyName: String = "st_flip_coordinates"
  override def staticMethod: String = "graft.geom.GeomLib.flip"
  protected override def nullSafeEval(wkb: Any): Any =
    GeomLib.flip(wkb.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** st_force2d(geom): drop Z/M (the shapely output_dimension=2 fallback,
  * east_asia.py:66-68, subsumed per SURVEY.md F6). */
case class StForce2D(child: Expression) extends WkbToWkbExpression {
  override def prettyName: String = "st_force2d"
  override def staticMethod: String = "graft.geom.GeomLib.force2D"
  protected override def nullSafeEval(wkb: Any): Any =
    GeomLib.force2D(wkb.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Base for WKB→Double accessors (null on broken/empty input). */
abstract class WkbToDoubleExpression extends UnaryExpression
    with ImplicitCastInputTypes with WkbStaticCodegen {
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
}

case class StX(child: Expression) extends WkbToDoubleExpression {
  override def prettyName: String = "st_x"
  override def staticMethod: String = "graft.geom.GeomLib.stX"
  protected override def nullSafeEval(wkb: Any): Any = GeomLib.stX(wkb.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
case class StY(child: Expression) extends WkbToDoubleExpression {
  override def prettyName: String = "st_y"
  override def staticMethod: String = "graft.geom.GeomLib.stY"
  protected override def nullSafeEval(wkb: Any): Any = GeomLib.stY(wkb.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
case class StXMin(child: Expression) extends WkbToDoubleExpression {
  override def prettyName: String = "st_xmin"
  override def staticMethod: String = "graft.geom.GeomLib.xMin"
  protected override def nullSafeEval(wkb: Any): Any = GeomLib.xMin(wkb.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
case class StXMax(child: Expression) extends WkbToDoubleExpression {
  override def prettyName: String = "st_xmax"
  override def staticMethod: String = "graft.geom.GeomLib.xMax"
  protected override def nullSafeEval(wkb: Any): Any = GeomLib.xMax(wkb.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
case class StYMin(child: Expression) extends WkbToDoubleExpression {
  override def prettyName: String = "st_ymin"
  override def staticMethod: String = "graft.geom.GeomLib.yMin"
  protected override def nullSafeEval(wkb: Any): Any = GeomLib.yMin(wkb.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
case class StYMax(child: Expression) extends WkbToDoubleExpression {
  override def prettyName: String = "st_ymax"
  override def staticMethod: String = "graft.geom.GeomLib.yMax"
  protected override def nullSafeEval(wkb: Any): Any = GeomLib.yMax(wkb.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** st_area(geom): planar shoelace area — 0 for points/lines. */
case class StArea(child: Expression) extends WkbToDoubleExpression {
  override def prettyName: String = "st_area"
  override def staticMethod: String = "graft.geom.GeomLib.area"
  protected override def nullSafeEval(wkb: Any): Any = GeomLib.area(wkb.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** st_npoints(geom): total vertex count across parts/rings. */
case class StNPoints(child: Expression) extends UnaryExpression
    with ImplicitCastInputTypes with WkbStaticCodegen {
  override def staticMethod: String = "graft.geom.GeomLib.nPoints"
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "st_npoints"
  protected override def nullSafeEval(wkb: Any): Any =
    GeomLib.nPoints(wkb.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** st_astext(geom) → WKT string. */
case class StAsText(child: Expression) extends UnaryExpression
    with ImplicitCastInputTypes with WkbStaticCodegen {
  override def staticMethod: String = "graft.geom.GeomLib.asText"
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "st_astext"
  protected override def nullSafeEval(wkb: Any): Any = {
    val s = GeomLib.asText(wkb.asInstanceOf[Array[Byte]])
    if (s == null) null else UTF8String.fromString(s)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** st_geomfromtext(wkt) → WKB. */
case class StGeomFromText(child: Expression) extends UnaryExpression
    with CodegenFallback with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "st_geomfromtext"
  protected override def nullSafeEval(wkt: Any): Any =
    GeomLib.fromText(wkt.asInstanceOf[UTF8String].toString)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** st_geomfromgeojson(json) — RFC 7946 geometry object → WKB; null for
  * malformed JSON or non-geometry objects. */
case class StGeomFromGeoJson(child: Expression) extends UnaryExpression
    with CodegenFallback with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "st_geomfromgeojson"
  protected override def nullSafeEval(json: Any): Any = {
    val g = graft.sources.GeoJson.toGeometry(json.asInstanceOf[UTF8String].toString)
    if (g == null) null else GeomLib.write(g)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** st_asgeojson(geom) — WKB → RFC 7946 geometry object (XY only). */
case class StAsGeoJson(child: Expression) extends UnaryExpression
    with CodegenFallback with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "st_asgeojson"
  protected override def nullSafeEval(wkb: Any): Any = {
    val g = GeomLib.readOrNull(wkb.asInstanceOf[Array[Byte]])
    val s = graft.sources.GeoJson.fromGeometry(g)
    if (s == null) null else UTF8String.fromString(s)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** st_transform(geom, src_epsg, dst_epsg) — in-engine CRS reprojection
  * (replaces the reference's ogr2ogr subprocess + DuckDB ST_TRANSFORM,
  * east_asia.py:118-137,204-208). */
case class StTransform(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType, IntegerType, IntegerType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "st_transform"
  protected override def nullSafeEval(wkb: Any, src: Any, dst: Any): Any =
    CrsTransform.transformWkb(
      wkb.asInstanceOf[Array[Byte]], src.asInstanceOf[Number].intValue, dst.asInstanceOf[Number].intValue)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (wkb, src, dst) =>
      s"""${ev.value} = graft.geom.CrsTransform.transformWkb($wkb, $src, $dst);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** centroid_x(geom): fused st_x(st_centroid(geom)) — one WKB decode. */
case class CentroidX(child: Expression) extends WkbToDoubleExpression {
  override def prettyName: String = "centroid_x"
  override def staticMethod: String = "graft.geom.GeomLib.centroidX"
  protected override def nullSafeEval(wkb: Any): Any =
    GeomLib.centroidX(wkb.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** centroid_y(geom): fused st_y(st_centroid(geom)). */
case class CentroidY(child: Expression) extends WkbToDoubleExpression {
  override def prettyName: String = "centroid_y"
  override def staticMethod: String = "graft.geom.GeomLib.centroidY"
  protected override def nullSafeEval(wkb: Any): Any =
    GeomLib.centroidY(wkb.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** hilbert_of_geom(geom): fused hilbert_encode(st_y(st_centroid g),
  * st_x(st_centroid g)) — the engine's spatial clustering key in a single
  * WKB pass (the write-path hot loop). */
case class HilbertOfGeom(child: Expression) extends UnaryExpression
    with ImplicitCastInputTypes with WkbStaticCodegen {
  override def staticMethod: String = "graft.geom.GeomLib.hilbertOfGeom"
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "hilbert_of_geom"
  protected override def nullSafeEval(wkb: Any): Any =
    GeomLib.hilbertOfGeom(wkb.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** env_min_x(geom) — envelope min longitude (null for null/empty geometry);
  * the declarative spatial-join rewrite's dedup reference point. */
case class EnvMinX(child: Expression) extends WkbToDoubleExpression {
  override def prettyName: String = "env_min_x"
  override def staticMethod: String = "graft.geom.GeomLib.envMinX"
  protected override def nullSafeEval(wkb: Any): Any =
    GeomLib.envMinX(wkb.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** env_min_y(geom) — envelope min latitude. */
case class EnvMinY(child: Expression) extends WkbToDoubleExpression {
  override def prettyName: String = "env_min_y"
  override def staticMethod: String = "graft.geom.GeomLib.envMinY"
  protected override def nullSafeEval(wkb: Any): Any =
    GeomLib.envMinY(wkb.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** cells_covering_pad(geom, res, pad) — covering of the envelope expanded
  * by `pad` degrees (distance-join bucketing; empty = oversized). */
case class CellsCoveringPad(first: Expression, second: Expression,
    third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType, IntegerType, DoubleType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cells_covering_pad"
  protected override def nullSafeEval(wkb: Any, res: Any, pad: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      GeomLib.cellsCoveringPad(wkb.asInstanceOf[Array[Byte]],
        res.asInstanceOf[Number].intValue,
        pad.asInstanceOf[Number].doubleValue))
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (w, r, p) => s"graft.geom.GeomLib.cellsCoveringPadData($w, $r, $p)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): Expression = copy(first = f, second = s, third = t)
}

/** cells_covering(geom, res) → cells intersecting the envelope (spatial-join
  * polygon bucketing). */
case class CellsCovering(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cells_covering"
  protected override def nullSafeEval(wkb: Any, res: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      GeomLib.cellsCovering(wkb.asInstanceOf[Array[Byte]], res.asInstanceOf[Number].intValue))
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (w, r) => s"graft.geom.GeomLib.cellsCoveringData($w, $r)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** h3_cells_covering(geom, res) — TRUE-H3 covering of the geometry's
  * envelope (grid-disk construction, `H3Lib.cellsCoveringEnvelope`): the
  * H3-lattice polygon bucketing for the spatial join, so the join and the
  * reference's H3 heatmap share one lattice. Empty array = oversized. */
case class H3CellsCovering(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "h3_cells_covering"
  protected override def nullSafeEval(wkb: Any, res: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      GeomLib.h3CellsCovering(wkb.asInstanceOf[Array[Byte]],
        res.asInstanceOf[Number].intValue))
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (w, r) => s"graft.geom.GeomLib.h3CellsCoveringData($w, $r)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** h3_polygon_to_cells(geom, res) — TRUE-H3 polyfill with uber/h3
  * `polygonToCells` center-mode semantics: cells whose center lies inside
  * the polygon, sorted. Empty for oversized envelopes (loud, like the
  * coverings), empty/null geometry, or sub-cell polygons. */
case class H3PolygonToCells(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes with CodegenFallback {
  override def inputTypes: Seq[DataType] = Seq(BinaryType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "h3_polygon_to_cells"
  protected override def nullSafeEval(wkb: Any, res: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      GeomLib.h3PolygonToCells(wkb.asInstanceOf[Array[Byte]],
        res.asInstanceOf[Number].intValue))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** h3_grid_disk(cell, k) — every cell within grid distance k (the k-ring,
  * origin included), sorted; null for structurally invalid cell ids. */
case class H3GridDisk(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes with CodegenFallback {
  override def inputTypes: Seq[DataType] = Seq(LongType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def prettyName: String = "h3_grid_disk"
  protected override def nullSafeEval(cell: Any, k: Any): Any = {
    val c = cell.asInstanceOf[Number].longValue
    if (!H3Lib.isValidCell(c)) null
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(
      H3Lib.gridDisk(c, k.asInstanceOf[Number].intValue))
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** st_contains(outer, inner) — JTS containment (spatial-join refine step).
  * Codegen'd as one static call: join conditions and refine filters stay
  * inside the generated stage (no interpreted fallback per candidate). */
case class StContains(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "st_contains"
  protected override def nullSafeEval(a: Any, b: Any): Any =
    GeomLib.contains(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.geom.GeomLib.contains($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** st_intersects(a, b) — JTS intersection test (codegen'd static call). */
case class StIntersects(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "st_intersects"
  protected override def nullSafeEval(a: Any, b: Any): Any =
    GeomLib.intersects(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.geom.GeomLib.intersects($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** st_distance(a, b) — planar (degree-space) distance. */
case class StDistance(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "st_distance"
  protected override def nullSafeEval(a: Any, b: Any): Any =
    GeomLib.distance(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val tmp = ctx.freshName("dist")
      s"""
        java.lang.Double $tmp = graft.geom.GeomLib.distance($a, $b);
        if ($tmp == null) { ${ev.isNull} = true; }
        else { ${ev.value} = $tmp.doubleValue(); }
      """
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** st_distance_sphere(a, b) — great-circle meters between centroids on
  * the mean-Earth sphere (PostGIS ST_DistanceSphere; haversine, R =
  * 6371008.8). The reference's data is EPSG:4326 lon/lat
  * (east_asia.py:55,245-246) spanning lat 18–46°, where a longitude
  * degree is 0.70–0.95× a latitude degree — planar [[StDistance]] is the
  * wrong ruler there. */
case class StDistanceSphere(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "st_distance_sphere"
  protected override def nullSafeEval(a: Any, b: Any): Any =
    GeomLib.distanceSphere(a.asInstanceOf[Array[Byte]],
      b.asInstanceOf[Array[Byte]])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val tmp = ctx.freshName("sphdist")
      s"""
        java.lang.Double $tmp = graft.geom.GeomLib.distanceSphere($a, $b);
        if ($tmp == null) { ${ev.isNull} = true; }
        else { ${ev.value} = $tmp.doubleValue(); }
      """
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** st_length(geom) — length of lineal parts, 0 for points/polygons
  * (DuckDB/PostGIS ST_Length semantics). */
case class StLength(child: Expression) extends WkbToDoubleExpression {
  override def prettyName: String = "st_length"
  override def staticMethod: String = "graft.geom.GeomLib.length"
  protected override def nullSafeEval(wkb: Any): Any =
    GeomLib.length(wkb.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** st_perimeter(geom) — boundary length of polygonal parts, 0 otherwise. */
case class StPerimeter(child: Expression) extends WkbToDoubleExpression {
  override def prettyName: String = "st_perimeter"
  override def staticMethod: String = "graft.geom.GeomLib.perimeter"
  protected override def nullSafeEval(wkb: Any): Any =
    GeomLib.perimeter(wkb.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** st_envelope(geom) — envelope as geometry (degenerates to point/line). */
case class StEnvelopeGeom(child: Expression) extends WkbToWkbExpression {
  override def prettyName: String = "st_envelope"
  override def staticMethod: String = "graft.geom.GeomLib.envelopeGeom"
  protected override def nullSafeEval(wkb: Any): Any =
    GeomLib.envelopeGeom(wkb.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** st_convexhull(geom) — JTS convex hull. */
case class StConvexHull(child: Expression) extends WkbToWkbExpression {
  override def prettyName: String = "st_convexhull"
  override def staticMethod: String = "graft.geom.GeomLib.convexHull"
  protected override def nullSafeEval(wkb: Any): Any =
    GeomLib.convexHull(wkb.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** st_makevalid(geom) — repair invalid geometry (JTS GeometryFixer). */
case class StMakeValid(child: Expression) extends WkbToWkbExpression {
  override def prettyName: String = "st_makevalid"
  override def staticMethod: String = "graft.geom.GeomLib.makeValid"
  protected override def nullSafeEval(wkb: Any): Any =
    GeomLib.makeValid(wkb.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** st_isvalid(geom) — OGC validity; null only for undecodable bytes. */
case class StIsValid(child: Expression) extends UnaryExpression
    with ImplicitCastInputTypes with CodegenFallback {
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
  override def prettyName: String = "st_isvalid"
  protected override def nullSafeEval(wkb: Any): Any =
    GeomLib.isValid(wkb.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** st_buffer(geom, dist, quadSegs) — JTS round-join buffer; SQL arity 2
  * defaults quadSegs to 8 (the DuckDB/PostGIS default). */
case class StBuffer(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes with CodegenFallback {
  override def inputTypes: Seq[DataType] = Seq(BinaryType, DoubleType, IntegerType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "st_buffer"
  protected override def nullSafeEval(wkb: Any, d: Any, q: Any): Any =
    GeomLib.buffer(wkb.asInstanceOf[Array[Byte]],
      d.asInstanceOf[Number].doubleValue, q.asInstanceOf[Number].intValue)
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** st_simplify(geom, tolerance) — Douglas–Peucker (topology not preserved). */
case class StSimplify(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes with CodegenFallback {
  override def inputTypes: Seq[DataType] = Seq(BinaryType, DoubleType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "st_simplify"
  protected override def nullSafeEval(wkb: Any, tol: Any): Any =
    GeomLib.simplify(wkb.asInstanceOf[Array[Byte]], tol.asInstanceOf[Number].doubleValue)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Base for WKB×WKB→WKB JTS overlays (null on broken input / topology
  * failure). */
abstract class WkbOverlayExpression extends BinaryExpression
    with ImplicitCastInputTypes with CodegenFallback {
  override def inputTypes: Seq[DataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
}

case class StUnion(left: Expression, right: Expression) extends WkbOverlayExpression {
  override def prettyName: String = "st_union"
  protected override def nullSafeEval(a: Any, b: Any): Any =
    GeomLib.union(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class StIntersection(left: Expression, right: Expression) extends WkbOverlayExpression {
  override def prettyName: String = "st_intersection"
  protected override def nullSafeEval(a: Any, b: Any): Any =
    GeomLib.intersection(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class StDifference(left: Expression, right: Expression) extends WkbOverlayExpression {
  override def prettyName: String = "st_difference"
  protected override def nullSafeEval(a: Any, b: Any): Any =
    GeomLib.difference(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class StSymDifference(left: Expression, right: Expression) extends WkbOverlayExpression {
  override def prettyName: String = "st_symdifference"
  protected override def nullSafeEval(a: Any, b: Any): Any =
    GeomLib.symDifference(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** st_within(a, b) ≡ st_contains(b, a). */
case class StWithin(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "st_within"
  protected override def nullSafeEval(a: Any, b: Any): Any =
    GeomLib.within(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.geom.GeomLib.within($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** st_dwithin(a, b, d) — proximity within distance d (envelope
  * short-circuit via JTS isWithinDistance). */
case class StDWithin(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType, BinaryType, DoubleType)
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "st_dwithin"
  protected override def nullSafeEval(a: Any, b: Any, d: Any): Any =
    GeomLib.dwithin(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]],
      d.asInstanceOf[Number].doubleValue)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b, d) => s"graft.geom.GeomLib.dwithin($a, $b, $d)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** st_area_sphere(geom) — polygon area in m² on the mean-Earth sphere
  * (shells − holes; 0 for non-areal geometry). Planar [[StArea]] returns
  * square DEGREES on 4326 data — the wrong unit for the reference's
  * building-footprint corpus. */
case class StAreaSphere(child: Expression) extends WkbToDoubleExpression {
  override def prettyName: String = "st_area_sphere"
  override def staticMethod: String = "graft.geom.GeomLib.areaSphere"
  protected override def nullSafeEval(wkb: Any): Any =
    GeomLib.areaSphere(wkb.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** st_perimeter_sphere(geom) — great-circle meters around polygon rings. */
case class StPerimeterSphere(child: Expression) extends WkbToDoubleExpression {
  override def prettyName: String = "st_perimeter_sphere"
  override def staticMethod: String = "graft.geom.GeomLib.perimeterSphere"
  protected override def nullSafeEval(wkb: Any): Any =
    GeomLib.perimeterSphere(wkb.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** st_length_sphere(geom) — great-circle meters along lineal parts. */
case class StLengthSphere(child: Expression) extends WkbToDoubleExpression {
  override def prettyName: String = "st_length_sphere"
  override def staticMethod: String = "graft.geom.GeomLib.lengthSphere"
  protected override def nullSafeEval(wkb: Any): Any =
    GeomLib.lengthSphere(wkb.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** st_dwithin_sphere(a, b, meters) — great-circle proximity on the
  * mean-Earth sphere (centroid haversine ≤ meters; R = 6371008.8).
  * [[graft.functions.SpatialJoinRewrite]] decomposes a join on this
  * predicate into the lat-band grid equi-join, so the declarative form
  * scales like [[graft.operators.SpatialJoin.distanceJoinGeodetic]]. */
case class StDWithinSphere(first: Expression, second: Expression,
    third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType, BinaryType, DoubleType)
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "st_dwithin_sphere"
  protected override def nullSafeEval(a: Any, b: Any, d: Any): Any =
    GeomLib.dwithinSphere(a.asInstanceOf[Array[Byte]],
      b.asInstanceOf[Array[Byte]], d.asInstanceOf[Number].doubleValue)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b, d) => s"graft.geom.GeomLib.dwithinSphere($a, $b, $d)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** grid_cell(lon, lat, res) → hierarchical cell id — capability twin of
  * H3_LATLNG_TO_CELL(lat, lng, res) (East-Asia-Building-Footprints.md:250-252;
  * substitution documented in SURVEY.md §7.5). */
case class GridCell(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(DoubleType, DoubleType, IntegerType)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "grid_cell"
  protected override def nullSafeEval(lon: Any, lat: Any, res: Any): Any =
    GeomLib.cellEncode(lon.asInstanceOf[Number].doubleValue, lat.asInstanceOf[Number].doubleValue, res.asInstanceOf[Number].intValue)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.geom.GeomLib.cellEncode($a, $b, $c)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** grid_cell_boundary_wkt(cell) — twin of H3_CELL_TO_BOUNDARY_WKT
  * (East-Asia-Building-Footprints.md:264). */
case class GridCellBoundaryWkt(child: Expression) extends UnaryExpression
    with CodegenFallback with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "grid_cell_boundary_wkt"
  protected override def nullSafeEval(cell: Any): Any =
    UTF8String.fromString(GeomLib.cellBoundaryWkt(cell.asInstanceOf[Number].longValue))
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** grid_cell_center_lon(cell) — centroid longitude of a cell (anti-meridian
  * band filter, East-Asia-Building-Footprints.md:267-268). */
case class GridCellCenterLon(child: Expression) extends UnaryExpression
 with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "grid_cell_center_lon"
  protected override def nullSafeEval(cell: Any): Any =
    GeomLib.cellCenterLon(cell.asInstanceOf[Number].longValue)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.geom.GeomLib.cellCenterLon($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** h3_latlng_to_cell(lat, lng, res) — TRUE H3 cell id, interchangeable with
  * user-held H3 data; argument order matches H3_LATLNG_TO_CELL(lat, lng, res)
  * (East-Asia-Building-Footprints.md:250-252). `graft.geom.H3Lib` is a
  * from-scratch port of the published uber/h3 algorithm. */
case class H3LatLngToCell(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(DoubleType, DoubleType, IntegerType)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "h3_latlng_to_cell"
  protected override def nullSafeEval(lat: Any, lng: Any, res: Any): Any =
    H3Lib.latLngToCell(lat.asInstanceOf[Number].doubleValue,
      lng.asInstanceOf[Number].doubleValue, res.asInstanceOf[Number].intValue)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.geom.H3Lib.latLngToCell($a, $b, $c)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** h3_of_geom(geom, res): fused h3_latlng_to_cell(st_y(st_centroid g),
  * st_x(st_centroid g), res) — the H3-lattice join/heatmap key in a single
  * WKB pass (the [[HilbertOfGeom]] pattern; the separate centroid_y /
  * centroid_x form decodes the WKB twice, the dominant point-side cost). */
case class H3OfGeom(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType, IntegerType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "h3_of_geom"
  protected override def nullSafeEval(wkb: Any, res: Any): Any =
    GeomLib.h3OfGeom(wkb.asInstanceOf[Array[Byte]], res.asInstanceOf[Number].intValue)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (g, r) => {
      val tmp = ctx.freshName("h3Geo")
      s"""
        java.lang.Long $tmp = graft.geom.GeomLib.h3OfGeom($g, $r);
        if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp.longValue(); }
      """
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** h3_cell_to_boundary_wkt(cell) — twin of H3_CELL_TO_BOUNDARY_WKT
  * (East-Asia-Building-Footprints.md:264). */
case class H3CellToBoundaryWkt(child: Expression) extends UnaryExpression
    with CodegenFallback with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def prettyName: String = "h3_cell_to_boundary_wkt"
  protected override def nullSafeEval(cell: Any): Any = {
    val c = cell.asInstanceOf[Number].longValue
    // corrupt ids (base cell >= 122, digit 7 mid-path) would index out of
    // the face tables and fail the whole query; yield null for the bad row
    if (!H3Lib.isValidCell(c)) null
    else UTF8String.fromString(H3Lib.cellToBoundaryWkt(c))
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** h3_cell_center_lon(cell) / h3_cell_center_lat(cell) — cell centroid
  * coordinates (the heatmap export's anti-meridian filter,
  * East-Asia-Building-Footprints.md:267-268). */
case class H3CellCenterLon(child: Expression) extends UnaryExpression
    with CodegenFallback with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def prettyName: String = "h3_cell_center_lon"
  protected override def nullSafeEval(cell: Any): Any = {
    val c = cell.asInstanceOf[Number].longValue
    if (!H3Lib.isValidCell(c)) null else H3Lib.cellToLatLng(c)._2
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class H3CellCenterLat(child: Expression) extends UnaryExpression
    with CodegenFallback with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def prettyName: String = "h3_cell_center_lat"
  protected override def nullSafeEval(cell: Any): Any = {
    val c = cell.asInstanceOf[Number].longValue
    if (!H3Lib.isValidCell(c)) null else H3Lib.cellToLatLng(c)._1
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** h3_cell_to_parent(cell, parentRes) — coarser ancestor cell
  * (truncate digits; the standard H3 hierarchy roll-up). */
case class H3CellToParent(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType, IntegerType)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "h3_cell_to_parent"
  protected override def nullSafeEval(cell: Any, res: Any): Any =
    H3Lib.cellToParent(cell.asInstanceOf[Number].longValue,
      res.asInstanceOf[Number].intValue)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.geom.H3Lib.cellToParent($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** h3_cell_to_children(cell, res) — all descendants at `res`, sorted; null
  * for a structurally invalid cell or res outside [cellRes, 15]. */
case class H3CellToChildren(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes with CodegenFallback {
  override def inputTypes: Seq[DataType] = Seq(LongType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def prettyName: String = "h3_cell_to_children"
  protected override def nullSafeEval(cell: Any, res: Any): Any = {
    val out = H3Lib.cellToChildren(cell.asInstanceOf[Number].longValue,
      res.asInstanceOf[Number].intValue)
    if (out.isEmpty) null
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** h3_compact_cells(cells) — coarsest equivalent representation of a cell
  * set (h3api:compactCells); null when any input cell is invalid. */
case class H3CompactCells(child: Expression) extends UnaryExpression
    with ImplicitCastInputTypes with CodegenFallback {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def prettyName: String = "h3_compact_cells"
  protected override def nullSafeEval(cells: Any): Any = {
    val arr = cells.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toLongArray()
    if (arr.exists(!H3Lib.isValidCell(_))) null
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(
      H3Lib.compactCells(arr))
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** h3_uncompact_cells(cells, res) — expand to the res-`res` descendants;
  * null when any input is invalid or finer than `res`. */
case class H3UncompactCells(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes with CodegenFallback {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType), IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def prettyName: String = "h3_uncompact_cells"
  protected override def nullSafeEval(cells: Any, res: Any): Any = {
    val arr = cells.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toLongArray()
    val out = H3Lib.uncompactCells(arr, res.asInstanceOf[Number].intValue)
    if (out.isEmpty && arr.nonEmpty) null
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** h3_is_valid_cell(cell) — structural validity of an H3 index. */
case class H3IsValidCell(child: Expression) extends UnaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "h3_is_valid_cell"
  protected override def nullSafeEval(cell: Any): Any =
    H3Lib.isValidCell(cell.asInstanceOf[Number].longValue)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.geom.H3Lib.isValidCell($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** h3_get_resolution(cell) — resolution bits; null for invalid cells. */
case class H3GetResolution(child: Expression) extends UnaryExpression
    with ImplicitCastInputTypes with CodegenFallback {
  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "h3_get_resolution"
  protected override def nullSafeEval(cell: Any): Any = {
    val c = cell.asInstanceOf[Number].longValue
    if (!H3Lib.isValidCell(c)) null else H3Lib.getResolution(c)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** h3_is_pentagon(cell) — true for the 12 pentagon-rooted cells per res;
  * null for invalid cells. */
case class H3IsPentagon(child: Expression) extends UnaryExpression
    with ImplicitCastInputTypes with CodegenFallback {
  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
  override def prettyName: String = "h3_is_pentagon"
  protected override def nullSafeEval(cell: Any): Any = {
    val c = cell.asInstanceOf[Number].longValue
    if (!H3Lib.isValidCell(c)) null else H3Lib.isPentagon(c)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** h3_grid_distance(a, b) — minimum grid steps between same-res cells
  * (h3api:gridDistance; ring-BFS form). Null where the distance is
  * undefined: invalid cells, mixed resolutions, or beyond the search
  * horizon — the cases uber/h3 reports as errors. */
case class H3GridDistance(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes with CodegenFallback {
  override def inputTypes: Seq[DataType] = Seq(LongType, LongType)
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "h3_grid_distance"
  protected override def nullSafeEval(a: Any, b: Any): Any = {
    val d = H3Lib.gridDistance(
      a.asInstanceOf[Number].longValue, b.asInstanceOf[Number].longValue)
    if (d < 0) null else d
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
