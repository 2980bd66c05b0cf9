package graft.geom

/** H3 cell index math (latLngToCell / cellToLatLng / cellToBoundary),
  * re-implemented from the published H3 algorithm (uber/h3, Apache-2.0) so
  * cell ids interchange with user-held H3 data — the reference's heatmap is
  * H3 res 7 (`East-Asia-Building-Footprints.md:250-252`) and renders cells
  * via `H3_CELL_TO_BOUNDARY_WKT` (`:264-268`).
  *
  * Design note: uber/h3 drives face→base-cell lookup from a hand-written
  * 20×3×3×3 table (`faceIjkBaseCells`). Here that table is RECONSTRUCTED at
  * class-init from the 122-entry base-cell home registry plus the icosahedron
  * geometry: each face slot's sphere point must coincide (≤1e-9 rad) with
  * exactly one base cell's home center, and the per-slot digit rotation is
  * measured from probe points and must land on a multiple of 60°. Any error
  * in the transcribed registry therefore fails loudly at init (duplicate or
  * orphan slots) instead of silently mis-numbering cells. The H3Spec anchors
  * (known published cell ids) pin the absolute numbering.
  *
  * All angles in radians internally; public API takes degrees.
  */
object H3Lib {

  // ---------------------------------------------------------------- consts
  private val EPS = 1e-16
  private val SQRT7 = 2.6457513110645905905016157536392604257102
  // gnomonic scale of the res-0 unit length (1/φ² — golden ratio squared)
  private val RES0_U_GNOMONIC = 0.38196601125010500003
  private val SIN60 = math.sqrt(3.0) / 2.0
  // rotation between Class II and Class III grids: asin(sqrt(3/28))
  private val AP7_ROT_RADS = math.asin(math.sqrt(3.0 / 28.0))
  private val MAX_RES = 15

  /** Icosahedron face centers (lat, lng in rads) — faceijk.c:faceCenterGeo.
    * Self-check: faces pair antipodally (0↔17, 1↔18, 2↔19, 3↔15, 4↔16,
    * 5↔12, 6↔13, 7↔14, 8↔10, 9↔11), asserted in H3Spec. */
  private val faceCenterGeo: Array[(Double, Double)] = Array(
    (0.803582649718989942, 1.248397419617396099),   // 0
    (1.307747883455638156, 2.536945009877921159),   // 1
    (1.054751253523952054, -1.347517358900396623),  // 2
    (0.600191595538186799, -0.450603909469755746),  // 3
    (0.491715428198773866, 0.401988202911306943),   // 4
    (0.172745327415618701, 1.678146885280433686),   // 5
    (0.605929321571350690, 2.953923329812411617),   // 6
    (0.427370518328979641, -1.888876200336285401),  // 7
    (-0.079066118549212831, -0.733429513380867741), // 8
    (-0.230961644455383637, 0.506495587332349035),  // 9
    (0.079066118549212831, 2.408163140208925497),   // 10
    (0.230961644455383637, -2.635097066257444203),  // 11
    (-0.172745327415618701, -1.463445768309359553), // 12
    (-0.605929321571350690, -0.187669323777381622), // 13
    (-0.427370518328979641, 1.252716453253507838),  // 14
    (-0.600191595538186799, 2.690988744120037492),  // 15
    (-0.491715428198773866, -2.739604450678486295), // 16
    (-0.803582649718989942, -1.893195233972397139), // 17
    (-1.307747883455638156, -0.604647643711872080), // 18
    (-1.054751253523952054, 1.794075294689396615))  // 19

  /** Azimuth from each face center to its Class II i-axis
    * (faceijk.c:faceAxesAzRadsCII column 0); the j/k axes are +120°/+240°. */
  private val faceAxesAz0: Array[Double] = Array(
    5.619958268523939882, // 0
    5.760339081714187279, // 1
    0.780213654393430055, // 2
    0.430469363979999913, // 3
    6.130269123335111400, // 4
    2.692877706530642877, // 5
    2.982963003477243874, // 6
    3.532912002790141181, // 7
    3.494305004259568154, // 8
    3.003214169499538391, // 9
    5.930472956509811562, // 10
    0.138378484090254847, // 11
    0.448714947059150361, // 12
    0.158629650112549365, // 13
    5.891865957979238535, // 14
    2.711123289609793325, // 15
    3.294508837434268316, // 16
    3.804819692245439833, // 17
    3.664438879055192436, // 18
    2.361378999196363184) // 19

  /** Base cell home registry (baseCells.c:baseCellData): home face, home
    * normalized ijk at res 0, pentagon flag, and for pentagons the two faces
    * with a clockwise axes offset. Geometric cross-validation at init. */
  private val baseCellHome: Array[(Int, Int, Int, Int)] = Array(
    (1, 1, 0, 0), (2, 1, 1, 0), (1, 0, 0, 0), (2, 1, 0, 0), (0, 2, 0, 0),
    (1, 1, 1, 0), (1, 0, 0, 1), (2, 0, 0, 0), (0, 1, 0, 0), (2, 0, 1, 0),
    (1, 0, 1, 0), (1, 0, 1, 1), (3, 1, 0, 0), (3, 1, 1, 0), (11, 2, 0, 0),
    (4, 1, 0, 0), (0, 0, 0, 0), (6, 0, 1, 0), (0, 0, 0, 1), (2, 0, 1, 1),
    (7, 0, 0, 1), (2, 0, 0, 1), (0, 1, 1, 0), (6, 0, 0, 1), (10, 2, 0, 0),
    (6, 0, 0, 0), (3, 0, 0, 0), (11, 1, 0, 0), (4, 1, 1, 0), (3, 0, 1, 0),
    (0, 0, 1, 1), (4, 0, 0, 0), (5, 0, 1, 0), (0, 0, 1, 0), (7, 0, 1, 0),
    (11, 1, 1, 0), (7, 0, 0, 0), (10, 1, 0, 0), (12, 2, 0, 0), (6, 1, 0, 1),
    (7, 1, 0, 1), (4, 0, 0, 1), (3, 0, 0, 1), (3, 0, 1, 1), (4, 0, 1, 0),
    (6, 1, 0, 0), (11, 0, 0, 0), (8, 0, 0, 1), (5, 0, 0, 1), (14, 2, 0, 0),
    (5, 0, 0, 0), (12, 1, 0, 0), (10, 1, 1, 0), (4, 0, 1, 1), (12, 1, 1, 0),
    (7, 1, 0, 0), (11, 0, 1, 0), (10, 0, 0, 0), (13, 2, 0, 0), (10, 0, 0, 1),
    (11, 0, 0, 1), (9, 0, 1, 0), (8, 0, 1, 0), (6, 2, 0, 0), (8, 0, 0, 0),
    (9, 0, 0, 1), (14, 1, 0, 0), (5, 1, 0, 1), (16, 0, 1, 1), (8, 1, 0, 1),
    (5, 1, 0, 0), (12, 0, 0, 0), (7, 2, 0, 0), (12, 0, 1, 0), (10, 0, 1, 0),
    (9, 0, 0, 0), (13, 1, 0, 0), (16, 0, 0, 1), (15, 0, 1, 1), (15, 0, 1, 0),
    (16, 0, 1, 0), (14, 1, 1, 0), (13, 1, 1, 0), (5, 2, 0, 0), (8, 1, 0, 0),
    (14, 0, 0, 0), (9, 1, 0, 1), (14, 0, 0, 1), (17, 0, 0, 1), (12, 0, 0, 1),
    (16, 0, 0, 0), (17, 0, 1, 1), (15, 0, 0, 1), (16, 1, 0, 1), (9, 1, 0, 0),
    (15, 0, 0, 0), (13, 0, 0, 0), (8, 2, 0, 0), (13, 0, 1, 0), (17, 1, 0, 1),
    (19, 0, 1, 0), (14, 0, 1, 0), (19, 0, 1, 1), (17, 0, 1, 0), (13, 0, 0, 1),
    (17, 0, 0, 0), (16, 1, 0, 0), (9, 2, 0, 0), (15, 1, 0, 1), (15, 1, 0, 0),
    (18, 0, 1, 1), (18, 0, 0, 1), (19, 0, 0, 1), (17, 1, 0, 0), (19, 0, 0, 0),
    (18, 0, 1, 0), (18, 1, 0, 1), (19, 2, 0, 0), (19, 1, 0, 0), (18, 0, 0, 0),
    (19, 1, 0, 1), (18, 1, 0, 0))

  private val pentagonCells: Set[Int] =
    Set(4, 14, 24, 38, 49, 58, 63, 72, 83, 97, 107, 117)
  // hot-path twin of pentagonCells: a primitive-indexed test (Set[Int]
  // boxes the probe on every latLngToCell call)
  private val isPentagonCell: Array[Boolean] =
    Array.tabulate(122)(pentagonCells.contains)

  /** Face neighbor orientation (faceijk.c:faceNeighbors): for each face, the
    * adjacent face across the IJ/KI/JK quadrant plus the ccw-60° rotation
    * count and the translation vector (in res-0 units; scaled per res).
    * Validated geometrically at init (see validateFaceNeighbors). */
  // quadrant order: 0=center, 1=IJ, 2=KI, 3=JK; entry = (face, ti,tj,tk, rot)
  private val faceNeighbors: Array[Array[(Int, Int, Int, Int, Int)]] = {
    // cap faces (0-4 top, 15-19 bottom): ij→(2,0,2) rot 1, ki→(2,2,0) rot 5
    def cap(f: Int, ij: Int, ki: Int, jk: Int) = Array(
      (f, 0, 0, 0, 0), (ij, 2, 0, 2, 1), (ki, 2, 2, 0, 5), (jk, 0, 2, 2, 3))
    // belt faces (5-14): translate vectors SWAPPED vs caps, all rot 3
    def belt(f: Int, ij: Int, ki: Int, jk: Int) = Array(
      (f, 0, 0, 0, 0), (ij, 2, 2, 0, 3), (ki, 2, 0, 2, 3), (jk, 0, 2, 2, 3))
    Array(
      cap(0, 4, 1, 5), cap(1, 0, 2, 6), cap(2, 1, 3, 7),
      cap(3, 2, 4, 8), cap(4, 3, 0, 9),
      belt(5, 10, 14, 0), belt(6, 11, 10, 1), belt(7, 12, 11, 2),
      belt(8, 13, 12, 3), belt(9, 14, 13, 4),
      belt(10, 5, 6, 15), belt(11, 6, 7, 16), belt(12, 7, 8, 17),
      belt(13, 8, 9, 18), belt(14, 9, 5, 19),
      cap(15, 16, 19, 10), cap(16, 17, 15, 11), cap(17, 18, 16, 12),
      cap(18, 19, 17, 13), cap(19, 15, 18, 14))
  }
  private val IJ = 1; private val KI = 2; private val JK = 3

  // adjacentFaceDir(f)(g) = quadrant of g as seen from f, or -1
  private val adjacentFaceDir: Array[Array[Int]] = {
    val m = Array.fill(20, 20)(-1)
    for (f <- 0 until 20; q <- 1 to 3) m(f)(faceNeighbors(f)(q)._1) = q
    m
  }

  // ------------------------------------------------------------ geo helpers
  private def posAngle(a: Double): Double = {
    var x = a
    while (x < 0) x += 2 * math.Pi
    while (x >= 2 * math.Pi) x -= 2 * math.Pi
    x
  }
  private def constrainLng(l: Double): Double = {
    var x = l
    while (x > math.Pi) x -= 2 * math.Pi
    while (x < -math.Pi) x += 2 * math.Pi
    x
  }

  private def geoAzimuth(lat1: Double, lng1: Double, lat2: Double, lng2: Double): Double =
    math.atan2(
      math.cos(lat2) * math.sin(lng2 - lng1),
      math.cos(lat1) * math.sin(lat2) -
        math.sin(lat1) * math.cos(lat2) * math.cos(lng2 - lng1))

  /** Destination point at (azimuth, angular distance) from p — spherical. */
  private def geoAzDistance(lat: Double, lng: Double, azIn: Double,
      dist: Double): (Double, Double) = {
    if (dist < EPS) return (lat, lng)
    val az = posAngle(azIn)
    if (az < EPS || math.abs(az - math.Pi) < EPS) { // due north/south
      val lat2 = if (az < EPS) lat + dist else lat - dist
      if (math.abs(lat2 - math.Pi / 2) < EPS) (math.Pi / 2, 0.0)
      else if (math.abs(lat2 + math.Pi / 2) < EPS) (-math.Pi / 2, 0.0)
      else (lat2, constrainLng(lng))
    } else {
      val sinlat = math.max(-1.0, math.min(1.0,
        math.sin(lat) * math.cos(dist) +
          math.cos(lat) * math.sin(dist) * math.cos(az)))
      val lat2 = math.asin(sinlat)
      if (math.abs(lat2 - math.Pi / 2) < EPS) (math.Pi / 2, 0.0)
      else if (math.abs(lat2 + math.Pi / 2) < EPS) (-math.Pi / 2, 0.0)
      else {
        val sinlng = math.max(-1.0, math.min(1.0,
          math.sin(az) * math.sin(dist) / math.cos(lat2)))
        val coslng = math.max(-1.0, math.min(1.0,
          (math.cos(dist) - math.sin(lat) * sinlat) /
            math.cos(lat) / math.cos(lat2)))
        (lat2, constrainLng(lng + math.atan2(sinlng, coslng)))
      }
    }
  }

  // unit 3-vectors of the face centers
  private val faceCenterXyz: Array[(Double, Double, Double)] =
    faceCenterGeo.map { case (lat, lng) =>
      (math.cos(lat) * math.cos(lng), math.cos(lat) * math.sin(lng), math.sin(lat))
    }

  private def nearestFace(lat: Double, lng: Double): (Int, Double) = {
    val x = math.cos(lat) * math.cos(lng)
    val y = math.cos(lat) * math.sin(lng)
    val z = math.sin(lat)
    var best = 0; var bestSqd = 5.0
    var f = 0
    while (f < 20) {
      val c = faceCenterXyz(f)
      val dx = x - c._1; val dy = y - c._2; val dz = z - c._3
      val sqd = dx * dx + dy * dy + dz * dz
      if (sqd < bestSqd) { bestSqd = sqd; best = f }
      f += 1
    }
    (best, bestSqd)
  }

  // --------------------------------------------------------------- CoordIJK
  // ijk stored as 3 ints in an Array; all ops in place where possible
  private def ijkNormalize(c: Array[Int]): Unit = {
    if (c(0) < 0) { c(1) -= c(0); c(2) -= c(0); c(0) = 0 }
    if (c(1) < 0) { c(0) -= c(1); c(2) -= c(1); c(1) = 0 }
    if (c(2) < 0) { c(0) -= c(2); c(1) -= c(2); c(2) = 0 }
    var min = c(0)
    if (c(1) < min) min = c(1)
    if (c(2) < min) min = c(2)
    if (min > 0) { c(0) -= min; c(1) -= min; c(2) -= min }
  }

  private def ijkMatrix(c: Array[Int], i0: Int, i1: Int, i2: Int,
      j0: Int, j1: Int, j2: Int, k0: Int, k1: Int, k2: Int): Unit = {
    val i = c(0) * i0 + c(1) * j0 + c(2) * k0
    val j = c(0) * i1 + c(1) * j1 + c(2) * k1
    val k = c(0) * i2 + c(1) * j2 + c(2) * k2
    c(0) = i; c(1) = j; c(2) = k
    ijkNormalize(c)
  }

  private def rotate60ccw(c: Array[Int]): Unit =
    ijkMatrix(c, 1, 1, 0, 0, 1, 1, 1, 0, 1)
  private def rotate60cw(c: Array[Int]): Unit =
    ijkMatrix(c, 1, 0, 1, 1, 1, 0, 0, 1, 1)
  private def downAp7(c: Array[Int]): Unit =
    ijkMatrix(c, 3, 0, 1, 1, 3, 0, 0, 1, 3)
  private def downAp7r(c: Array[Int]): Unit =
    ijkMatrix(c, 3, 1, 0, 0, 3, 1, 1, 0, 3)
  private def downAp3(c: Array[Int]): Unit =
    ijkMatrix(c, 2, 0, 1, 1, 2, 0, 0, 1, 2)
  private def downAp3r(c: Array[Int]): Unit =
    ijkMatrix(c, 2, 1, 0, 0, 2, 1, 1, 0, 2)

  private def upAp7(c: Array[Int]): Unit = {
    val i = c(0) - c(2); val j = c(1) - c(2)
    c(0) = math.round((3 * i - j) / 7.0).toInt
    c(1) = math.round((i + 2 * j) / 7.0).toInt
    c(2) = 0
    ijkNormalize(c)
  }
  private def upAp7r(c: Array[Int]): Unit = {
    val i = c(0) - c(2); val j = c(1) - c(2)
    c(0) = math.round((2 * i + j) / 7.0).toInt
    c(1) = math.round((3 * j - i) / 7.0).toInt
    c(2) = 0
    ijkNormalize(c)
  }

  // digit unit vectors: 0 center, 1 K, 2 J, 3 JK, 4 I, 5 IK, 6 IJ
  private val unitVecs: Array[Array[Int]] = Array(
    Array(0, 0, 0), Array(0, 0, 1), Array(0, 1, 0), Array(0, 1, 1),
    Array(1, 0, 0), Array(1, 0, 1), Array(1, 1, 0))

  private def unitIjkToDigit(c: Array[Int]): Int = {
    var d = 0
    while (d < 7) {
      if (c(0) == unitVecs(d)(0) && c(1) == unitVecs(d)(1) && c(2) == unitVecs(d)(2))
        return d
      d += 1
    }
    -1
  }

  private def neighbor(c: Array[Int], digit: Int): Unit = {
    if (digit > 0 && digit < 7) {
      c(0) += unitVecs(digit)(0); c(1) += unitVecs(digit)(1); c(2) += unitVecs(digit)(2)
      ijkNormalize(c)
    }
  }

  // digit rotation cycles: ccw 1→5→4→6→2→3→1
  private val digitRotCcw = Array(0, 5, 3, 1, 6, 4, 2)
  private val digitRotCw = Array(0, 3, 6, 2, 5, 1, 4)

  private def ijkToHex2d(c: Array[Int]): (Double, Double) = {
    val i = c(0) - c(2); val j = c(1) - c(2)
    (i - 0.5 * j, j * SIN60)
  }

  /** Hexagon-center rounding of continuous hex2d coords to CoordIJK
    * (coordijk.c:_hex2dToCoordIJK). */
  private def hex2dToCoordIJK(x: Double, y: Double): Array[Int] = {
    val c = new Array[Int](3)
    val a1 = math.abs(x); val a2 = math.abs(y)
    val x2 = a2 / SIN60
    val x1 = a1 + x2 / 2.0
    val m1 = x1.toInt; val m2 = x2.toInt
    val r1 = x1 - m1; val r2 = x2 - m2
    var i = 0L; var j = 0L
    if (r1 < 0.5) {
      if (r1 < 1.0 / 3.0) {
        if (r2 < (1.0 + r1) / 2.0) { i = m1; j = m2 }
        else { i = m1; j = m2 + 1 }
      } else {
        j = if (r2 < (1.0 - r1)) m2 else m2 + 1
        i = if ((1.0 - r1) <= r2 && r2 < (2.0 * r1)) m1 + 1 else m1
      }
    } else {
      if (r1 < 2.0 / 3.0) {
        j = if (r2 < (1.0 - r1)) m2 else m2 + 1
        i = if ((2.0 * r1 - 1.0) < r2 && r2 < (1.0 - r1)) m1 else m1 + 1
      } else {
        if (r2 < (r1 / 2.0)) { i = m1 + 1; j = m2 }
        else { i = m1 + 1; j = m2 + 1 }
      }
    }
    // fold across axes for negative x/y
    if (x < 0.0) {
      if (j % 2 == 0) { val axisi = j / 2; val diff = i - axisi; i = i - 2 * diff }
      else { val axisi = (j + 1) / 2; val diff = i - axisi; i = i - (2 * diff + 1) }
    }
    if (y < 0.0) { i = i - (2 * j + 1) / 2; j = -j }
    c(0) = i.toInt; c(1) = j.toInt; c(2) = 0
    ijkNormalize(c)
    c
  }

  // --------------------------------------------------------- geo <-> FaceIJK
  private def isClassIII(res: Int): Boolean = (res & 1) == 1

  /** (lat,lng) rads → (face, hex2d x, y) at res (faceijk.c:_geoToHex2d). */
  private def geoToHex2d(lat: Double, lng: Double, res: Int): (Int, Double, Double) = {
    val xy = new Array[Double](2)
    val face = geoToHex2dInto(lat, lng, res, xy)
    (face, xy(0), xy(1))
  }

  /** Allocation-light form of [[geoToHex2d]] for the per-row encode path:
    * writes (x, y) into `xy` and returns the face — no Tuple3/Double boxes
    * on the hot loop. */
  private def geoToHex2dInto(lat: Double, lng: Double, res: Int,
      xy: Array[Double]): Int = {
    val (face, sqd) = nearestFace(lat, lng)
    var r = math.acos(math.max(-1.0, math.min(1.0, 1.0 - sqd / 2.0)))
    if (r < EPS) { xy(0) = 0.0; xy(1) = 0.0; return face }
    val (fLat, fLng) = faceCenterGeo(face)
    var theta = posAngle(faceAxesAz0(face) - posAngle(geoAzimuth(fLat, fLng, lat, lng)))
    if (isClassIII(res)) theta = posAngle(theta - AP7_ROT_RADS)
    r = math.tan(r) / RES0_U_GNOMONIC
    var i = 0
    while (i < res) { r *= SQRT7; i += 1 }
    xy(0) = r * math.cos(theta)
    xy(1) = r * math.sin(theta)
    face
  }

  /** hex2d on a face (possibly substrate grid) → (lat,lng) rads. */
  private def hex2dToGeo(x: Double, y: Double, face: Int, res: Int,
      substrate: Boolean): (Double, Double) = {
    var r = math.sqrt(x * x + y * y)
    if (r < EPS) return faceCenterGeo(face)
    var theta = math.atan2(y, x)
    var i = 0
    while (i < res) { r /= SQRT7; i += 1 }
    if (substrate) {
      r /= 3.0
      if (isClassIII(res)) r /= SQRT7
    }
    r *= RES0_U_GNOMONIC
    r = math.atan(r)
    if (!substrate && isClassIII(res)) theta = posAngle(theta + AP7_ROT_RADS)
    theta = posAngle(faceAxesAz0(face) - theta)
    val (fLat, fLng) = faceCenterGeo(face)
    geoAzDistance(fLat, fLng, theta, r)
  }

  // ------------------------------------------------- reconstructed lookups
  /** Sphere point of res-0 CoordIJK (i,j,k) on a face. */
  private def res0SlotGeo(face: Int, i: Int, j: Int, k: Int): (Double, Double) = {
    val (x, y) = ijkToHex2d(Array(i, j, k))
    hex2dToGeo(x, y, face, 0, substrate = false)
  }

  private def sphereDist(a: (Double, Double), b: (Double, Double)): Double = {
    val (lat1, lng1) = a; val (lat2, lng2) = b
    val s = math.sin(lat1) * math.sin(lat2) +
      math.cos(lat1) * math.cos(lat2) * math.cos(lng2 - lng1)
    math.acos(math.max(-1.0, math.min(1.0, s)))
  }

  // base cell centers from the home registry
  private val baseCellCenter: Array[(Double, Double)] =
    baseCellHome.map { case (f, i, j, k) => res0SlotGeo(f, i, j, k) }

  /** slotBaseCell(face)(i)(j)(k) = base cell whose center coincides with the
    * slot point; slotRot = ccw-60° digit rotations from this face's system
    * to the base cell's canonical (home-face) system; slotKCw = for pentagon
    * slots, whether this face carries a clockwise offset of the pentagon's
    * deleted k-axis subsequence (baseCells.c cwOffsetPent). ALL RECONSTRUCTED,
    * not transcribed: cell ownership by center coincidence, rotation and
    * k-offset by a semantic search — the unique combination under which
    * sample points in the slot's region encode to an index whose table-free
    * decoded center comes back within a cell radius. See object Scaladoc.
    * Lazy: the search calls the encoder, which reads consts declared across
    * this object — plain-val ordering would read them as zero. */
  private lazy val (slotBaseCell, slotRot, slotKCw) = buildSlotTables()

  private def buildSlotTables(): (Array[Array[Array[Array[Int]]]],
      Array[Array[Array[Array[Int]]]], Array[Array[Array[Array[Boolean]]]]) = {
    val cells = Array.fill(20, 3, 3, 3)(-1)
    val rots = Array.fill(20, 3, 3, 3)(0)
    val kcw = Array.fill(20, 3, 3, 3)(false)
    val owned = Array.fill(122)(false)
    for (f <- 0 until 20; i <- 0 to 2; j <- 0 to 2; k <- 0 to 2) {
      val p = res0SlotGeo(f, i, j, k)
      // slots inside the face triangle (i+j+k ≤ 2 in normalized ijk+) project
      // EXACTLY onto a base cell center; slots beyond the triangle edge are
      // cells owned by a neighboring face's projection, displaced by gnomonic
      // distortion — there the owner is the decisively-nearest center (and
      // the round-trip search below catches any mis-assignment)
      var bc = -1; var best = Double.MaxValue; var second = Double.MaxValue
      var c = 0
      while (c < 122) {
        val d = sphereDist(p, baseCellCenter(c))
        if (d < best) { second = best; best = d; bc = c }
        else if (d < second) second = d
        c += 1
      }
      val interior = i + j + k <= 2
      require(if (interior) best < 1e-6 else best < 0.6 * second,
        s"H3 init: face $f slot ($i,$j,$k) has no owning base cell center " +
          s"(nearest bc $bc at $best rad, second $second) — registry inconsistent")
      cells(f)(i)(j)(k) = bc
      owned(bc) = true
    }
    require(owned.forall(identity),
      s"H3 init: base cells ${owned.zipWithIndex.filterNot(_._1).map(_._2).mkString(",")} " +
        "own no face slot — registry inconsistent")
    for (bc <- 0 until 122) {
      val (f, i, j, k) = baseCellHome(bc)
      require(cells(f)(i)(j)(k) == bc,
        s"H3 init: base cell $bc home slot resolves to ${cells(f)(i)(j)(k)}")
    }
    // Rotation search. For each slot: sample sphere points 0.08–0.15 rad
    // from the base cell center that (a) project to face f and (b) round to
    // this slot at res 0. Encode at res 2 under each candidate rotation; the
    // decode direction (cellToLatLng) never reads these tables, so only the
    // true rotation brings every sample's decoded center back within a res-2
    // circumradius (~0.035 rad) — a wrong rotation swings the digit path
    // around the base cell center by ≥60°, displacing the center by ~the
    // 0.08+ rad sample distance.
    val slots = for (f <- 0 until 20; i <- 0 to 2; j <- 0 to 2; k <- 0 to 2)
      yield (f, i, j, k)
    // the search is per-slot independent: each task writes only its own
    // (f,i,j,k) entries, and sample encodes route through that slot alone
    // (the decode direction reads no tables at all)
    val para = new scala.collection.parallel.ForkJoinTaskSupport(
      new java.util.concurrent.ForkJoinPool(
        Runtime.getRuntime.availableProcessors))
    val parSlots = new scala.collection.parallel.immutable.ParVector(slots.toVector)
    parSlots.tasksupport = para
    parSlots.foreach { case (f, i, j, k) =>
      val bc = cells(f)(i)(j)(k)
      val home = baseCellHome(bc)
      val isHome = home._1 == f && home._2 == i && home._3 == j && home._4 == k
      val isPent = pentagonCells.contains(bc)
      if (isHome && !isPent) {
        rots(f)(i)(j)(k) = 0 // canonical orientation at home by definition
      } else {
        val center = baseCellCenter(bc)
        val slotPt = res0SlotGeo(f, i, j, k)
        // a sample belongs to this slot iff the ENCODER's own res-4 chain
        // (round at res 4, then four aperture-7 up-steps) lands on it — res-0
        // rounding alone can disagree near region edges, which would test a
        // neighboring slot's (not yet searched) rotation instead. Samples
        // must sit ≥0.03 rad from the base cell center: a wrong rotation
        // pivots the digit path around that center, displacing the decoded
        // cell by ~the sample distance, far beyond the 0.012 acceptance
        // radius (res-4 circumradius ≈ 0.0085).
        def draw(nAz: Int, nRing: Int, step: Double, res: Int) = for {
          ring <- 1 to nRing
          az <- 0 until nAz
          pt = geoAzDistance(slotPt._1, slotPt._2, az * 2 * math.Pi / nAz, ring * step)
          if sphereDist(pt, center) >= 0.03 && sphereDist(pt, center) <= 0.25
          if nearestFace(pt._1, pt._2)._1 == f
          h2 = geoToHex2d(pt._1, pt._2, res)
          ijkR = hex2dToCoordIJK(h2._2, h2._3)
          _ = (res to 1 by -1).foreach { r =>
            if (isClassIII(r)) upAp7(ijkR) else upAp7r(ijkR)
          }
          if ijkR(0) == i && ijkR(1) == j && ijkR(2) == k
        } yield (pt, res)
        // sliver slots (thin overlap between this face's window and the
        // cell's rounding region) need a denser sweep; the window also
        // rotates with resolution parity (Class III AP7 rotation), so try
        // both parities before declaring a slot unreachable
        val drawn = Seq(
          () => draw(48, 12, 0.02, 4), () => draw(48, 12, 0.02, 5),
          () => draw(720, 24, 0.01, 4), () => draw(720, 24, 0.01, 5))
          .iterator.map(_.apply()).find(_.size >= 3).getOrElse(Seq.empty)
        // 16 strided samples discriminate rotations just as well; pentagons
        // keep the full draw so the rare deleted-k wedge stays covered
        val samples = if (isPent || drawn.size <= 16) drawn
          else drawn.grouped((drawn.size + 15) / 16).map(_.head).toSeq
        // pentagons also learn the deleted-k clockwise-offset flag for this
        // face (uber/h3's cwOffsetPent registry); home slots are fixed rot 0;
        // pentagon rotations are mod 5 (five pent-rotations close the cycle)
        val rotCands = if (isHome) Seq(0) else if (isPent) 0 to 4 else 0 to 5
        val kCands = if (isPent) Seq(false, true) else Seq(false)
        if (samples.isEmpty) {
          // no point on the sphere routes through this slot at either res
          // parity — the 27-slot grid over-covers; rotation is moot
          rots(f)(i)(j)(k) = 0
        } else {
          val good = (for { cand <- rotCands; kc <- kCands } yield {
            rots(f)(i)(j)(k) = cand; kcw(f)(i)(j)(k) = kc
            val ok = samples.forall { case ((la, lo), sres) =>
              val h = latLngToCellRad(la, lo, sres, cells, rots, kcw)
              val (cla, clo) = cellToLatLng(h)
              sphereDist((la, lo), (math.toRadians(cla), math.toRadians(clo))) < 0.012
            }
            (cand, kc, ok)
          }).collect { case (c, kc, true) => (c, kc) }.toList
          val rotsFound = good.map(_._1).distinct
          lazy val diag = (for { cand <- rotCands; kc <- kCands } yield {
            rots(f)(i)(j)(k) = cand; kcw(f)(i)(j)(k) = kc
            val ds = samples.map { case ((la, lo), sres) =>
              val h = latLngToCellRad(la, lo, sres, cells, rots, kcw)
              val (cla, clo) = cellToLatLng(h)
              sphereDist((la, lo), (math.toRadians(cla), math.toRadians(clo)))
            }
            f"($cand,$kc):pass=${ds.count(_ < 0.012)}/${ds.size},max=${ds.max}%.4f"
          }).mkString(" ")
          require(rotsFound.size == 1,
            s"H3 init: face $f slot ($i,$j,$k) bc $bc pent=$isPent search found " +
              s"rotations $rotsFound (need exactly 1); $diag")
          // kCw ambiguous ⇒ no sample reached the deleted-k wedge from this
          // face (the wedge lies outside the face's angular window); the flag
          // is then unreachable in production encodes too — keep false
          rots(f)(i)(j)(k) = rotsFound.head
          kcw(f)(i)(j)(k) = good.forall(_._2)
        }
      }
    }
    (cells, rots, kcw)
  }

  // ------------------------------------------------------------- H3 index
  // layout: bit 63 reserved, bits 59-62 mode (1=cell), 56-58 reserved,
  // 52-55 res, 45-51 base cell, 45 bits of 15 3-bit digits (res 1 highest)
  private val H3_INIT = 0x1FFFFFFFFFFFL // all 15 digits = 7
  private val MODE_CELL = 1L

  private def setDigit(h: Long, res: Int, digit: Int): Long = {
    val off = (MAX_RES - res) * 3
    (h & ~(7L << off)) | (digit.toLong << off)
  }
  private def getDigit(h: Long, res: Int): Int =
    ((h >>> ((MAX_RES - res) * 3)) & 7L).toInt

  def getResolution(h: Long): Int = ((h >>> 52) & 0xFL).toInt
  def getBaseCell(h: Long): Int = ((h >>> 45) & 0x7FL).toInt
  def isPentagon(h: Long): Boolean = {
    if (!pentagonCells.contains(getBaseCell(h))) return false
    var r = 1
    val res = getResolution(h)
    while (r <= res) { if (getDigit(h, r) != 0) return false; r += 1 }
    true
  }
  /** Structural validity: mode 1, valid base cell, digits in range. */
  def isValidCell(h: Long): Boolean = {
    if ((h >>> 63) != 0 || ((h >>> 59) & 0xFL) != MODE_CELL ||
      ((h >>> 56) & 7L) != 0) return false
    val bc = getBaseCell(h)
    if (bc >= 122) return false
    val res = getResolution(h)
    if (res > MAX_RES) return false
    var sawFirst = false
    var r = 1
    while (r <= res) {
      val d = getDigit(h, r)
      if (d == 7) return false
      if (!sawFirst && d != 0) {
        sawFirst = true
        if (d == 1 && pentagonCells.contains(bc)) return false // deleted k axis
      }
      r += 1
    }
    r = res + 1
    while (r <= MAX_RES) { if (getDigit(h, r) != 7) return false; r += 1 }
    true
  }

  private def leadingNonZeroDigit(h: Long): Int = {
    val res = getResolution(h)
    var r = 1
    while (r <= res) {
      val d = getDigit(h, r)
      if (d != 0) return d
      r += 1
    }
    0
  }

  private def h3Rotate60(h: Long, table: Array[Int]): Long = {
    var out = h
    val res = getResolution(h)
    var r = 1
    while (r <= res) { out = setDigit(out, r, table(getDigit(out, r))); r += 1 }
    out
  }
  private def h3RotatePent60ccw(hIn: Long): Long = {
    var h = hIn
    var foundFirst = false
    val res = getResolution(h)
    var r = 1
    while (r <= res) {
      h = setDigit(h, r, digitRotCcw(getDigit(h, r)))
      if (!foundFirst && getDigit(h, r) != 0) {
        foundFirst = true
        if (leadingNonZeroDigit(h) == 1) h = h3Rotate60(h, digitRotCcw)
      }
      r += 1
    }
    h
  }

  // ------------------------------------------------------------ public API
  /** (lat, lng) in DEGREES → H3 cell id at `res` (h3api:latLngToCell). */
  def latLngToCell(latDeg: Double, lngDeg: Double, res: Int): Long = {
    require(res >= 0 && res <= MAX_RES, s"resolution $res out of [0,15]")
    latLngToCellRad(math.toRadians(latDeg), math.toRadians(lngDeg), res,
      slotBaseCell, slotRot, slotKCw)
  }

  private def latLngToCellRad(lat: Double, lng: Double, res: Int,
      cells: Array[Array[Array[Array[Int]]]],
      rots: Array[Array[Array[Array[Int]]]],
      kcw: Array[Array[Array[Array[Boolean]]]]): Long = {
    val xy = new Array[Double](2)
    val face = geoToHex2dInto(lat, lng, res, xy)
    val ijk = hex2dToCoordIJK(xy(0), xy(1))
    faceIjkToH3(face, ijk, res, cells, rots, kcw)
  }

  private def faceIjkToH3(face: Int, ijkIn: Array[Int], res: Int,
      cells: Array[Array[Array[Array[Int]]]],
      rots: Array[Array[Array[Array[Int]]]],
      kcw: Array[Array[Array[Array[Boolean]]]]): Long = {
    var h = H3_INIT | (MODE_CELL << 59) | (res.toLong << 52)
    val ijk = ijkIn
    if (res == 0) {
      require(ijk(0) <= 2 && ijk(1) <= 2 && ijk(2) <= 2, "res-0 ijk out of range")
      return h | (cells(face)(ijk(0))(ijk(1))(ijk(2)).toLong << 45)
    }
    // build digits from finest up; ijk ends as the base-cell slot coords.
    // scratch arrays hoisted out of the loop — 2·res allocations per encode
    // otherwise, on the per-row hot path
    val center = new Array[Int](3)
    val diff = new Array[Int](3)
    var r = res - 1
    while (r >= 0) {
      val lastI = ijk(0); val lastJ = ijk(1); val lastK = ijk(2)
      if (isClassIII(r + 1)) {
        upAp7(ijk)
        center(0) = ijk(0); center(1) = ijk(1); center(2) = ijk(2)
        downAp7(center)
      } else {
        upAp7r(ijk)
        center(0) = ijk(0); center(1) = ijk(1); center(2) = ijk(2)
        downAp7r(center)
      }
      diff(0) = lastI - center(0); diff(1) = lastJ - center(1); diff(2) = lastK - center(2)
      ijkNormalize(diff)
      h = setDigit(h, r + 1, unitIjkToDigit(diff))
      r -= 1
    }
    require(ijk(0) <= 2 && ijk(1) <= 2 && ijk(2) <= 2,
      s"base cell ijk out of range: ${ijk.mkString(",")}")
    val bc = cells(face)(ijk(0))(ijk(1))(ijk(2))
    val numRots = rots(face)(ijk(0))(ijk(1))(ijk(2))
    h |= bc.toLong << 45
    if (isPentagonCell(bc)) {
      if (leadingNonZeroDigit(h) == 1) { // k axis: rotate out of deleted seq
        h = if (kcw(face)(ijk(0))(ijk(1))(ijk(2))) h3Rotate60(h, digitRotCw)
        else h3Rotate60(h, digitRotCcw)
      }
      var i = 0
      while (i < numRots) { h = h3RotatePent60ccw(h); i += 1 }
    } else {
      var i = 0
      while (i < numRots) { h = h3Rotate60(h, digitRotCcw); i += 1 }
    }
    h
  }

  // ------------------------------------------------------ index → FaceIJK
  private def maxDimByCIIres(res: Int): Int = {
    // 2 * 7^(res/2) for even res (Class II only)
    var v = 2; var r = 0
    while (r < res) { v *= 7; r += 2 }
    v
  }
  private def unitScaleByCIIres(res: Int): Int = {
    var v = 1; var r = 0
    while (r < res) { v *= 7; r += 2 }
    v
  }

  private val NO_OVERAGE = 0; private val FACE_EDGE = 1; private val NEW_FACE = 2

  /** faceijk.c:_adjustOverageClassII — move fijk to the adjacent face if its
    * coordinates overflow the current face's triangle. */
  private def adjustOverageClassII(fijk: FaceIjkM, res: Int,
      pentLeading4: Boolean, substrate: Boolean): Int = {
    val ijk = fijk.coord
    var maxDim = maxDimByCIIres(res)
    if (substrate) maxDim *= 3
    val sum = ijk(0) + ijk(1) + ijk(2)
    if (substrate && sum == maxDim) return FACE_EDGE
    if (sum <= maxDim) return NO_OVERAGE
    val quad = if (ijk(2) > 0) { if (ijk(1) > 0) JK else KI } else IJ
    if (quad == KI && pentLeading4) {
      // translate origin to pentagon center, rotate cw, translate back
      val t = Array(ijk(0) - maxDim, ijk(1), ijk(2))
      rotate60cw(t)
      ijk(0) = t(0) + maxDim; ijk(1) = t(1); ijk(2) = t(2)
    }
    val (nf, ti, tj, tk, rot) = faceNeighbors(fijk.face)(quad)
    fijk.face = nf
    var i = 0
    while (i < rot) { rotate60ccw(ijk); i += 1 }
    var unitScale = unitScaleByCIIres(res)
    if (substrate) unitScale *= 3
    ijk(0) += ti * unitScale; ijk(1) += tj * unitScale; ijk(2) += tk * unitScale
    ijkNormalize(ijk)
    if (substrate && ijk(0) + ijk(1) + ijk(2) == maxDim) FACE_EDGE else NEW_FACE
  }

  private final class FaceIjkM(var face: Int, val coord: Array[Int])

  /** h3index.c:_h3ToFaceIjk. */
  private def h3ToFaceIjk(hIn: Long): (FaceIjkM, Boolean) = {
    var h = hIn
    val bc = getBaseCell(h)
    val isPent = pentagonCells.contains(bc)
    if (isPent && leadingNonZeroDigit(h) == 5) h = h3Rotate60(h, digitRotCw)
    val home = baseCellHome(bc)
    val fijk = new FaceIjkM(home._1, Array(home._2, home._3, home._4))
    val res0 = getResolution(h)
    // descend digits on the home face
    var possibleOverage = true
    if (!isPent && (res0 == 0 ||
        (fijk.coord(0) == 0 && fijk.coord(1) == 0 && fijk.coord(2) == 0)))
      possibleOverage = false
    var r = 1
    while (r <= res0) {
      if (isClassIII(r)) downAp7(fijk.coord) else downAp7r(fijk.coord)
      neighbor(fijk.coord, getDigit(h, r))
      r += 1
    }
    if (!possibleOverage) return (fijk, false)
    val origI = fijk.coord(0); val origJ = fijk.coord(1); val origK = fijk.coord(2)
    var res = res0
    if (isClassIII(res)) { downAp7r(fijk.coord); res += 1 }
    val pentLeading4 = isPent && leadingNonZeroDigit(h) == 4
    if (adjustOverageClassII(fijk, res, pentLeading4, substrate = false) != NO_OVERAGE) {
      if (isPent) {
        while (adjustOverageClassII(fijk, res, pentLeading4 = false,
          substrate = false) != NO_OVERAGE) ()
      }
      if (res != res0) upAp7r(fijk.coord)
    } else if (res != res0) {
      fijk.coord(0) = origI; fijk.coord(1) = origJ; fijk.coord(2) = origK
    }
    (fijk, true)
  }

  /** Cell center, DEGREES (h3api:cellToLatLng). */
  def cellToLatLng(h: Long): (Double, Double) = {
    val (fijk, _) = h3ToFaceIjk(h)
    val (x, y) = ijkToHex2d(fijk.coord)
    val (lat, lng) = hex2dToGeo(x, y, fijk.face, getResolution(h), substrate = false)
    (math.toDegrees(lat), math.toDegrees(lng))
  }

  // hexagon vertices in the aperture-33r substrate grid around the origin
  private val vertsCII: Array[Array[Int]] = Array(
    Array(2, 1, 0), Array(1, 2, 0), Array(0, 2, 1),
    Array(0, 1, 2), Array(1, 0, 2), Array(2, 0, 1))
  private val vertsCIII: Array[Array[Int]] = Array(
    Array(5, 4, 0), Array(1, 5, 0), Array(0, 5, 4),
    Array(0, 1, 5), Array(4, 0, 5), Array(5, 0, 1))

  /** Cell boundary vertices, DEGREES, ccw, with Class III icosa-edge
    * distortion vertices included (h3api:cellToBoundary). */
  def cellToBoundary(h: Long): Array[(Double, Double)] = {
    val (fijk, _) = h3ToFaceIjk(h)
    val res = getResolution(h)
    if (isPentagon(h)) pentBoundary(fijk, res)
    else hexBoundary(fijk, res)
  }

  private def hexBoundary(center: FaceIjkM, res: Int): Array[(Double, Double)] = {
    var adjRes = res
    // center into the substrate grid: downAp3 + downAp3r (+ downAp7r if CIII)
    downAp3(center.coord); downAp3r(center.coord)
    if (isClassIII(res)) { downAp7r(center.coord); adjRes += 1 }
    val verts = if (isClassIII(res)) vertsCIII else vertsCII
    val fijkVerts = Array.tabulate(6) { v =>
      val c = Array(center.coord(0) + verts(v)(0), center.coord(1) + verts(v)(1),
        center.coord(2) + verts(v)(2))
      ijkNormalize(c)
      new FaceIjkM(center.face, c)
    }
    val out = scala.collection.mutable.ArrayBuffer[(Double, Double)]()
    var lastFace = -1
    var lastOverage = NO_OVERAGE
    var vert = 0
    while (vert < 7) { // 6 verts + 1 wrap iteration for last-edge distortion
      val v = vert % 6
      val fijk = new FaceIjkM(fijkVerts(v).face, fijkVerts(v).coord.clone())
      val overage = adjustOverageClassII(fijk, adjRes, pentLeading4 = false,
        substrate = true)
      if (isClassIII(res) && vert > 0 && fijk.face != lastFace &&
          lastOverage != FACE_EDGE) {
        // edge crosses an icosa edge: add the intersection vertex
        val lastV = (v + 5) % 6
        val (ox0, oy0) = ijkToHex2d(fijkVerts(lastV).coord)
        val (ox1, oy1) = ijkToHex2d(fijkVerts(v).coord)
        val maxDim = maxDimByCIIres(adjRes).toDouble
        val face2 = if (lastFace == center.face) fijk.face else lastFace
        val (e0, e1) = adjacentFaceDir(center.face)(face2) match {
          case q if q == IJ => ((3.0 * maxDim, 0.0), (-1.5 * maxDim, 3.0 * SIN60 * maxDim))
          case q if q == JK => ((-1.5 * maxDim, 3.0 * SIN60 * maxDim), (-1.5 * maxDim, -3.0 * SIN60 * maxDim))
          case _ => ((-1.5 * maxDim, -3.0 * SIN60 * maxDim), (3.0 * maxDim, 0.0))
        }
        val inter = v2dIntersect((ox0, oy0), (ox1, oy1), e0, e1)
        val atVert = (math.abs(inter._1 - ox0) < 1e-9 && math.abs(inter._2 - oy0) < 1e-9) ||
          (math.abs(inter._1 - ox1) < 1e-9 && math.abs(inter._2 - oy1) < 1e-9)
        if (!atVert) {
          val (la, lo) = hex2dToGeo(inter._1, inter._2, center.face, adjRes,
            substrate = true)
          out += ((math.toDegrees(la), math.toDegrees(lo)))
        }
      }
      if (vert < 6) {
        val (x, y) = ijkToHex2d(fijk.coord)
        val (la, lo) = hex2dToGeo(x, y, fijk.face, adjRes, substrate = true)
        out += ((math.toDegrees(la), math.toDegrees(lo)))
      }
      lastFace = fijk.face
      lastOverage = overage
      vert += 1
    }
    out.toArray
  }

  private def pentBoundary(center: FaceIjkM, res: Int): Array[(Double, Double)] = {
    var adjRes = res
    downAp3(center.coord); downAp3r(center.coord)
    if (isClassIII(res)) { downAp7r(center.coord); adjRes += 1 }
    val verts = if (isClassIII(res)) vertsCIII else vertsCII
    val fijkVerts = Array.tabulate(5) { v =>
      val c = Array(center.coord(0) + verts(v)(0), center.coord(1) + verts(v)(1),
        center.coord(2) + verts(v)(2))
      ijkNormalize(c)
      val fm = new FaceIjkM(center.face, c)
      // pentagon vertices can need multiple overage adjustments
      while (adjustOverageClassII(fm, adjRes, pentLeading4 = false,
        substrate = true) == NEW_FACE) ()
      fm
    }
    val out = scala.collection.mutable.ArrayBuffer[(Double, Double)]()
    var lastFijk: FaceIjkM = null
    var vert = 0
    while (vert < 6) { // 5 verts + 1 wrap iteration
      val v = vert % 5
      val fijk = fijkVerts(v)
      if (isClassIII(res) && vert > 0) {
        // all Class III pentagon edges cross icosa edges
        val (ox0, oy0) = ijkToHex2d(lastFijk.coord)
        // express current vertex in LAST vertex's face frame
        val tmp = new FaceIjkM(fijk.face, fijk.coord.clone())
        val dir = adjacentFaceDir(tmp.face)(lastFijk.face)
        if (dir >= 0) {
          val (nf, ti, tj, tk, rot) = faceNeighbors(tmp.face)(dir)
          tmp.face = nf
          var i = 0
          while (i < rot) { rotate60ccw(tmp.coord); i += 1 }
          val us = unitScaleByCIIres(adjRes) * 3
          tmp.coord(0) += ti * us; tmp.coord(1) += tj * us; tmp.coord(2) += tk * us
          ijkNormalize(tmp.coord)
          val (ox1, oy1) = ijkToHex2d(tmp.coord)
          val maxDim = maxDimByCIIres(adjRes).toDouble
          val (e0, e1) = adjacentFaceDir(tmp.face)(fijk.face) match {
            case q if q == IJ => ((3.0 * maxDim, 0.0), (-1.5 * maxDim, 3.0 * SIN60 * maxDim))
            case q if q == JK => ((-1.5 * maxDim, 3.0 * SIN60 * maxDim), (-1.5 * maxDim, -3.0 * SIN60 * maxDim))
            case _ => ((-1.5 * maxDim, -3.0 * SIN60 * maxDim), (3.0 * maxDim, 0.0))
          }
          val inter = v2dIntersect((ox0, oy0), (ox1, oy1), e0, e1)
          val (la, lo) = hex2dToGeo(inter._1, inter._2, tmp.face, adjRes,
            substrate = true)
          out += ((math.toDegrees(la), math.toDegrees(lo)))
        }
      }
      if (vert < 5) {
        val (x, y) = ijkToHex2d(fijk.coord)
        val (la, lo) = hex2dToGeo(x, y, fijk.face, adjRes, substrate = true)
        out += ((math.toDegrees(la), math.toDegrees(lo)))
      }
      lastFijk = fijk
      vert += 1
    }
    out.toArray
  }

  private def v2dIntersect(p0: (Double, Double), p1: (Double, Double),
      q0: (Double, Double), q1: (Double, Double)): (Double, Double) = {
    val s1x = p1._1 - p0._1; val s1y = p1._2 - p0._2
    val s2x = q1._1 - q0._1; val s2y = q1._2 - q0._2
    val t = (s2x * (p0._2 - q0._2) - s2y * (p0._1 - q0._1)) /
      (-s2x * s1y + s1x * s2y)
    (p0._1 + t * s1x, p0._2 + t * s1y)
  }

  // --------------------------------------------------------------- helpers
  /** Boundary as WKT POLYGON (lng lat order, ring closed) — the shape
    * H3_CELL_TO_BOUNDARY_WKT returns (East-Asia-Building-Footprints.md:264). */
  def cellToBoundaryWkt(h: Long): String = {
    val b = cellToBoundary(h)
    val sb = new StringBuilder("POLYGON ((")
    var i = 0
    while (i < b.length) {
      if (i > 0) sb.append(", ")
      sb.append(fmt(b(i)._2)).append(' ').append(fmt(b(i)._1))
      i += 1
    }
    sb.append(", ").append(fmt(b(0)._2)).append(' ').append(fmt(b(0)._1))
    sb.append("))")
    sb.toString
  }
  private def fmt(d: Double): String = {
    if (d == d.toLong.toDouble) d.toLong.toString
    else java.math.BigDecimal.valueOf(d).stripTrailingZeros.toPlainString
  }

  def hexString(h: Long): String = java.lang.Long.toHexString(h)

  /** Parent cell at coarser `parentRes` (h3api:cellToParent): truncate the
    * digit path and pad with 7s. Returns 0 (invalid) when parentRes exceeds
    * the cell's resolution. */
  def cellToParent(h: Long, parentRes: Int): Long = {
    val res = getResolution(h)
    if (parentRes < 0 || parentRes > res) return 0L
    if (parentRes == res) return h
    var out = (h & ~(0xFL << 52)) | (parentRes.toLong << 52)
    var r = parentRes + 1
    while (r <= MAX_RES) { out = setDigit(out, r, 7); r += 1 }
    out
  }

  // ---- neighbors / grid_disk (k-ring) ------------------------------------

  private def toVec3(latDeg: Double, lngDeg: Double): Array[Double] = {
    val lat = math.toRadians(latDeg); val lng = math.toRadians(lngDeg)
    Array(math.cos(lat) * math.cos(lng), math.cos(lat) * math.sin(lng), math.sin(lat))
  }

  private def distDeg(aLat: Double, aLng: Double, bLat: Double, bLng: Double): Double =
    sphereDist((math.toRadians(aLat), math.toRadians(aLng)),
      (math.toRadians(bLat), math.toRadians(bLng)))

  // ---- fast neighbor: aperture-7 digit-transition tables ------------------
  // Derived at init from this port's own IJK algebra (uber/h3 bakes the
  // equivalent NEW_DIGIT_II/III + NEW_ADJUSTMENT_II/III literals into
  // algos.c — reconstructing them keeps the no-transcription discipline):
  // a cell whose res-r digit is `d`, stepped one cell in direction `dir`,
  // becomes digit newDigit(p)(d)(dir) of either the same parent
  // (adj == 0) or the parent's neighbor in direction adj(p)(d)(dir),
  // where p is the Class-III parity of r. Pure hexagon math: walks in
  // pentagon base cells, or that carry past res 1 (base-cell crossing),
  // fall back to the geometric path below. Init cross-validates the two
  // paths over a deterministic sample sweep and fails loudly on mismatch.
  private lazy val (digitStepNew, digitStepAdj) = buildDigitStepTables()

  private def buildDigitStepTables(): (Array[Array[Array[Int]]], Array[Array[Array[Int]]]) = {
    val nd = Array.fill(2, 7, 7)(0)
    val ad = Array.fill(2, 7, 7)(0)
    for (p <- 0 to 1; d <- 0 to 6; dir <- 1 to 6) {
      // child-lattice coords with the parent centered at the origin: the
      // digit-d child sits at unit(d); step it one cell toward dir
      val a = Array(unitVecs(d)(0) + unitVecs(dir)(0),
        unitVecs(d)(1) + unitVecs(dir)(1), unitVecs(d)(2) + unitVecs(dir)(2))
      ijkNormalize(a)
      val parent = a.clone()
      if (p == 1) upAp7(parent) else upAp7r(parent) // p=1 ⇔ Class III res
      val carry = unitIjkToDigit(parent) // upAp7* leaves coords normalized
      require(carry >= 0, s"H3 init: digit-step carry not a unit vector (p=$p d=$d dir=$dir)")
      val base = parent.clone()
      if (p == 1) downAp7(base) else downAp7r(base)
      val rel = Array(a(0) - base(0), a(1) - base(1), a(2) - base(2))
      ijkNormalize(rel)
      val digit = unitIjkToDigit(rel)
      require(digit >= 0, s"H3 init: digit-step new digit invalid (p=$p d=$d dir=$dir)")
      nd(p)(d)(dir) = digit
      ad(p)(d)(dir) = carry
    }
    validateDigitSteps(nd, ad)
    (nd, ad)
  }

  /** Cross-validate table walks against the geometric path on a
    * deterministic lat/lng sweep across resolutions; loud-fail on any
    * divergence (the same posture as the slot-table round-trip checks). */
  private def validateDigitSteps(nd: Array[Array[Array[Int]]],
      ad: Array[Array[Array[Int]]]): Unit = {
    var seed = 0x9E3779B97F4A7C15L
    def next(): Double = { // xorshift-ish LCG, deterministic across runs
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (seed >>> 11).toDouble / (1L << 53).toDouble
    }
    var checked = 0
    var trial = 0
    while (trial < 600) {
      val lat = next() * 170.0 - 85.0
      val lng = next() * 360.0 - 180.0
      val res = 1 + (next() * 15).toInt.min(14)
      val h = latLngToCell(lat, lng, res)
      if (!pentagonCells.contains(getBaseCell(h))) {
        val fast = new Array[Long](6)
        var ok = true
        var dir = 1
        while (dir <= 6 && ok) {
          val n = neighborWalk(h, dir, nd, ad)
          if (n == 0L) ok = false else fast(dir - 1) = n
          dir += 1
        }
        if (ok) {
          val geo = cellNeighborsGeo(h)
          require(fast.toSet == geo.toSet,
            s"H3 init: digit-step neighbors diverge from geometric at " +
              s"cell ${java.lang.Long.toHexString(h)} res $res: " +
              s"fast=${fast.sorted.mkString(",")} geo=${geo.sorted.mkString(",")}")
          checked += 1
        }
      }
      trial += 1
    }
    require(checked >= 200,
      s"H3 init: digit-step validation only reached $checked in-base samples")
  }

  /** Table walk for one direction; 0L = the walk carried past res 1
    * (base-cell crossing) and the caller must use the geometric path. */
  private def neighborWalk(h: Long, dirIn: Int,
      nd: Array[Array[Array[Int]]], ad: Array[Array[Array[Int]]]): Long = {
    var out = h
    var dir = dirIn
    var r = getResolution(h)
    while (r >= 1) {
      val old = getDigit(out, r)
      val p = if (isClassIII(r)) 1 else 0
      out = setDigit(out, r, nd(p)(old)(dir))
      val carry = ad(p)(old)(dir)
      if (carry == 0) return out
      dir = carry
      r -= 1
    }
    0L
  }

  /** Edge-adjacent neighbor cells. Fast path: the aperture-7 digit-walk
    * above — O(res) integer ops, no trig — valid whenever the cell lives in
    * a hexagon base cell and no walk crosses the base-cell boundary; every
    * other case (pentagon base cells, boundary cells, res 0) routes to the
    * geometric reconstruction, so the result set is identical either way
    * (init proves it on a sample sweep). Hexagons yield 6, pentagons 5. */
  def cellNeighbors(h: Long): Array[Long] = {
    if (!isValidCell(h)) return Array.empty
    if (getResolution(h) == 0 || pentagonCells.contains(getBaseCell(h)))
      return cellNeighborsGeo(h)
    val out = new Array[Long](6)
    var dir = 1
    while (dir <= 6) {
      val n = neighborWalk(h, dir, digitStepNew, digitStepAdj)
      if (n == 0L) return cellNeighborsGeo(h)
      out(dir - 1) = n
      dir += 1
    }
    out
  }

  /** Geometric neighbor reconstruction — reflect the cell center through
    * each boundary-segment midpoint on the unit sphere (r = 2(c·m)m − c —
    * the point at twice the center→midpoint geodesic distance), which lands
    * inside the cell sharing that segment; dedupe and drop self. Hexagons
    * yield 6, pentagons 5; Class III distortion sub-segments land in the
    * same neighbor and collapse in the dedupe. Handles every case (it is
    * the fast path's fallback and its validation oracle). */
  def cellNeighborsGeo(h: Long): Array[Long] = {
    if (!isValidCell(h)) return Array.empty
    val res = getResolution(h)
    val (clat, clng) = cellToLatLng(h)
    val c = toVec3(clat, clng)
    val bnd = cellToBoundary(h)
    val out = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i < bnd.length) {
      val (alat, alng) = bnd(i)
      val (blat, blng) = bnd((i + 1) % bnd.length)
      val a = toVec3(alat, alng); val b = toVec3(blat, blng)
      val m = Array((a(0) + b(0)) / 2, (a(1) + b(1)) / 2, (a(2) + b(2)) / 2)
      val nrm = math.sqrt(m(0) * m(0) + m(1) * m(1) + m(2) * m(2))
      if (nrm > 1e-12) {
        m(0) /= nrm; m(1) /= nrm; m(2) /= nrm
        val d = c(0) * m(0) + c(1) * m(1) + c(2) * m(2)
        val r = Array(2 * d * m(0) - c(0), 2 * d * m(1) - c(1), 2 * d * m(2) - c(2))
        val rl = math.sqrt(r(0) * r(0) + r(1) * r(1) + r(2) * r(2))
        val rlat = math.toDegrees(math.asin(r(2) / rl))
        val rlng = math.toDegrees(math.atan2(r(1), r(0)))
        val n = latLngToCell(rlat, rlng, res)
        if (n != h) out.add(n)
      }
      i += 1
    }
    val arr = new Array[Long](out.size)
    val it = out.iterator; var k = 0
    while (it.hasNext) { arr(k) = it.next(); k += 1 }
    arr
  }

  /** grid_disk (k-ring): every cell within grid distance `k` of `origin`,
    * origin included — uber/h3's gridDisk surface, computed as BFS over
    * edge neighbors. Sorted for deterministic array results in SQL. */
  def gridDisk(origin: Long, k: Int): Array[Long] = {
    if (!isValidCell(origin) || k < 0) return Array.empty
    val seen = scala.collection.mutable.HashSet(origin)
    var frontier: List[Long] = List(origin)
    var d = 0
    while (d < k && frontier.nonEmpty) {
      val next = scala.collection.mutable.ListBuffer[Long]()
      frontier.foreach { cell =>
        cellNeighbors(cell).foreach { n => if (seen.add(n)) next += n }
      }
      frontier = next.toList
      d += 1
    }
    val arr = seen.toArray
    java.util.Arrays.sort(arr)
    arr
  }

  /** h3api:gridDistance — minimum grid steps between two cells of the same
    * resolution; -1 for invalid input, mixed resolutions, or a search past
    * `maxK`. uber/h3's local-IJ distance fails for distant cells too (the
    * published contract allows failure across icosahedron edges and
    * pentagon distortion); this ring BFS is exact wherever it answers. */
  def gridDistance(a: Long, b: Long, maxK: Int): Int = {
    if (!isValidCell(a) || !isValidCell(b)) return -1
    if (getResolution(a) != getResolution(b)) return -1
    if (a == b) return 0
    val seen = scala.collection.mutable.HashSet(a)
    var frontier: List[Long] = List(a)
    var d = 0
    while (d < maxK && frontier.nonEmpty) {
      d += 1
      val next = scala.collection.mutable.ListBuffer[Long]()
      frontier.foreach { cell =>
        cellNeighbors(cell).foreach { n =>
          if (n == b) return d
          if (seen.add(n)) next += n
        }
      }
      frontier = next.toList
    }
    -1
  }

  def gridDistance(a: Long, b: Long): Int = gridDistance(a, b, 64)

  /** H3 covering of a lon-lat envelope: the grid disk of the envelope-center
    * cell, with radius chosen so every point of the envelope is inside some
    * disk cell — corner distance over the LOCAL neighbor spacing with a
    * 0.8 lattice-anisotropy factor (per-move straight-line progress on a hex
    * lattice is ≥ √3/2 ≈ 0.866 of the spacing) plus 2 cells of slack for the
    * center/corner cell-center offsets. Returns empty when the disk would
    * exceed `maxCells` — the spatial join's oversized-polygon signal. */
  def cellsCoveringEnvelope(minLng: Double, minLat: Double, maxLng: Double,
      maxLat: Double, res: Int, maxCells: Int = 4096): Array[Long] = {
    val cLat = (minLat + maxLat) / 2; val cLng = (minLng + maxLng) / 2
    val center = latLngToCell(cLat, cLng, res)
    val (hlat, hlng) = cellToLatLng(center)
    val nbrs = cellNeighbors(center)
    if (nbrs.isEmpty) return Array.empty
    var spacing = Double.MaxValue
    nbrs.foreach { n =>
      val (nlat, nlng) = cellToLatLng(n)
      spacing = math.min(spacing, distDeg(hlat, hlng, nlat, nlng))
    }
    var corner = 0.0
    corner = math.max(corner, distDeg(cLat, cLng, minLat, minLng))
    corner = math.max(corner, distDeg(cLat, cLng, minLat, maxLng))
    corner = math.max(corner, distDeg(cLat, cLng, maxLat, minLng))
    corner = math.max(corner, distDeg(cLat, cLng, maxLat, maxLng))
    val k = math.ceil(corner / (spacing * 0.8)).toInt + 2
    val cellCount = 3L * k * (k + 1) + 1
    if (cellCount > maxCells) return Array.empty
    // the raw disk circumscribes the envelope's CORNER circle — for a
    // rectangle that is ~2.5-4x more cells (and downstream join
    // candidates) than the envelope itself needs. Trim: keep a cell iff
    // its center is within maxSpacing of the envelope (clamped-point
    // distance in the same degree metric). Superset-safe: any cell
    // intersecting the envelope has its center within one circumradius
    // (~0.58·neighbor spacing) of it, and maxSpacing over the center's
    // neighbors bounds that with margin even under icosahedron
    // distortion.
    var maxSpacing = 0.0
    nbrs.foreach { n =>
      val (nlat, nlng) = cellToLatLng(n)
      maxSpacing = math.max(maxSpacing, distDeg(hlat, hlng, nlat, nlng))
    }
    // 1.5x safety factor: cells far out in the disk can have larger local
    // spacing than the CENTER cell's neighbors (icosahedron distortion,
    // degree-metric stretch toward the poles), so the keep-threshold must
    // over-approximate or the covering stops being a superset.
    maxSpacing *= 1.5
    gridDisk(center, k).filter { c =>
      val (clat, clng) = cellToLatLng(c)
      val qlat = math.max(minLat, math.min(maxLat, clat))
      val qlng = math.max(minLng, math.min(maxLng, clng))
      distDeg(clat, clng, qlat, qlng) <= maxSpacing
    }
  }

  // ---- hierarchy: children / compact / uncompact --------------------------

  private def withRes(h: Long, res: Int): Long =
    (h & ~(0xFL << 52)) | (res.toLong << 52)

  /** All descendants of `h` at `childRes` (h3api:cellToChildren), sorted by
    * construction (digit enumeration is index order). Pentagon center
    * chains skip the deleted K (1) digit, so a res-r pentagon has
    * 1 + 5·(7^n − 1)/6 descendants at res r+n, a hexagon 7^n. Empty for
    * invalid cells or childRes outside [res, 15]. */
  def cellToChildren(h: Long, childRes: Int): Array[Long] = {
    if (!isValidCell(h)) return Array.empty
    val res = getResolution(h)
    if (childRes < res || childRes > MAX_RES) return Array.empty
    if (childRes == res) return Array(h)
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    def rec(cur: Long, r: Int, pentChain: Boolean): Unit = {
      if (r == childRes) { out += cur; return }
      val nr = r + 1
      var d = 0
      while (d <= 6) {
        if (!(pentChain && d == 1))
          rec(setDigit(withRes(cur, nr), nr, d), nr, pentChain && d == 0)
        d += 1
      }
    }
    rec(h, res, isPentagon(h))
    out.toArray
  }

  /** h3api:compactCells — replace every complete sibling set by its parent,
    * cascading to the coarsest representation of the same region. Input may
    * be mixed-resolution; duplicates are dropped. A parent promotes iff all
    * its children are present (7, or 6 for a pentagon parent — valid
    * pentagon-chain ids cannot contain the deleted K child, so a distinct
    * count equal to the expected size is completeness). Sorted output. */
  def compactCells(cellsIn: Array[Long]): Array[Long] = {
    if (cellsIn.isEmpty) return Array.empty
    val pool = new java.util.HashSet[java.lang.Long]()
    var maxRes = 0
    cellsIn.foreach { c => pool.add(c); val r = getResolution(c); if (r > maxRes) maxRes = r }
    var r = maxRes
    while (r >= 1) {
      // group this resolution's cells by parent; promote complete families
      val byParent = new java.util.HashMap[java.lang.Long, Integer]()
      val it0 = pool.iterator()
      while (it0.hasNext) {
        val c = it0.next().longValue
        if (getResolution(c) == r) {
          val p = java.lang.Long.valueOf(cellToParent(c, r - 1))
          byParent.merge(p, 1, (a, b) => a + b)
        }
      }
      val pit = byParent.entrySet().iterator()
      while (pit.hasNext) {
        val e = pit.next()
        val parent = e.getKey.longValue
        val expected = if (isPentagon(parent)) 6 else 7
        if (e.getValue.intValue == expected) {
          cellToChildren(parent, r).foreach(c => pool.remove(java.lang.Long.valueOf(c)))
          pool.add(java.lang.Long.valueOf(parent))
        }
      }
      r -= 1
    }
    val arr = new Array[Long](pool.size)
    val it = pool.iterator(); var k = 0
    while (it.hasNext) { arr(k) = it.next().longValue; k += 1 }
    java.util.Arrays.sort(arr)
    arr
  }

  /** h3api:uncompactCells — expand every cell to its `res` descendants.
    * Empty when any input is invalid or finer than `res` (the loud signal,
    * matching the covering conventions). Sorted, deduped. */
  def uncompactCells(cells: Array[Long], res: Int): Array[Long] = {
    if (cells.exists(c => !isValidCell(c) || getResolution(c) > res)) return Array.empty
    val out = cells.flatMap(cellToChildren(_, res)).distinct
    java.util.Arrays.sort(out)
    out
  }
}
