package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.debug.codegenString
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.GraftFunctions.st_transform
import graft.geom.{CrsTransform, GeomLib}

class CrsTransformSpec extends AnyFunSuite {

  test("UTM anchors: equator on the central meridian") {
    val (e, n) = CrsTransform.wgs84ToUtm(0.0, 117.0, 50, north = true)
    assert(math.abs(e - 500000.0) < 1e-6)
    assert(math.abs(n) < 1e-6)
  }

  test("UTM anchor: meridian arc scale at 45N") {
    // quarter meridian is 10001965.73 m; arc to 45N is 4984944.38 m
    // (published WGS84 values); northing = k0 * arc on the central meridian
    val (e, n) = CrsTransform.wgs84ToUtm(45.0, 117.0, 50, north = true)
    assert(math.abs(e - 500000.0) < 1e-6)
    assert(math.abs(n - 0.9996 * 4984944.38) < 5.0)
  }

  test("UTM southern hemisphere false northing") {
    val (_, n) = CrsTransform.wgs84ToUtm(-33.0, 151.0, 56, north = false)
    assert(n > 0 && n < 10000000.0)
  }

  test("UTM round-trip ≈ identity across the zone") {
    for (i <- 0 to 21; j <- 0 to 8) {
      val lat = -80.0 + i * 7.3
      val lon = 117.0 + (-3.0 + j * 0.7)
      val (e, n) = CrsTransform.wgs84ToUtm(lat, lon, 50, north = lat >= 0)
      val (lon2, lat2) = CrsTransform.utmToWgs84(e, n, 50, north = lat >= 0)
      assert(math.abs(lon2 - lon) < 1e-8, s"lon at ($lat,$lon)")
      assert(math.abs(lat2 - lat) < 1e-8, s"lat at ($lat,$lon)")
    }
  }

  test("web mercator anchors and round-trip") {
    val (x0, y0) = CrsTransform.wgs84ToWebMerc(0.0, 0.0)
    assert(x0 == 0.0 && y0 == 0.0)
    val (x180, _) = CrsTransform.wgs84ToWebMerc(180.0, 0.0)
    assert(math.abs(x180 - 20037508.342789244) < 1e-6) // pi * R
    val (lon, lat) = CrsTransform.webMercToWgs84(11131949.079, 5311972.0)
    assert(math.abs(lon - 100.0) < 1e-6) // 11131949.079 m = 100 deg lon
    for (i <- 0 to 18) {
      val l = -85.0 + i * 9.1
      val (x, y) = CrsTransform.wgs84ToWebMerc(l * 2, l)
      val (lo2, la2) = CrsTransform.webMercToWgs84(x, y)
      assert(math.abs(lo2 - l * 2) < 1e-9 && math.abs(la2 - l) < 1e-9)
    }
  }

  // ---- national-grid families (round 4) ----

  test("natural-origin anchors: every registered TM grid maps its origin to (FE, FN)") {
    // (epsg, lat0, lon0, fe, fn) — the origin anchor is closed-form: the
    // latitude-of-origin meridian arc must cancel exactly
    val anchors = Seq(
      (2451, 36.0, 139.0 + 50.0 / 60.0, 0.0, 0.0),          // JGD2000 zone IX (Kanto)
      (6677, 36.0, 139.0 + 50.0 / 60.0, 0.0, 0.0),          // JGD2011 zone IX
      (2443, 33.0, 129.5, 0.0, 0.0),                        // JGD2000 zone I
      (5179, 38.0, 127.5, 1000000.0, 2000000.0),            // Korea unified
      (5186, 38.0, 127.0, 200000.0, 600000.0),              // Korea central 2010
      (4502, 0.0, 75.0, 500000.0, 0.0),                     // CGCS2000 CM 75E
      (4547, 0.0, 114.0, 500000.0, 0.0),                    // CGCS2000 3° CM 114E
      (4499, 0.0, 123.0, 21500000.0, 0.0))                  // CGCS2000 zone 21
    anchors.foreach { case (epsg, lat0, lon0, fe, fn) =>
      val (e, n) = CrsTransform.transformXY(lon0, lat0, 4326, epsg)
      assert(math.abs(e - fe) < 1e-6, s"EPSG:$epsg easting $e != $fe")
      assert(math.abs(n - fn) < 1e-6, s"EPSG:$epsg northing $n != $fn")
    }
  }

  test("TM scale factor at the central meridian equals k0 (zone IX, k0=0.9999)") {
    // finite-difference point scale along the meridian at lat0 ± offsets
    val p = CrsTransform.tmProjection(CrsTransform.Grs80, 36.0, 139.0 + 50.0 / 60.0,
      0.9999, 0.0, 0.0)
    for (lat <- Seq(34.0, 36.0, 38.0)) {
      val d = 1e-5
      val (_, n1) = p.forward(139.0 + 50.0 / 60.0, lat - d)
      val (_, n2) = p.forward(139.0 + 50.0 / 60.0, lat + d)
      // meridian radius of curvature on GRS80
      val phi = math.toRadians(lat)
      val e2 = CrsTransform.Grs80.e2
      val w = math.sqrt(1 - e2 * math.pow(math.sin(phi), 2))
      val mRad = CrsTransform.Grs80.a * (1 - e2) / (w * w * w)
      val k = (n2 - n1) / (2 * d * math.Pi / 180.0 * mRad)
      assert(math.abs(k - 0.9999) < 1e-6, s"scale $k at lat $lat")
    }
  }

  test("Japan zone round-trips < 1e-8 deg near each zone's own origin") {
    // each plane-rectangular zone covers ±~2 deg around its origin — the
    // Krüger series is only contracted there (as in real use)
    val zones = Seq(2443 -> (33.0, 129.5), 2451 -> (36.0, 139.0 + 50.0 / 60.0),
      2461 -> (26.0, 154.0), 6669 -> (33.0, 129.5), 6687 -> (26.0, 154.0),
      30161 -> (33.0, 129.5), 30169 -> (36.0, 139.0 + 50.0 / 60.0))
    for ((epsg, (lat0, lon0)) <- zones; i <- -2 to 2; j <- -2 to 2) {
      val (lat, lon) = (lat0 + i * 0.9, lon0 + j * 0.9)
      val (e, n) = CrsTransform.transformXY(lon, lat, 4326, epsg)
      val (lon2, lat2) = CrsTransform.transformXY(e, n, epsg, 4326)
      // Tokyo zones tour the 2D Helmert bridge twice (height-drop leaks
      // ~1e-8 deg); pure-projection GRS80 zones stay an order tighter
      val tol = if (epsg >= 30161) 1e-7 else 1e-8
      assert(math.abs(lon2 - lon) < tol && math.abs(lat2 - lat) < tol,
        s"EPSG:$epsg at ($lat, $lon): ($lat2, $lon2)")
    }
  }

  test("Korea belts and CGCS2000 zones round-trip < 1e-8 deg") {
    for (epsg <- Seq(5179, 5180, 5185, 5186, 5187, 5188)) {
      for (i <- 0 to 3; j <- 0 to 3) {
        val (lat, lon) = (33.0 + i * 2.0, 124.5 + j * 1.8)
        val (e, n) = CrsTransform.transformXY(lon, lat, 4326, epsg)
        val (lon2, lat2) = CrsTransform.transformXY(e, n, epsg, 4326)
        assert(math.abs(lon2 - lon) < 1e-8 && math.abs(lat2 - lat) < 1e-8, s"EPSG:$epsg")
      }
    }
    for (epsg <- Seq(4491, 4502, 4512, 4513, 4534, 4554)) {
      // find the CM longitude by inverting the false easting at the equator,
      // then probe ±1.5 deg around it (the zone's actual service area)
      val (cmLon, _) = CrsTransform.transformXY(
        (if (epsg >= 4491 && epsg <= 4501) (epsg - 4491 + 13) * 1000000.0 + 500000.0
         else if (epsg >= 4513 && epsg <= 4533) (epsg - 4513 + 25) * 1000000.0 + 500000.0
         else 500000.0), 0.0, epsg, 4326)
      for (i <- 0 to 3; dLon <- Seq(-1.5, 0.0, 1.5)) {
        val lat = 20.0 + i * 8.0
        val lon = cmLon + dLon
        val (e, n) = CrsTransform.transformXY(lon, lat, 4326, epsg)
        val (lon2, lat2) = CrsTransform.transformXY(e, n, epsg, 4326)
        assert(math.abs(lon2 - lon) < 1e-8 && math.abs(lat2 - lat) < 1e-8, s"EPSG:$epsg")
      }
    }
  }

  test("Lambert-93 anchors: natural origin and standard-parallel scale") {
    val (e0, n0) = CrsTransform.transformXY(3.0, 46.5, 4326, 2154)
    assert(math.abs(e0 - 700000.0) < 1e-6 && math.abs(n0 - 6600000.0) < 1e-6)
    // point scale = 1 on both standard parallels, < 1 between, > 1 outside
    val p = CrsTransform.lccProjection(CrsTransform.Grs80, 44.0, 49.0, 46.5, 3.0,
      700000.0, 6600000.0)
    def kAt(lat: Double): Double = {
      val d = 1e-5
      val (_, n1) = p.forward(3.0, lat - d)
      val (_, n2) = p.forward(3.0, lat + d)
      val phi = math.toRadians(lat)
      val e2 = CrsTransform.Grs80.e2
      val w = math.sqrt(1 - e2 * math.pow(math.sin(phi), 2))
      val mRad = CrsTransform.Grs80.a * (1 - e2) / (w * w * w)
      (n2 - n1) / (2 * d * math.Pi / 180.0 * mRad)
    }
    assert(math.abs(kAt(44.0) - 1.0) < 1e-6, s"k(44)=${kAt(44.0)}")
    assert(math.abs(kAt(49.0) - 1.0) < 1e-6, s"k(49)=${kAt(49.0)}")
    assert(kAt(46.5) < 1.0 - 1e-5)
    assert(kAt(42.0) > 1.0 + 1e-5 && kAt(51.0) > 1.0 + 1e-5)
  }

  test("Lambert-93 round-trips < 1e-9 deg over the France extent") {
    for (i <- 0 to 4; j <- 0 to 4) {
      val (lat, lon) = (41.0 + i * 2.5, -5.0 + j * 3.2)
      val (e, n) = CrsTransform.transformXY(lon, lat, 4326, 2154)
      val (lon2, lat2) = CrsTransform.transformXY(e, n, 2154, 4326)
      assert(math.abs(lon2 - lon) < 1e-9 && math.abs(lat2 - lat) < 1e-9)
    }
  }

  test("Tokyo datum: shift magnitude ~400-500m near Tokyo, round-trip < 1e-7 deg") {
    // Tokyo geographic (4301) vs WGS84: published offset around Japan is
    // roughly +12" lat / -12" lon (≈ 450 m); pin the window, not the exact
    // value (the Helmert params are the engine's documented choice)
    val (lonW, latW) = CrsTransform.transformXY(139.75, 35.65, 4301, 4326)
    val dMeters = math.hypot((lonW - 139.75) * 92000.0, (latW - 35.65) * 111000.0)
    assert(dMeters > 300.0 && dMeters < 600.0, s"Tokyo shift $dMeters m")
    assert(latW > 35.65, "Tokyo→WGS84 moves latitude north")
    assert(lonW < 139.75, "Tokyo→WGS84 moves longitude west")
    // full projected round-trip through the Bessel zone IX grid
    for (i <- 0 to 3; j <- 0 to 3) {
      val (lat, lon) = (34.0 + i * 1.2, 138.0 + j * 1.3)
      val (e, n) = CrsTransform.transformXY(lon, lat, 4326, 30169)
      val (lon2, lat2) = CrsTransform.transformXY(e, n, 30169, 4326)
      assert(math.abs(lon2 - lon) < 1e-7 && math.abs(lat2 - lat) < 1e-7,
        s"30169 at ($lat,$lon): ($lat2,$lon2)")
    }
  }

  test("cross-datum: Tokyo zone IX ↔ JGD2000 zone IX differ by the datum shift only") {
    // same zone parameters, different datum: projecting the same WGS84 point
    // into both grids must differ by roughly the Tokyo shift (~450 m), and
    // chaining 30169 → 2451 directly must equal going through 4326
    val (eT, nT) = CrsTransform.transformXY(139.8, 35.7, 4326, 30169)
    val (eJ, nJ) = CrsTransform.transformXY(139.8, 35.7, 4326, 2451)
    val d = math.hypot(eT - eJ, nT - nJ)
    assert(d > 300.0 && d < 600.0, s"datum separation $d m")
    // centimetre tolerance: a 2D datum pipeline drops ellipsoidal height at
    // the geodetic steps (exactly as PROJ does for 2D input), which leaks
    // ~mm laterally through the Helmert leg
    val (eChain, nChain) = CrsTransform.transformXY(eT, nT, 30169, 2451)
    assert(math.abs(eChain - eJ) < 0.01 && math.abs(nChain - nJ) < 0.01)
  }

  test("geodetic ↔ geocentric XYZ round-trips on all ellipsoids") {
    for (ell <- Seq(CrsTransform.Wgs84, CrsTransform.Grs80, CrsTransform.Bessel1841)) {
      for (i <- 0 to 6; j <- 0 to 6) {
        val (lat, lon) = (-80.0 + i * 26.0, -170.0 + j * 56.0)
        val (x, y, z) = CrsTransform.geodeticToXyz(lon, lat, ell)
        val (lon2, lat2) = CrsTransform.xyzToGeodetic(x, y, z, ell)
        assert(math.abs(lon2 - lon) < 1e-10 && math.abs(lat2 - lat) < 1e-10)
      }
    }
  }

  test("LCC-1SP: Jamaica National Grid matches the EPSG GN7-2 worked example") {
    // method 9801 worked example: φ=17°55'55.8"N λ=76°56'37.26"W →
    // E=255966.58 N=142493.51 (input is Jamaica-1969 geodetic — projection
    // only, no datum leg)
    val lat = 17.0 + 55.0 / 60.0 + 55.8 / 3600.0
    val lon = -(76.0 + 56.0 / 60.0 + 37.26 / 3600.0)
    val p = CrsTransform.lccProjection(CrsTransform.Clarke1866,
      18.0, 18.0, 18.0, -77.0, 250000.0, 150000.0, 1.0)
    val (e, n) = p.forward(lon, lat)
    assert(math.abs(e - 255966.58) < 0.05, s"E $e")
    assert(math.abs(n - 142493.51) < 0.05, s"N $n")
    val (lon2, lat2) = p.inverse(e, n)
    assert(math.abs(lon2 - lon) < 1e-9 && math.abs(lat2 - lat) < 1e-9)
    // natural origin lands exactly on the false origin
    val (e0, n0) = p.forward(-77.0, 18.0)
    assert(math.abs(e0 - 250000.0) < 1e-6 && math.abs(n0 - 150000.0) < 1e-6)
  }

  test("polar stereographic B: 3032 matches the GN7-2 method 9829 example") {
    // Australian Antarctic Polar Stereographic: 75°S 120°E →
    // E=7255380.79 N=7053389.56 (FE=FN=6000000, latTs=-71, lon0=70)
    val (e, n) = CrsTransform.transformXY(120.0, -75.0, 4326, 3032)
    assert(math.abs(e - 7255380.79) < 0.05, s"E $e")
    assert(math.abs(n - 7053389.56) < 0.05, s"N $n")
    val (lon2, lat2) = CrsTransform.transformXY(e, n, 3032, 4326)
    assert(math.abs(lon2 - 120.0) < 1e-8 && math.abs(lat2 - -75.0) < 1e-8)
  }

  test("polar stereographic: poles map to the false origin; UPS round-trips") {
    // the projection pole is each grid's exact origin point
    val (en, nn) = CrsTransform.transformXY(0.0, 90.0, 4326, 3413)
    assert(math.hypot(en, nn) < 1e-6, s"north pole → ($en,$nn)")
    val (es, ns) = CrsTransform.transformXY(0.0, -90.0, 4326, 3031)
    assert(math.hypot(es, ns) < 1e-6, s"south pole → ($es,$ns)")
    for ((epsg, lat) <- Seq((5041, 84.0), (5042, -84.0), (3413, 75.0),
        (3031, -70.0), (3995, 80.0))) {
      for (lon <- Seq(-150.0, -45.0, 0.0, 60.0, 179.0)) {
        val (e, n) = CrsTransform.transformXY(lon, lat, 4326, epsg)
        val (lon2, lat2) = CrsTransform.transformXY(e, n, epsg, 4326)
        assert(math.abs(lon2 - lon) < 1e-6 && math.abs(lat2 - lat) < 1e-6,
          s"$epsg ($lat,$lon) → ($lat2,$lon2)")
      }
    }
    // UPS scale at the pole is exactly k0 = 0.994: a small meridian step of
    // s metres on the ellipsoid maps to ~0.994 s grid metres
    val (e1, n1) = CrsTransform.transformXY(0.0, 89.999, 4326, 5041)
    val stepM = math.hypot(e1 - 2000000.0, n1 - 2000000.0)
    val geodM = 0.001 * 111694.0 // metres per degree latitude at the pole
    assert(math.abs(stepM / geodM - 0.994) < 1e-3, s"UPS pole scale ${stepM / geodM}")
  }

  test("Albers: Conus and Australian grids round-trip; area signature holds") {
    for ((epsg, pts) <- Seq(
        5070 -> Seq((40.0, -100.0), (30.0, -85.0), (47.0, -120.0), (23.0, -96.0)),
        3577 -> Seq((-25.0, 135.0), (-33.0, 151.0), (-18.0, 122.0), (-43.0, 147.0)))) {
      for ((lat, lon) <- pts) {
        val (e, n) = CrsTransform.transformXY(lon, lat, 4326, epsg)
        val (lon2, lat2) = CrsTransform.transformXY(e, n, epsg, 4326)
        assert(math.abs(lon2 - lon) < 1e-6 && math.abs(lat2 - lat) < 1e-6,
          s"$epsg ($lat,$lon) → ($lat2,$lon2)")
      }
    }
    // natural origin of 5070 maps to (0,0)
    val (e0, n0) = CrsTransform.transformXY(-96.0, 23.0, 4326, 5070)
    assert(math.hypot(e0, n0) < 1e-6)
    // equal-area signature: projected quad areas at the top vs bottom of
    // Conus must match the EXACT ellipsoidal (authalic) area ratio — a
    // conformal cone would show the ~2% k² deficit between the parallels.
    // Quad edges are densified to keep polygon discretization below 1e-5.
    def quadArea(epsg: Int, lat: Double, lon: Double): Double = {
      val steps = 20
      val ring = (0 until steps).map(i => (lat, lon + i / (steps / 1.0))) ++
        (0 until steps).map(i => (lat + i / (steps / 1.0), lon + 1)) ++
        (0 until steps).map(i => (lat + 1, lon + 1 - i / (steps / 1.0))) ++
        (0 until steps).map(i => (lat + 1 - i / (steps / 1.0), lon))
      val c = ring.map { case (la, lo) => CrsTransform.transformXY(lo, la, 4326, epsg) }
      math.abs(c.indices.map { i =>
        val (x1, y1) = c(i); val (x2, y2) = c((i + 1) % c.length)
        x1 * y2 - x2 * y1
      }.sum / 2.0)
    }
    // authalic q on GRS80: exact ellipsoidal area between parallels ∝ Δq
    val e2 = CrsTransform.Grs80.e2; val e = math.sqrt(e2)
    def q(latDeg: Double): Double = {
      val s = math.sin(math.toRadians(latDeg))
      (1.0 - e2) * (s / (1.0 - e2 * s * s) -
        (1.0 / (2.0 * e)) * math.log((1.0 - e * s) / (1.0 + e * s)))
    }
    val ratioProjected = quadArea(5070, 45.0, -100.0) / quadArea(5070, 30.0, -100.0)
    val ratioTrue = (q(46.0) - q(45.0)) / (q(31.0) - q(30.0))
    assert(math.abs(ratioProjected / ratioTrue - 1.0) < 1e-5,
      s"Albers area ratio $ratioProjected vs authalic $ratioTrue")
  }

  test("oblique stereographic: RD New origin exact, Netherlands round-trips") {
    // the natural origin (Amersfoort) is BY DEFINITION (155000, 463000)
    val lat0 = 52.0 + 9.0 / 60.0 + 22.178 / 3600.0
    val lon0 = 5.0 + 23.0 / 60.0 + 15.5 / 3600.0
    val p = CrsTransform.obliqueStereoProjection(CrsTransform.Bessel1841,
      lat0, lon0, 0.9999079, 155000.0, 463000.0)
    val (e0, n0) = p.forward(lon0, lat0)
    assert(math.abs(e0 - 155000.0) < 1e-6 && math.abs(n0 - 463000.0) < 1e-6)
    // projection-level round-trips across the RD domain
    for (lat <- Seq(50.8, 51.5, 52.4, 53.3); lon <- Seq(3.4, 4.9, 6.1, 7.1)) {
      val (e, n) = p.forward(lon, lat)
      val (lon2, lat2) = p.inverse(e, n)
      assert(math.abs(lon2 - lon) < 1e-9 && math.abs(lat2 - lat) < 1e-9,
        s"RD ($lat,$lon) → ($lat2,$lon2)")
    }
    // full 28992 path (with the published Amersfoort 7-param datum leg):
    // Amsterdam sits ~121km E / ~487km N on the RD grid
    val (e, n) = CrsTransform.transformXY(4.9041, 52.3676, 4326, 28992)
    assert(math.abs(e - 121000) < 2000 && math.abs(n - 487400) < 2000, s"($e,$n)")
    val (lon2, lat2) = CrsTransform.transformXY(e, n, 28992, 4326)
    assert(math.abs(lon2 - 4.9041) < 1e-6 && math.abs(lat2 - 52.3676) < 1e-6)
  }

  test("British National Grid: OS worked example and round-trips") {
    // OSGB36 geodetic → grid (projection only, Airy 1830):
    // φ=52°39'27.2531"N λ=1°43'4.5177"E → E=651409.903 N=313177.270
    val lat = 52.0 + 39.0 / 60.0 + 27.2531 / 3600.0
    val lon = 1.0 + 43.0 / 60.0 + 4.5177 / 3600.0
    val p = CrsTransform.tmProjection(CrsTransform.Airy1830,
      49.0, -2.0, 0.9996012717, 400000.0, -100000.0)
    val (e, n) = p.forward(lon, lat)
    assert(math.abs(e - 651409.903) < 0.01, s"E $e")
    assert(math.abs(n - 313177.270) < 0.01, s"N $n")
    // 27700 end-to-end with the published OSGB36 7-param leg: London round-trip
    val (le, ln) = CrsTransform.transformXY(-0.1278, 51.5074, 4326, 27700)
    assert(math.abs(le - 530000) < 2000 && math.abs(ln - 180500) < 2000, s"($le,$ln)")
    val (lon2, lat2) = CrsTransform.transformXY(le, ln, 27700, 4326)
    assert(math.abs(lon2 - -0.1278) < 1e-6 && math.abs(lat2 - 51.5074) < 1e-6)
  }

  test("unsupported EPSG raises the inventory error naming the registry") {
    val ex = intercept[IllegalArgumentException] {
      CrsTransform.transformXY(0.0, 0.0, 4326, 29900)
    }
    assert(ex.getMessage.contains("unsupported EPSG:29900"))
    assert(ex.getMessage.contains("Albers"), "error must inventory the families")
    assert(ex.getMessage.contains("polar stereographic"))
  }

  test("transformWkb: 4326→32650→4326 point round-trip, unsupported EPSG → null") {
    val p = GeomLib.pointWkb(116.4, 39.9)
    val utm = CrsTransform.transformWkb(p, 4326, 32650)
    val back = CrsTransform.transformWkb(utm, 32650, 4326)
    assert(math.abs(GeomLib.stX(back) - 116.4) < 1e-8)
    assert(math.abs(GeomLib.stY(back) - 39.9) < 1e-8)
    assert(CrsTransform.transformWkb(p, 4326, 99999) == null)
    assert(CrsTransform.transformWkb(p, 4326, 4326) eq p) // identity shortcut
  }

  test("st_transform compiles to Java and answers as the interpreted path does") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val p = GeomLib.pointWkb(116.4, 39.9)
    // a point each way, the identity, undecodable WKB, an unsupported EPSG
    // and a null geometry; repartition keeps the projection out of the
    // optimizer's local-relation folding, and `df` is a def because a
    // Dataset keeps the physical plan it first planned
    def df = Seq[(Array[Byte], Int, Int)]((p, 4326, 32650),
        (CrsTransform.transformWkb(p, 4326, 32650), 32650, 4326), (p, 4326, 4326),
        (Array[Byte](1, 3, 0), 4326, 3857), (p, 4326, 99999), (null, 4326, 3857))
      .toDF("g", "s", "d").repartition(2)
      .select(col("s"), col("d"), st_transform(col("g"), col("s"), col("d")).as("t"))
    def rows(f: DataFrame): Seq[(Int, Int, Option[String])] = f.collect().toSeq.map(r =>
      (r.getInt(0), r.getInt(1), Option(r.getAs[Array[Byte]](2))
        .map(_.map("%02x".format(_)).mkString))).sorted
    val planned = df
    val compiled = rows(planned)
    val plan = planned.queryExecution.executedPlan
    assert(codegenString(plan).contains("graft.geom.CrsTransform.transformWkb"), plan)
    val keys = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    val interpreted = try {
      spark.conf.set(keys(0), "NO_CODEGEN"); spark.conf.set(keys(1), "false")
      rows(df)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    assert(compiled == interpreted)
    assert(compiled.count(_._3.isEmpty) == 3, compiled) // bad WKB, EPSG:99999, null
  }
}
