package graft.geom

import org.locationtech.jts.geom.{Coordinate, CoordinateFilter}

/** Coordinate reference system transforms, hand-implemented (no proj4j on the
  * classpath — SURVEY.md §7.4.1). The reference shells out to ogr2ogr/pyproj
  * and so accepts any `.prj` its data carries (east_asia.py:118-137,204-246);
  * this engine covers the CRS families East-Asia (and global web) data
  * actually uses, in-engine and codegen-friendly:
  *
  *   - EPSG:4326 (identity), EPSG:3857 Web Mercator
  *   - EPSG:326xx / 327xx — WGS84 UTM north / south
  *   - Japan plane rectangular zones I-XIX: JGD2000 (2443-2461), JGD2011
  *     (6669-6687), and the classic Tokyo datum (30161-30179, Bessel 1841
  *     ellipsoid + geocentric shift)
  *   - Korea 2000 TM belts: unified 5179 and west/central/east/east-sea
  *     5180-5188 (GRS80)
  *   - CGCS2000 Gauss-Krüger: 6° zones 4491-4501 (zone-prefixed false
  *     easting) and CM variants 4502-4512; 3° zones 4513-4533 and CM
  *     variants 4534-4554 (GRS80)
  *   - RGF93 / Lambert-93 (2154) — the Lambert Conformal Conic 2SP family
  *   - geographic datum members: Tokyo 4301, JGD2000 4612, JGD2011 6668,
  *     Korea 2000 4737, CGCS2000 4490
  *
  * Transverse Mercator uses the Krüger flattening series to n^3 (published
  * form, e.g. Karney 2011 "Transverse Mercator with an accuracy of a few
  * nanometers"), parameterized per ellipsoid with the latitude-of-origin
  * meridian arc subtracted through the same series. LCC 2SP follows the
  * published Snyder/EPSG Guidance Note 7-2 formulas. Non-WGS84 datums bridge
  * through geocentric XYZ with a position-vector Helmert transform; GRS80
  * datums (JGD2000/2011, Korea 2000, CGCS2000, RGF93) are zero-shift
  * realizations (their published transforms to WGS84 are null). The Tokyo
  * datum uses the GSI-derived dX=-146.414 dY=507.337 dZ=680.507 m shift.
  */
object CrsTransform {

  // -------------------------------------------------------------------
  // Ellipsoids
  // -------------------------------------------------------------------
  final case class Ellipsoid(a: Double, invF: Double) {
    val f: Double = 1.0 / invF
    val n: Double = f / (2.0 - f)
    val e2: Double = f * (2.0 - f)
    val e: Double = math.sqrt(e2)
  }

  val Wgs84: Ellipsoid = Ellipsoid(6378137.0, 298.257223563)
  val Grs80: Ellipsoid = Ellipsoid(6378137.0, 298.257222101)
  val Bessel1841: Ellipsoid = Ellipsoid(6377397.155, 299.1528128)
  val Clarke1866: Ellipsoid = Ellipsoid(6378206.4, 294.978698214)
  val Airy1830: Ellipsoid = Ellipsoid(6377563.396, 299.3249646)

  // -------------------------------------------------------------------
  // Datum shift: position-vector 7-parameter Helmert to WGS84
  // -------------------------------------------------------------------
  /** Rotations in arc-seconds, scale in ppm; dx/dy/dz in metres. */
  final case class Helmert(dx: Double, dy: Double, dz: Double,
      rxSec: Double = 0.0, rySec: Double = 0.0, rzSec: Double = 0.0,
      sPpm: Double = 0.0) {
    private val rx = math.toRadians(rxSec / 3600.0)
    private val ry = math.toRadians(rySec / 3600.0)
    private val rz = math.toRadians(rzSec / 3600.0)
    private val s = 1.0 + sPpm * 1e-6

    def forward(x: Double, y: Double, z: Double): (Double, Double, Double) = (
      dx + s * (x - rz * y + ry * z),
      dy + s * (rz * x + y - rx * z),
      dz + s * (-ry * x + rx * y + z))

    /** Inverse via the transposed rotation — exact for 3-param shifts and
      * within r² (~1e-12, sub-millimetre) for arc-second rotations. */
    def inverse(x: Double, y: Double, z: Double): (Double, Double, Double) = {
      val px = (x - dx) / s; val py = (y - dy) / s; val pz = (z - dz) / s
      (px + rz * py - ry * pz, -rz * px + py + rx * pz, ry * px - rx * py + pz)
    }
  }

  /** Geodetic (lon, lat, h=0) → geocentric XYZ on `ell`. */
  def geodeticToXyz(lonDeg: Double, latDeg: Double, ell: Ellipsoid): (Double, Double, Double) = {
    val lat = math.toRadians(latDeg); val lon = math.toRadians(lonDeg)
    val sinLat = math.sin(lat); val cosLat = math.cos(lat)
    val nu = ell.a / math.sqrt(1.0 - ell.e2 * sinLat * sinLat)
    (nu * cosLat * math.cos(lon), nu * cosLat * math.sin(lon),
      nu * (1.0 - ell.e2) * sinLat)
  }

  /** Geocentric XYZ → geodetic (lon, lat) on `ell`; fixed-point iteration on
    * latitude (converges to double precision in < 10 rounds for |h| ≈ 0). */
  def xyzToGeodetic(x: Double, y: Double, z: Double, ell: Ellipsoid): (Double, Double) = {
    val p = math.hypot(x, y)
    var lat = math.atan2(z, p * (1.0 - ell.e2))
    var i = 0
    while (i < 12) {
      val sinLat = math.sin(lat)
      val nu = ell.a / math.sqrt(1.0 - ell.e2 * sinLat * sinLat)
      lat = math.atan2(z + ell.e2 * nu * sinLat, p)
      i += 1
    }
    (math.toDegrees(math.atan2(y, x)), math.toDegrees(lat))
  }

  // -------------------------------------------------------------------
  // Transverse Mercator (Krüger series, per-ellipsoid, arbitrary origin)
  // -------------------------------------------------------------------
  /** Krüger-series TM: ellipsoid + latitude/longitude of natural origin,
    * scale factor, false easting/northing. The latitude of origin enters as
    * a meridian-arc offset computed through the same series, so the natural
    * origin maps exactly to (fe, fn). */
  final class TmProjection(val ell: Ellipsoid, lat0Deg: Double, lon0Deg: Double,
      k0: Double, fe: Double, fn: Double) {
    private val n = ell.n
    private val aMaj = ell.a / (1.0 + n) * (1.0 + n * n / 4.0 + n * n * n * n / 64.0)
    private val a1 = n / 2.0 - 2.0 * n * n / 3.0 + 5.0 * n * n * n / 16.0
    private val a2 = 13.0 * n * n / 48.0 - 3.0 * n * n * n / 5.0
    private val a3 = 61.0 * n * n * n / 240.0
    private val b1 = n / 2.0 - 2.0 * n * n / 3.0 + 37.0 * n * n * n / 96.0
    private val b2 = n * n / 48.0 + n * n * n / 15.0
    private val b3 = 17.0 * n * n * n / 480.0
    private val d1 = 2.0 * n - 2.0 * n * n / 3.0 - 2.0 * n * n * n
    private val d2 = 7.0 * n * n / 3.0 - 8.0 * n * n * n / 5.0
    private val d3 = 56.0 * n * n * n / 15.0
    private val eSer = 2.0 * math.sqrt(n) / (1.0 + n) // = first eccentricity

    private def xiOf(latDeg: Double, lamRad: Double): (Double, Double) = {
      val phi = math.toRadians(latDeg)
      val sinPhi = math.sin(phi)
      val t = math.sinh(atanh(sinPhi) - eSer * atanh(eSer * sinPhi))
      val xiP = math.atan2(t, math.cos(lamRad))
      val etaP = asinh(math.sin(lamRad) / math.hypot(t, math.cos(lamRad)))
      val xi = xiP +
        a1 * math.sin(2 * xiP) * math.cosh(2 * etaP) +
        a2 * math.sin(4 * xiP) * math.cosh(4 * etaP) +
        a3 * math.sin(6 * xiP) * math.cosh(6 * etaP)
      val eta = etaP +
        a1 * math.cos(2 * xiP) * math.sinh(2 * etaP) +
        a2 * math.cos(4 * xiP) * math.sinh(4 * etaP) +
        a3 * math.cos(6 * xiP) * math.sinh(6 * etaP)
      (xi, eta)
    }

    // meridian arc to the latitude of origin, through the same series
    private val m0 = if (lat0Deg == 0.0) 0.0 else aMaj * xiOf(lat0Deg, 0.0)._1

    def forward(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val lam = math.toRadians(lonDeg - lon0Deg)
      val (xi, eta) = xiOf(latDeg, lam)
      (fe + k0 * aMaj * eta, fn + k0 * (aMaj * xi - m0))
    }

    def inverse(easting: Double, northing: Double): (Double, Double) = {
      val xi = (northing - fn + k0 * m0) / (k0 * aMaj)
      val eta = (easting - fe) / (k0 * aMaj)
      val xiP = xi -
        (b1 * math.sin(2 * xi) * math.cosh(2 * eta) +
          b2 * math.sin(4 * xi) * math.cosh(4 * eta) +
          b3 * math.sin(6 * xi) * math.cosh(6 * eta))
      val etaP = eta -
        (b1 * math.cos(2 * xi) * math.sinh(2 * eta) +
          b2 * math.cos(4 * xi) * math.sinh(4 * eta) +
          b3 * math.cos(6 * xi) * math.sinh(6 * eta))
      val chi = math.asin(math.sin(xiP) / math.cosh(etaP))
      val phi = chi +
        d1 * math.sin(2 * chi) +
        d2 * math.sin(4 * chi) +
        d3 * math.sin(6 * chi)
      val lam = math.atan2(math.sinh(etaP), math.cos(xiP))
      (lon0Deg + math.toDegrees(lam), math.toDegrees(phi))
    }
  }

  // -------------------------------------------------------------------
  // Lambert Conformal Conic, 2 standard parallels (Snyder / EPSG GN 7-2)
  // -------------------------------------------------------------------
  /** 2SP per EPSG GN 7-2 method 9802; with `lat1 == lat2` and `k0 != 1` this
    * is exactly the 1SP method 9801 (nCone = sin(phi0), radii scaled k0). */
  final class LccProjection(val ell: Ellipsoid, lat1Deg: Double, lat2Deg: Double,
      lat0Deg: Double, lon0Deg: Double, fe: Double, fn: Double,
      k0: Double = 1.0) {
    private val e = ell.e
    private def mOf(phi: Double): Double = {
      val s = math.sin(phi)
      math.cos(phi) / math.sqrt(1.0 - ell.e2 * s * s)
    }
    private def tOf(phi: Double): Double = {
      val s = math.sin(phi)
      math.tan(math.Pi / 4.0 - phi / 2.0) /
        math.pow((1.0 - e * s) / (1.0 + e * s), e / 2.0)
    }
    private val phi1 = math.toRadians(lat1Deg)
    private val phi2 = math.toRadians(lat2Deg)
    private val phi0 = math.toRadians(lat0Deg)
    private val nCone =
      if (lat1Deg == lat2Deg) math.sin(phi1)
      else math.log(mOf(phi1) / mOf(phi2)) / math.log(tOf(phi1) / tOf(phi2))
    private val fBig = mOf(phi1) / (nCone * math.pow(tOf(phi1), nCone))
    private val rho0 = k0 * ell.a * fBig * math.pow(tOf(phi0), nCone)

    def forward(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val phi = math.toRadians(latDeg)
      val theta = nCone * math.toRadians(lonDeg - lon0Deg)
      val rho = k0 * ell.a * fBig * math.pow(tOf(phi), nCone)
      (fe + rho * math.sin(theta), fn + rho0 - rho * math.cos(theta))
    }

    def inverse(easting: Double, northing: Double): (Double, Double) = {
      val dx = easting - fe
      val dy = rho0 - (northing - fn)
      val sign = if (nCone >= 0) 1.0 else -1.0
      val rhoP = sign * math.hypot(dx, dy)
      val tP = math.pow(rhoP / (k0 * ell.a * fBig), 1.0 / nCone)
      val theta = math.atan2(sign * dx, sign * dy)
      var phi = math.Pi / 2.0 - 2.0 * math.atan(tP)
      var i = 0
      while (i < 10) {
        val s = math.sin(phi)
        phi = math.Pi / 2.0 - 2.0 * math.atan(
          tP * math.pow((1.0 - e * s) / (1.0 + e * s), e / 2.0))
        i += 1
      }
      (lon0Deg + math.toDegrees(theta / nCone), math.toDegrees(phi))
    }
  }

  // -------------------------------------------------------------------
  // Albers Equal Area (EPSG method 9822, Snyder 14-1..14-21)
  // -------------------------------------------------------------------
  final class AlbersProjection(val ell: Ellipsoid, lat1Deg: Double,
      lat2Deg: Double, lat0Deg: Double, lon0Deg: Double,
      fe: Double, fn: Double) {
    private val e = ell.e
    private val e2 = ell.e2
    private def mOf(phi: Double): Double = {
      val s = math.sin(phi)
      math.cos(phi) / math.sqrt(1.0 - e2 * s * s)
    }
    /** Authalic q. */
    private def qOf(phi: Double): Double = {
      val s = math.sin(phi)
      (1.0 - e2) * (s / (1.0 - e2 * s * s) -
        (1.0 / (2.0 * e)) * math.log((1.0 - e * s) / (1.0 + e * s)))
    }
    private val phi1 = math.toRadians(lat1Deg)
    private val phi2 = math.toRadians(lat2Deg)
    private val phi0 = math.toRadians(lat0Deg)
    private val nCone =
      if (lat1Deg == lat2Deg) math.sin(phi1)
      else (mOf(phi1) * mOf(phi1) - mOf(phi2) * mOf(phi2)) / (qOf(phi2) - qOf(phi1))
    private val cBig = mOf(phi1) * mOf(phi1) + nCone * qOf(phi1)
    private val rho0 = ell.a * math.sqrt(cBig - nCone * qOf(phi0)) / nCone

    def forward(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val phi = math.toRadians(latDeg)
      val theta = nCone * math.toRadians(lonDeg - lon0Deg)
      val rho = ell.a * math.sqrt(cBig - nCone * qOf(phi)) / nCone
      (fe + rho * math.sin(theta), fn + rho0 - rho * math.cos(theta))
    }

    def inverse(easting: Double, northing: Double): (Double, Double) = {
      val dx = easting - fe
      val dy = rho0 - (northing - fn)
      val sign = if (nCone >= 0) 1.0 else -1.0
      val rhoP = sign * math.hypot(dx, dy)
      val theta = math.atan2(sign * dx, sign * dy)
      val q = (cBig - math.pow(rhoP * nCone / ell.a, 2.0)) / nCone
      // Snyder 3-16 iteration from the spherical seed
      var phi = math.asin(math.max(-1.0, math.min(1.0, q / 2.0)))
      var i = 0
      while (i < 12) {
        val s = math.sin(phi)
        val denom = 1.0 - e2 * s * s
        phi = phi + denom * denom / (2.0 * math.cos(phi)) *
          (q / (1.0 - e2) - s / denom +
            (1.0 / (2.0 * e)) * math.log((1.0 - e * s) / (1.0 + e * s)))
        i += 1
      }
      (lon0Deg + math.toDegrees(theta / nCone), math.toDegrees(phi))
    }
  }

  // -------------------------------------------------------------------
  // Polar Stereographic (EPSG methods 9810 variant A / 9829 variant B)
  // -------------------------------------------------------------------
  /** `north`: pole of projection. Variant A passes k0 directly (UPS: 0.994);
    * variant B derives k0 from the standard parallel latTsDeg. */
  final class PolarStereoProjection private (val ell: Ellipsoid,
      north: Boolean, lon0Deg: Double, k0: Double, fe: Double, fn: Double) {
    private val e = ell.e
    private val bigK = math.sqrt(
      math.pow(1.0 + e, 1.0 + e) * math.pow(1.0 - e, 1.0 - e))
    private def tOf(phi: Double): Double = {
      val s = math.sin(phi)
      if (north)
        math.tan(math.Pi / 4.0 - phi / 2.0) *
          math.pow((1.0 + e * s) / (1.0 - e * s), e / 2.0)
      else
        math.tan(math.Pi / 4.0 + phi / 2.0) /
          math.pow((1.0 + e * s) / (1.0 - e * s), e / 2.0)
    }

    def forward(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val phi = math.toRadians(latDeg)
      val dlam = math.toRadians(lonDeg - lon0Deg)
      val rho = 2.0 * ell.a * k0 * tOf(phi) / bigK
      if (north) (fe + rho * math.sin(dlam), fn - rho * math.cos(dlam))
      else (fe + rho * math.sin(dlam), fn + rho * math.cos(dlam))
    }

    def inverse(easting: Double, northing: Double): (Double, Double) = {
      val dx = easting - fe
      val dy = northing - fn
      val rho = math.hypot(dx, dy)
      val tP = rho * bigK / (2.0 * ell.a * k0)
      var phi = if (north) math.Pi / 2.0 - 2.0 * math.atan(tP)
        else 2.0 * math.atan(tP) - math.Pi / 2.0
      var i = 0
      while (i < 10) {
        val s = math.sin(phi)
        phi = if (north)
          math.Pi / 2.0 - 2.0 * math.atan(
            tP * math.pow((1.0 - e * s) / (1.0 + e * s), e / 2.0))
        else
          2.0 * math.atan(tP * math.pow((1.0 + e * s) / (1.0 - e * s), e / 2.0)) -
            math.Pi / 2.0
        i += 1
      }
      val lam = if (rho < 1e-12) 0.0
        else if (north) math.atan2(dx, -dy)
        else math.atan2(dx, dy)
      // lon0 + lam can leave (-180, 180]: polar grids span all longitudes
      var lon = lon0Deg + math.toDegrees(lam)
      while (lon > 180.0) lon -= 360.0
      while (lon <= -180.0) lon += 360.0
      (lon, math.toDegrees(phi))
    }
  }
  object PolarStereoProjection {
    /** Variant A: scale at the pole. */
    def variantA(ell: Ellipsoid, north: Boolean, lon0Deg: Double, k0: Double,
        fe: Double, fn: Double): PolarStereoProjection =
      new PolarStereoProjection(ell, north, lon0Deg, k0, fe, fn)
    /** Variant B: standard parallel latTsDeg (its sign fixes the pole). */
    def variantB(ell: Ellipsoid, latTsDeg: Double, lon0Deg: Double,
        fe: Double, fn: Double): PolarStereoProjection = {
      val north = latTsDeg >= 0.0
      val e = ell.e
      val phiF = math.toRadians(latTsDeg)
      val s = math.sin(phiF)
      val mF = math.cos(phiF) / math.sqrt(1.0 - ell.e2 * s * s)
      val tF = if (north)
        math.tan(math.Pi / 4.0 - phiF / 2.0) *
          math.pow((1.0 + e * s) / (1.0 - e * s), e / 2.0)
      else
        math.tan(math.Pi / 4.0 + phiF / 2.0) /
          math.pow((1.0 + e * s) / (1.0 - e * s), e / 2.0)
      val bigK = math.sqrt(
        math.pow(1.0 + e, 1.0 + e) * math.pow(1.0 - e, 1.0 - e))
      val k0 = mF * bigK / (2.0 * tF)
      new PolarStereoProjection(ell, north, lon0Deg, k0, fe, fn)
    }
  }

  // -------------------------------------------------------------------
  // Oblique Stereographic (EPSG method 9809 — double projection through
  // the Gauss conformal sphere; the RD New / Amersfoort method)
  // -------------------------------------------------------------------
  final class ObliqueStereoProjection(val ell: Ellipsoid, lat0Deg: Double,
      lon0Deg: Double, k0: Double, fe: Double, fn: Double) {
    private val e = ell.e
    private val phi0 = math.toRadians(lat0Deg)
    private val lam0 = math.toRadians(lon0Deg)
    private val s0 = math.sin(phi0)
    private val nu0 = ell.a / math.sqrt(1.0 - ell.e2 * s0 * s0)
    private val rho0m = ell.a * (1.0 - ell.e2) /
      math.pow(1.0 - ell.e2 * s0 * s0, 1.5)
    private val bigR = math.sqrt(rho0m * nu0)
    private val nGauss = math.sqrt(
      1.0 + ell.e2 * math.pow(math.cos(phi0), 4.0) / (1.0 - ell.e2))
    private val w1 = math.pow(
      (1.0 + s0) / (1.0 - s0) *
        math.pow((1.0 - e * s0) / (1.0 + e * s0), e), nGauss)
    private val sinChi00 = (w1 - 1.0) / (w1 + 1.0)
    private val cGauss = (nGauss + s0) * (1.0 - sinChi00) /
      ((nGauss - s0) * (1.0 + sinChi00))
    private val w2 = cGauss * w1
    private val chi0 = math.asin((w2 - 1.0) / (w2 + 1.0))
    private val lamC0 = lam0

    private def toSphere(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val phi = math.toRadians(latDeg)
      val lam = math.toRadians(lonDeg)
      val s = math.sin(phi)
      val w = cGauss * math.pow(
        (1.0 + s) / (1.0 - s) * math.pow((1.0 - e * s) / (1.0 + e * s), e),
        nGauss)
      val chi = math.asin((w - 1.0) / (w + 1.0))
      val lamC = nGauss * (lam - lamC0) + lamC0
      (chi, lamC)
    }

    def forward(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val (chi, lamC) = toSphere(lonDeg, latDeg)
      val b = 1.0 + math.sin(chi) * math.sin(chi0) +
        math.cos(chi) * math.cos(chi0) * math.cos(lamC - lamC0)
      val x = fe + 2.0 * bigR * k0 * math.cos(chi) * math.sin(lamC - lamC0) / b
      val y = fn + 2.0 * bigR * k0 * (math.sin(chi) * math.cos(chi0) -
        math.cos(chi) * math.sin(chi0) * math.cos(lamC - lamC0)) / b
      (x, y)
    }

    def inverse(easting: Double, northing: Double): (Double, Double) = {
      val eP = easting - fe
      val nP = northing - fn
      val g = 2.0 * bigR * k0 * math.tan(math.Pi / 4.0 - chi0 / 2.0)
      val h = 4.0 * bigR * k0 * math.tan(chi0) + g
      val i0 = math.atan2(eP, h + nP)
      val j0 = math.atan2(eP, g - nP) - i0
      val chi = chi0 + 2.0 * math.atan2(nP - eP * math.tan(j0 / 2.0),
        2.0 * bigR * k0)
      val lamC = j0 + 2.0 * i0 + lamC0
      val lam = (lamC - lamC0) / nGauss + lamC0
      // isometric latitude of chi, then Newton-free fixed point to geodetic
      val psi = 0.5 * math.log(
        (1.0 + math.sin(chi)) / (cGauss * (1.0 - math.sin(chi)))) / nGauss
      var phi = 2.0 * math.atan(math.exp(psi)) - math.Pi / 2.0
      var it = 0
      while (it < 15) {
        val s = math.sin(phi)
        val psiI = math.log(math.tan(phi / 2.0 + math.Pi / 4.0) *
          math.pow((1.0 - e * s) / (1.0 + e * s), e / 2.0))
        phi = phi - (psiI - psi) * math.cos(phi) * (1.0 - ell.e2 * s * s) /
          (1.0 - ell.e2)
        it += 1
      }
      (math.toDegrees(lam), math.toDegrees(phi))
    }
  }

  // -------------------------------------------------------------------
  // EPSG registry
  // -------------------------------------------------------------------
  /** A CRS = optional projection over a datum; `datum` is the shift of the
    * underlying geographic CRS to WGS84 (None = WGS84-equivalent). */
  private sealed trait Proj {
    def forward(lonDeg: Double, latDeg: Double): (Double, Double)
    def inverse(x: Double, y: Double): (Double, Double)
  }
  private final case class TmProj(p: TmProjection) extends Proj {
    def forward(lon: Double, lat: Double) = p.forward(lon, lat)
    def inverse(x: Double, y: Double) = p.inverse(x, y)
  }
  private final case class LccProj(p: LccProjection) extends Proj {
    def forward(lon: Double, lat: Double) = p.forward(lon, lat)
    def inverse(x: Double, y: Double) = p.inverse(x, y)
  }
  private final case class AlbersProj(p: AlbersProjection) extends Proj {
    def forward(lon: Double, lat: Double) = p.forward(lon, lat)
    def inverse(x: Double, y: Double) = p.inverse(x, y)
  }
  private final case class PolarProj(p: PolarStereoProjection) extends Proj {
    def forward(lon: Double, lat: Double) = p.forward(lon, lat)
    def inverse(x: Double, y: Double) = p.inverse(x, y)
  }
  private final case class ObliqueProj(p: ObliqueStereoProjection) extends Proj {
    def forward(lon: Double, lat: Double) = p.forward(lon, lat)
    def inverse(x: Double, y: Double) = p.inverse(x, y)
  }
  private case object GeographicProj extends Proj {
    def forward(lon: Double, lat: Double) = (lon, lat)
    def inverse(x: Double, y: Double) = (x, y)
  }
  private case object WebMercProj extends Proj {
    def forward(lon: Double, lat: Double) = wgs84ToWebMerc(lon, lat)
    def inverse(x: Double, y: Double) = webMercToWgs84(x, y)
  }
  private final case class Crs(proj: Proj, ell: Ellipsoid, datum: Option[Helmert])

  private val TokyoShift = Helmert(-146.414, 507.337, 680.507)

  /** Japan plane rectangular zones I..XIX: (lat0, lon0) per GSI. */
  private val JapanZones: IndexedSeq[(Double, Double)] = IndexedSeq(
    (33.0, 129.5), (33.0, 131.0), (36.0, 132.0 + 10.0 / 60.0), (33.0, 133.5),
    (36.0, 134.0 + 20.0 / 60.0), (36.0, 136.0), (36.0, 137.0 + 10.0 / 60.0),
    (36.0, 138.5), (36.0, 139.0 + 50.0 / 60.0), (40.0, 140.0 + 50.0 / 60.0),
    (44.0, 140.25), (44.0, 142.25), (44.0, 144.25), (26.0, 142.0),
    (26.0, 127.5), (26.0, 124.0), (26.0, 131.0), (20.0, 136.0), (26.0, 154.0))

  private def japanTm(zone1: Int, ell: Ellipsoid): TmProjection = {
    val (lat0, lon0) = JapanZones(zone1 - 1)
    new TmProjection(ell, lat0, lon0, 0.9999, 0.0, 0.0)
  }

  /** Korea 2000 belts keyed by EPSG: unified 5179 + belts 5180-5188. */
  private def koreaTm(epsg: Int): TmProjection = epsg match {
    case 5179 => new TmProjection(Grs80, 38.0, 127.5, 0.9996, 1000000.0, 2000000.0)
    case 5180 => new TmProjection(Grs80, 38.0, 125.0, 1.0, 200000.0, 500000.0)
    case 5181 => new TmProjection(Grs80, 38.0, 127.0, 1.0, 200000.0, 500000.0)
    case 5182 => new TmProjection(Grs80, 38.0, 127.0, 1.0, 200000.0, 550000.0)
    case 5183 => new TmProjection(Grs80, 38.0, 129.0, 1.0, 200000.0, 500000.0)
    case 5184 => new TmProjection(Grs80, 38.0, 131.0, 1.0, 200000.0, 500000.0)
    case 5185 => new TmProjection(Grs80, 38.0, 125.0, 1.0, 200000.0, 600000.0)
    case 5186 => new TmProjection(Grs80, 38.0, 127.0, 1.0, 200000.0, 600000.0)
    case 5187 => new TmProjection(Grs80, 38.0, 129.0, 1.0, 200000.0, 600000.0)
    case 5188 => new TmProjection(Grs80, 38.0, 131.0, 1.0, 200000.0, 600000.0)
    case other => throw new IllegalArgumentException(s"not a Korea belt: $other")
  }

  private val Lambert93 =
    new LccProjection(Grs80, 44.0, 49.0, 46.5, 3.0, 700000.0, 6600000.0)

  // transformXY runs per COORDINATE in codegen'd kernels — resolve each
  // EPSG's projection object once per JVM, not once per point.
  private val crsCache = new java.util.concurrent.ConcurrentHashMap[Int, Crs]()
  private def crsFor(epsg: Int): Crs = {
    val cached = crsCache.get(epsg)
    if (cached != null) cached
    else {
      val built = buildCrs(epsg) // throws on unsupported: never cached
      crsCache.putIfAbsent(epsg, built)
      built
    }
  }

  private def buildCrs(epsg: Int): Crs = epsg match {
    case 4326 => Crs(GeographicProj, Wgs84, None)
    case 3857 => Crs(WebMercProj, Wgs84, None)
    case z if z >= 32601 && z <= 32660 =>
      Crs(TmProj(new TmProjection(Wgs84, 0.0, zoneCentralMeridian(z - 32600), 0.9996, 500000.0, 0.0)), Wgs84, None)
    case z if z >= 32701 && z <= 32760 =>
      Crs(TmProj(new TmProjection(Wgs84, 0.0, zoneCentralMeridian(z - 32700), 0.9996, 500000.0, 10000000.0)), Wgs84, None)
    // Japan plane rectangular: JGD2000 / JGD2011 (GRS80, null shift), Tokyo (Bessel)
    case z if z >= 2443 && z <= 2461 =>
      Crs(TmProj(japanTm(z - 2442, Grs80)), Grs80, None)
    case z if z >= 6669 && z <= 6687 =>
      Crs(TmProj(japanTm(z - 6668, Grs80)), Grs80, None)
    case z if z >= 30161 && z <= 30179 =>
      Crs(TmProj(japanTm(z - 30160, Bessel1841)), Bessel1841, Some(TokyoShift))
    // Korea 2000
    case z if z >= 5179 && z <= 5188 => Crs(TmProj(koreaTm(z)), Grs80, None)
    // CGCS2000 Gauss-Krüger
    case z if z >= 4491 && z <= 4501 => // 6° zones 13..23, zone-prefixed FE
      val zone = z - 4491 + 13
      Crs(TmProj(new TmProjection(Grs80, 0.0, 6.0 * zone - 3.0, 1.0, zone * 1000000.0 + 500000.0, 0.0)), Grs80, None)
    case z if z >= 4502 && z <= 4512 => // 6° CM 75E..135E
      Crs(TmProj(new TmProjection(Grs80, 0.0, 75.0 + 6.0 * (z - 4502), 1.0, 500000.0, 0.0)), Grs80, None)
    case z if z >= 4513 && z <= 4533 => // 3° zones 25..45, zone-prefixed FE
      val zone = z - 4513 + 25
      Crs(TmProj(new TmProjection(Grs80, 0.0, 3.0 * zone, 1.0, zone * 1000000.0 + 500000.0, 0.0)), Grs80, None)
    case z if z >= 4534 && z <= 4554 => // 3° CM 75E..135E
      Crs(TmProj(new TmProjection(Grs80, 0.0, 75.0 + 3.0 * (z - 4534), 1.0, 500000.0, 0.0)), Grs80, None)
    // Lambert Conformal Conic family instance: RGF93 / Lambert-93
    case 2154 => Crs(LccProj(Lambert93), Grs80, None)
    // LCC 1SP: Jamaica 1969 / Jamaica National Grid (EPSG GN7-2's worked
    // example for method 9801); Clarke 1866 + published 3-param shift
    case 24200 => Crs(LccProj(new LccProjection(Clarke1866, 18.0, 18.0,
      18.0, -77.0, 250000.0, 150000.0, 1.0)), Clarke1866,
      Some(Helmert(70.0, 207.0, 389.5)))
    // Albers equal-area: NAD83 / Conus Albers and GDA94 / Australian Albers
    // (GRS80 datums with null shift to WGS84)
    case 5070 => Crs(AlbersProj(new AlbersProjection(Grs80, 29.5, 45.5,
      23.0, -96.0, 0.0, 0.0)), Grs80, None)
    case 3577 => Crs(AlbersProj(new AlbersProjection(Grs80, -18.0, -36.0,
      0.0, 132.0, 0.0, 0.0)), Grs80, None)
    // Polar stereographic variant B: NSIDC Sea Ice North (3413), Antarctic
    // Polar Stereographic (3031), Arctic Polar Stereographic (3995),
    // Australian Antarctic (3032 — GN7-2's method 9829 worked example)
    case 3413 => Crs(PolarProj(PolarStereoProjection.variantB(Wgs84,
      70.0, -45.0, 0.0, 0.0)), Wgs84, None)
    case 3031 => Crs(PolarProj(PolarStereoProjection.variantB(Wgs84,
      -71.0, 0.0, 0.0, 0.0)), Wgs84, None)
    case 3995 => Crs(PolarProj(PolarStereoProjection.variantB(Wgs84,
      71.0, 0.0, 0.0, 0.0)), Wgs84, None)
    case 3032 => Crs(PolarProj(PolarStereoProjection.variantB(Wgs84,
      -71.0, 70.0, 6000000.0, 6000000.0)), Wgs84, None)
    // Polar stereographic variant A: Universal Polar Stereographic N/S
    case 5041 => Crs(PolarProj(PolarStereoProjection.variantA(Wgs84,
      north = true, 0.0, 0.994, 2000000.0, 2000000.0)), Wgs84, None)
    case 5042 => Crs(PolarProj(PolarStereoProjection.variantA(Wgs84,
      north = false, 0.0, 0.994, 2000000.0, 2000000.0)), Wgs84, None)
    // Oblique stereographic: Amersfoort / RD New (method 9809's defining
    // instance; Bessel 1841 + published 7-param Amersfoort shift)
    case 28992 => Crs(ObliqueProj(new ObliqueStereoProjection(Bessel1841,
      52.0 + 9.0 / 60.0 + 22.178 / 3600.0, 5.0 + 23.0 / 60.0 + 15.5 / 3600.0,
      0.9999079, 155000.0, 463000.0)), Bessel1841,
      Some(Helmert(565.417, 50.3319, 465.552, -0.398957, 0.343988, -1.8774,
        4.0725)))
    // OSGB36 / British National Grid: TM on Airy 1830 + published 7-param
    case 27700 => Crs(TmProj(new TmProjection(Airy1830, 49.0, -2.0,
      0.9996012717, 400000.0, -100000.0)), Airy1830,
      Some(Helmert(446.448, -125.157, 542.06, 0.15, 0.247, 0.842, -20.4894)))
    // geographic datum members
    case 4301 => Crs(GeographicProj, Bessel1841, Some(TokyoShift))
    case 4612 | 6668 | 4737 | 4490 => Crs(GeographicProj, Grs80, None)
    case 4277 => Crs(GeographicProj, Airy1830,
      Some(Helmert(446.448, -125.157, 542.06, 0.15, 0.247, 0.842, -20.4894)))
    case 4289 => Crs(GeographicProj, Bessel1841,
      Some(Helmert(565.417, 50.3319, 465.552, -0.398957, 0.343988, -1.8774,
        4.0725)))
    case other => throw new IllegalArgumentException(
      s"unsupported EPSG:$other — in-engine registry covers: 4326, 3857, " +
        "UTM 326xx/327xx, Japan zones 2443-2461/6669-6687/30161-30179, " +
        "Korea 5179-5188, CGCS2000 GK 4491-4554, Lambert-93 2154, " +
        "Jamaica LCC-1SP 24200, Albers 5070/3577, polar stereographic " +
        "3413/3031/3995/3032/5041/5042, RD New 28992, British Grid 27700, " +
        "geographic 4301/4612/6668/4737/4490/4277/4289. Other codes need " +
        "the parameterized projection hooks (tmProjection/lccProjection/" +
        "albersProjection/polarStereo*/obliqueStereoProjection) or an " +
        "external reprojection before ingest (reference F5 fallback).")
  }

  /** Is `epsg` a CRS this engine can transform to/from 4326? */
  def supported(epsg: Int): Boolean =
    try { crsFor(epsg); true } catch { case _: IllegalArgumentException => false }

  // -------------------------------------------------------------------
  // Legacy single-family API (kept: tests + fused kernels call these)
  // -------------------------------------------------------------------
  private val WebMercR = 6378137.0

  /** UTM zone central meridian in degrees. */
  def zoneCentralMeridian(zone: Int): Double = -183.0 + 6.0 * zone

  private def utmProj(zone: Int, north: Boolean): TmProjection =
    crsFor(zone + (if (north) 32600 else 32700)).proj match {
      case TmProj(p) => p
      case other => throw new IllegalStateException(s"UTM resolved to $other")
    }

  /** (lat, lon) degrees → (easting, northing) for UTM `zone`/`north`. */
  def wgs84ToUtm(lat: Double, lon: Double, zone: Int, north: Boolean): (Double, Double) =
    utmProj(zone, north).forward(lon, lat)

  /** (easting, northing) of UTM `zone`/`north` → (lon, lat) degrees. */
  def utmToWgs84(easting: Double, northing: Double, zone: Int, north: Boolean): (Double, Double) =
    utmProj(zone, north).inverse(easting, northing)

  def webMercToWgs84(x: Double, y: Double): (Double, Double) = {
    val lon = math.toDegrees(x / WebMercR)
    val lat = math.toDegrees(math.atan(math.sinh(y / WebMercR)))
    (lon, lat)
  }

  def wgs84ToWebMerc(lon: Double, lat: Double): (Double, Double) = {
    val x = WebMercR * math.toRadians(lon)
    val y = WebMercR * atanh(math.sin(math.toRadians(lat)))
    (x, y)
  }

  private def atanh(x: Double): Double = 0.5 * math.log((1.0 + x) / (1.0 - x))
  private def asinh(x: Double): Double = math.log(x + math.sqrt(x * x + 1.0))

  // public hooks for anchored tests of the parameterized projections (and
  // the escape hatch for EPSG codes outside the registry)
  def tmProjection(ell: Ellipsoid, lat0: Double, lon0: Double, k0: Double,
      fe: Double, fn: Double): TmProjection = new TmProjection(ell, lat0, lon0, k0, fe, fn)
  def lccProjection(ell: Ellipsoid, lat1: Double, lat2: Double, lat0: Double,
      lon0: Double, fe: Double, fn: Double, k0: Double = 1.0): LccProjection =
    new LccProjection(ell, lat1, lat2, lat0, lon0, fe, fn, k0)
  def albersProjection(ell: Ellipsoid, lat1: Double, lat2: Double, lat0: Double,
      lon0: Double, fe: Double, fn: Double): AlbersProjection =
    new AlbersProjection(ell, lat1, lat2, lat0, lon0, fe, fn)
  def obliqueStereoProjection(ell: Ellipsoid, lat0: Double, lon0: Double,
      k0: Double, fe: Double, fn: Double): ObliqueStereoProjection =
    new ObliqueStereoProjection(ell, lat0, lon0, k0, fe, fn)

  /** Transform a single (x, y) from `srcEpsg` to `dstEpsg`. Every path goes
    * projected → geographic-on-source-datum → WGS84 → dst datum → projected;
    * the datum bridge (geocentric Helmert) engages only when a side's datum
    * is non-null, so the common zero-shift paths stay pure projection math.
    * Throws on unsupported codes (callers surface this as a null / per-file
    * error, reference F10). */
  def transformXY(x: Double, y: Double, srcEpsg: Int, dstEpsg: Int): (Double, Double) = {
    if (srcEpsg == dstEpsg) return (x, y)
    val src = crsFor(srcEpsg)
    val dst = crsFor(dstEpsg)
    val (lonS, latS) = src.proj.inverse(x, y)
    val (lonW, latW) = src.datum match {
      case None => (lonS, latS)
      case Some(h) =>
        val (gx, gy, gz) = geodeticToXyz(lonS, latS, src.ell)
        val (wx, wy, wz) = h.forward(gx, gy, gz)
        xyzToGeodetic(wx, wy, wz, Wgs84)
    }
    val (lonD, latD) = dst.datum match {
      case None => (lonW, latW)
      case Some(h) =>
        val (wx, wy, wz) = geodeticToXyz(lonW, latW, Wgs84)
        val (gx, gy, gz) = h.inverse(wx, wy, wz)
        xyzToGeodetic(gx, gy, gz, dst.ell)
    }
    dst.proj.forward(lonD, latD)
  }

  /** ST_Transform over WKB: applies [[transformXY]] to every coordinate via
    * a JTS CoordinateFilter (SURVEY.md G4). Returns null on undecodable
    * input or unsupported EPSG. */
  def transformWkb(wkb: Array[Byte], srcEpsg: Int, dstEpsg: Int): Array[Byte] = {
    if (srcEpsg == dstEpsg) return wkb
    val g = GeomLib.readOrNull(wkb)
    if (g == null) return null
    try {
      g.apply(new CoordinateFilter {
        override def filter(c: Coordinate): Unit = {
          val (nx, ny) = transformXY(c.x, c.y, srcEpsg, dstEpsg)
          c.x = nx
          c.y = ny
        }
      })
      g.geometryChanged()
      GeomLib.write(g)
    } catch { case _: IllegalArgumentException => null }
  }
}
