package graft.core

import org.scalatest.funsuite.AnyFunSuite
import graft.core.geom._
import graft.core.cell.Grid

class GeomSpec extends AnyFunSuite {
  // seeded property loops (scalatestplus bridge is not in the offline cache)
  private def forRandom(n: Int)(body: scala.util.Random => Unit): Unit = {
    val rnd = new scala.util.Random(42)
    (1 to n).foreach(_ => body(rnd))
  }

  test("WKB round-trip for all geometry types") {
    val geoms: Seq[Geom] = Seq(
      Geom.point(1000.5, -2000.25),
      Geom.line((0, 0), (10, 0), (10, 10)),
      Geom.envelopePoly(1000, 2000, 1025, 2025),
      PolygonG(Array(
        Array(Pt(0, 0), Pt(100, 0), Pt(100, 100), Pt(0, 100), Pt(0, 0)),
        Array(Pt(40, 40), Pt(60, 40), Pt(60, 60), Pt(40, 60), Pt(40, 40)))),
      MultiPolygonG(Array(
        Geom.envelopePoly(0, 0, 10, 10), Geom.envelopePoly(20, 20, 30, 30))),
      MultiPointG(Array(Pt(1, 2), Pt(3, 4))),
      MultiLineStringG(Array(Geom.line((0, 0), (1, 1)), Geom.line((2, 2), (3, 3)))))
    // Array fields make case-class == reference-based; compare via WKT text.
    for (g <- geoms)
      assert(Geom.toWkt(Geom.fromWkb(Geom.toWkb(g))) == Geom.toWkt(g), s"roundtrip $g")
  }

  test("WKB equality is structural (arrays)") {
    val a = Geom.toWkb(Geom.point(1, 2))
    val b = Geom.toWkb(Geom.point(1, 2))
    assert(java.util.Arrays.equals(a, b))
  }

  test("distance point-point / point-segment / point-polygon") {
    assert(Geom.distance(Geom.point(0, 0), Geom.point(3, 4)) == 5.0)
    assert(Geom.distance(Geom.point(5, 5), Geom.line((0, 0), (10, 0))) == 5.0)
    // a one-vertex line is its vertex
    assert(Geom.distance(Geom.point(0, 0), LineStringG(Array(Pt(5, 0)))) == 5.0)
    assert(Geom.dwithin(Geom.point(2000, 1000), Geom.point(2050, 1050), 100))
    val poly = Geom.envelopePoly(0, 0, 10, 10)
    assert(Geom.distance(Geom.point(5, 5), poly) == 0.0)       // inside
    assert(Geom.distance(Geom.point(15, 5), poly) == 5.0)      // outside
    assert(Geom.distance(Geom.point(13, 14), poly) == 5.0)     // corner
  }

  test("distance multipoint vs segments uses point-to-edge, not corner-to-corner") {
    // ST_Distance(MULTIPOINT(0.5 10), unit square) = 9.0 (to edge y=1);
    // a vertex-pair fallback would read hypot(0.5, 9) ≈ 9.0139
    val mp = MultiPointG(Array(Pt(0.5, 10.0)))
    val sq = Geom.envelopePoly(0, 0, 1, 1)
    assert(Geom.distance(mp, sq) == 9.0)
    assert(Geom.distance(sq, mp) == 9.0)
    assert(Geom.dwithin(mp, sq, 9.005), "true dwithin pair must not be dropped")
    // multipoint vs linestring too
    assert(Geom.distance(mp, Geom.line((0, 0), (1, 0))) == 10.0)
  }

  test("ST_Within boundary semantics: boundary points are NOT within") {
    val sq = Geom.envelopePoly(0, 0, 10, 10)
    assert(!sq.containsPoint(Pt(0, 5)), "point on edge is boundary, not within")
    assert(!sq.containsPoint(Pt(0, 0)), "corner is boundary, not within")
    assert(sq.containsPoint(Pt(5, 5)))
    // distance is still 0 for a boundary point (ST_Distance touches)
    assert(Geom.distance(Geom.point(0.0, 5.0), sq) == 0.0)
    // hole boundary + inside-hole are both outside
    val withHole = PolygonG(Array(
      Array(Pt(0, 0), Pt(10, 0), Pt(10, 10), Pt(0, 10), Pt(0, 0)),
      Array(Pt(4, 4), Pt(6, 4), Pt(6, 6), Pt(4, 6), Pt(4, 4))))
    assert(!withHole.containsPoint(Pt(5, 5)), "inside the hole")
    assert(!withHole.containsPoint(Pt(4, 5)), "on the hole ring")
    assert(withHole.containsPoint(Pt(2, 2)))
  }

  test("within(line, polygon): all-vertices-in is not enough — edges must not cross") {
    // concave "C" polygon; a chord with both endpoints inside the arms but
    // crossing the notch is NOT within
    val c = PolygonG(Array(Array(
      Pt(0, 0), Pt(10, 0), Pt(10, 3), Pt(3, 3), Pt(3, 7), Pt(10, 7),
      Pt(10, 10), Pt(0, 10), Pt(0, 0))))
    val chord = Geom.line((1.0, 1.5), (9.0, 1.5)) // inside the lower arm
    assert(Geom.within(chord, c))
    val bulge = Geom.line((1.0, 1.5), (1.0, 8.5)) // arms via the left wall: inside
    assert(Geom.within(bulge, c))
    val crossing = Geom.line((9.0, 1.5), (9.0, 8.5)) // exits through the notch
    assert(!Geom.within(crossing, c),
      "both endpoints inside but the edge leaves the polygon")
  }

  test("WKB edge cases: empty geometries and heterogeneous collections fail loudly") {
    // hand-build WKB: little-endian, type, then counts
    def wkb(bytes: Int*): Array[Byte] = bytes.map(_.toByte).toArray
    // POLYGON EMPTY: 01 03000000 00000000
    val polyEmpty = wkb(1, 3, 0, 0, 0, 0, 0, 0, 0)
    val eP = intercept[IllegalArgumentException](Geom.fromWkb(polyEmpty))
    assert(eP.getMessage.contains("empty"), s"got: ${eP.getMessage}")
    // LINESTRING EMPTY: 01 02000000 00000000
    val lineEmpty = wkb(1, 2, 0, 0, 0, 0, 0, 0, 0)
    assert(intercept[IllegalArgumentException](
      Geom.fromWkb(lineEmpty)).getMessage.contains("empty"))
    // homogeneous collections flatten losslessly
    def collection(parts: Array[Byte]*): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(9 + parts.map(_.length).sum)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put(1.toByte).putInt(7).putInt(parts.length)
      parts.foreach(bb.put)
      bb.array()
    }
    val pt = Geom.toWkb(Geom.point(1, 2))
    val ln = Geom.toWkb(Geom.line((0, 0), (1, 1)))
    assert(Geom.toWkt(Geom.fromWkb(collection(pt, Geom.toWkb(Geom.point(3, 4)))))
      == "MULTIPOINT(1 2,3 4)")
    assert(Geom.fromWkb(collection(ln, Geom.toWkb(Geom.line((2, 2), (3, 3)))))
      .isInstanceOf[MultiLineStringG])
    // single-part homogeneous collection flattens like the multi-part case
    assert(Geom.toWkt(Geom.fromWkb(collection(pt))) == "MULTIPOINT(1 2)")
    // heterogeneous multi-part collection REFUSES rather than truncating
    assert(intercept[IllegalArgumentException](
      Geom.fromWkb(collection(pt, ln))).getMessage.contains("heterogeneous"))
  }

  test("distance polygon-polygon: 0 when overlapping, gap when disjoint") {
    val a = Geom.envelopePoly(0, 0, 10, 10)
    val b = Geom.envelopePoly(5, 5, 15, 15)
    val c = Geom.envelopePoly(20, 0, 30, 10)
    assert(Geom.distance(a, b) == 0.0)
    assert(Geom.distance(a, c) == 10.0)
  }

  test("within: point in polygon with hole, multipolygon") {
    val donut = PolygonG(Array(
      Array(Pt(0, 0), Pt(100, 0), Pt(100, 100), Pt(0, 100), Pt(0, 0)),
      Array(Pt(40, 40), Pt(60, 40), Pt(60, 60), Pt(40, 60), Pt(40, 40))))
    assert(Geom.within(Geom.point(10, 10), donut))
    assert(!Geom.within(Geom.point(50, 50), donut)) // in hole
    assert(!Geom.within(Geom.point(150, 50), donut))
    val mp = MultiPolygonG(Array(Geom.envelopePoly(0, 0, 10, 10), Geom.envelopePoly(20, 20, 30, 30)))
    assert(Geom.within(Geom.point(25, 25), mp))
    assert(!Geom.within(Geom.point(15, 15), mp))
  }

  test("centroid: point, rectangle, L-polygon, line") {
    assert(Geom.envelopePoly(0, 0, 10, 10).centroid == Pt(5, 5))
    assert(Geom.line((0, 0), (10, 0)).centroid == Pt(5, 0))
    // L-shape: union of [0,10]x[0,10] and [10,20]x[0,5] -> area 100+50
    val l = PolygonG(Array(Array(
      Pt(0, 0), Pt(20, 0), Pt(20, 5), Pt(10, 5), Pt(10, 10), Pt(0, 10), Pt(0, 0))))
    val c = l.centroid
    val ex = (5.0 * 100 + 15.0 * 50) / 150
    val ey = (5.0 * 100 + 2.5 * 50) / 150
    assert(math.abs(c.x - ex) < 1e-9 && math.abs(c.y - ey) < 1e-9)
  }

  test("WKT parse round-trip") {
    val g = Geom.fromWkt("POLYGON((0 0,10 0,10 10,0 10,0 0))")
    assert(Geom.toWkt(g) == Geom.toWkt(Geom.envelopePoly(0, 0, 10, 10)))
    assert(Geom.toWkt(Geom.fromWkt(Geom.toWkt(g))) == Geom.toWkt(g))
    val mp = Geom.fromWkt("MULTIPOLYGON(((0 0,1 0,1 1,0 0)),((5 5,6 5,6 6,5 5)))")
    assert(mp.isInstanceOf[MultiPolygonG])
  }

  test("property: cell cover has no false negatives for dwithin pairs") {
    val cellSize = 1000.0
    val d = 800.0
    forRandom(2000) { rnd =>
      val x1 = rnd.between(-50000.0, 50000.0); val y1 = rnd.between(-50000.0, 50000.0)
      // generate the second point near the first so pairs actually hit d
      val x2 = x1 + rnd.between(-1200.0, 1200.0); val y2 = y1 + rnd.between(-1200.0, 1200.0)
      val a = Pt(x1, y1); val b = Pt(x2, y2)
      if (a.distTo(b) <= d) {
        val cellsA = Grid.coverEnvelope(Envelope(x1, y1, x1, y1), 0, cellSize)
        val cellsB = Grid.coverEnvelope(Envelope(x2, y2, x2, y2), d, cellSize)
        assert(cellsA.exists(cellsB.contains),
          s"pair within $d m must share a cell: $a $b")
      }
    }
  }

  test("property: winding-number PiP agrees with bbox check on rectangles") {
    forRandom(2000) { rnd =>
      val px = rnd.between(0.0, 1000.0); val py = rnd.between(0.0, 1000.0)
      val poly = Geom.envelopePoly(200, 200, 800, 800)
      val inside = px > 200 && px < 800 && py > 200 && py < 800
      val onEdge = (px == 200 || px == 800) && py >= 200 && py <= 800 ||
                   (py == 200 || py == 800) && px >= 200 && px <= 800
      if (!onEdge) assert(poly.containsPoint(Pt(px, py)) == inside)
    }
  }

  test("grid kRing and cell packing") {
    val c = Grid.cellOf(1500, -2500, 1000)
    assert(Grid.cellX(c) == 1 && Grid.cellY(c) == -3)
    assert(Grid.kRing(c, 1).length == 9)
    assert(Grid.kRing(c, 1).contains(c))
  }

  test("SWEREF99 TM round-trip and known point") {
    // Gävle city center approx: lat 60.6749, lon 17.1413
    val (x, y) = Proj.wgs84ToSweref(17.1413, 60.6749)
    // Expected around E 617,000 N 6,728,000 (SWEREF99 TM)
    assert(math.abs(x - 617000) < 2000, s"easting $x")
    assert(math.abs(y - 6728000) < 3000, s"northing $y")
    val (lon, lat) = Proj.swerefToWgs84(x, y)
    assert(math.abs(lon - 17.1413) < 1e-7)
    assert(math.abs(lat - 60.6749) < 1e-7)
  }

  test("property: projection round-trip within Sweden < 1e-6 deg") {
    forRandom(500) { rnd =>
      val lon = rnd.between(11.0, 24.0); val lat = rnd.between(55.0, 69.0)
      val (x, y) = Proj.wgs84ToSweref(lon, lat)
      val (lon2, lat2) = Proj.swerefToWgs84(x, y)
      assert(math.abs(lon - lon2) < 1e-6 && math.abs(lat - lat2) < 1e-6)
    }
  }

  test("z14 tile assignment is stable and in range") {
    val (tx, ty) = Proj.tileOfSweref(617000, 6728000, 14)
    assert(tx >= 0 && tx < (1 << 14) && ty >= 0 && ty < (1 << 14))
    // Gävle is ~17.14E — z14 tile x ≈ (17.14+180)/360*16384 ≈ 8972
    assert(math.abs(tx - 8972) <= 2, s"tile x $tx")
    assert((tx, ty) == (8972, 4696))
    // near the projection zone's west edge
    assert(Proj.tileOfSweref(106256, 6073000, 14) == (8596, 5209))
  }

  test("EWKB/ISO Z and M flags: extra ordinates skipped, XY preserved (ADVICE r1)") {
    import java.nio.{ByteBuffer, ByteOrder}
    // EWKB XYZ point: flag 0x80000000
    val p = ByteBuffer.allocate(1 + 4 + 24).order(ByteOrder.LITTLE_ENDIAN)
    p.put(1.toByte).putInt(0x80000001).putDouble(3.0).putDouble(4.0).putDouble(9.0)
    assert(Geom.toWkt(Geom.fromWkb(p.array())) == Geom.toWkt(Geom.point(3.0, 4.0)))
    // ISO WKB XYZM linestring: type 3002, two vertices of 4 ordinates
    val l = ByteBuffer.allocate(1 + 4 + 4 + 2 * 32).order(ByteOrder.LITTLE_ENDIAN)
    l.put(1.toByte).putInt(3002).putInt(2)
    l.putDouble(0).putDouble(0).putDouble(7).putDouble(8)
    l.putDouble(10).putDouble(0).putDouble(7).putDouble(8)
    val g = Geom.fromWkb(l.array())
    assert(Geom.toWkt(g) == "LINESTRING(0 0,10 0)", Geom.toWkt(g))
  }
}
