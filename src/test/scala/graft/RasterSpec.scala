package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.geo.Jts
import graft.raster.{AsciiGrid, GridGen, RasterOps}

class RasterSpec extends AnyFunSuite {

  private def tiny: AsciiGrid = {
    val in = getClass.getResourceAsStream("/tiny_grid.asc")
    AsciiGrid.parse(scala.io.Source.fromInputStream(in).mkString)
  }

  test("parses the golden tiny grid") {
    val g = tiny
    assert(g.ncols == 4 && g.nrows == 4)
    assert(g.xllcorner == 1600000.0 && g.yllcorner == 5400000.0)
    assert(g.cellsize == 500.0 && g.nodata == -9999.0)
    assert(g.value(0, 0) == 12.1 && g.value(0, 2) == -9999.0)
    assert(g.value(3, 3) == 12.6)
    // row 0 is northernmost
    assert(g.centerY(0) == 5401750.0 && g.centerY(3) == 5400250.0)
    assert(g.centerX(0) == 1600250.0)
  }

  test("write ∘ parse is identity") {
    val g = tiny
    val g2 = AsciiGrid.parse(AsciiGrid.write(g))
    assert(g2.ncols == g.ncols && g2.nrows == g.nrows)
    assert(g2.xllcorner == g.xllcorner && g2.yllcorner == g.yllcorner)
    assert(g2.cellsize == g.cellsize && g2.nodata == g.nodata)
    assert(g2.values.sameElements(g.values))
  }

  test("write ∘ parse is identity over generated grids") {
    (0 until 25).foreach { k =>
      val g = GridGen.gen(k)
      val g2 = AsciiGrid.parse(AsciiGrid.write(g))
      assert(g2.values.sameElements(g.values), s"k=$k")
      assert(g2.ncols == g.ncols && g2.xllcorner == g.xllcorner, s"k=$k")
    }
  }

  test("stats ignore NODATA (hand-computed on tiny grid)") {
    val s = RasterOps.stats(tiny)
    assert(s.nValid == 14 && s.nNodata == 2)
    assert(s.min == 9.7 && s.max == 14.2)
    assert(math.abs(s.sum - 171.7) < 1e-9)
    assert(math.abs(s.mean - 171.7 / 14) < 1e-12)
  }

  test("clip by right-half rectangle (hand-computed mask)") {
    // rectangle covering the right two columns, all rows
    val rect = Jts.parseWkt(
      "POLYGON ((1601000 5400000, 1602000 5400000, 1602000 5402000, 1601000 5402000, 1601000 5400000))")
    val c = RasterOps.clip(tiny, rect)
    assert(c.ncols == 2 && c.nrows == 4, s"got ${c.ncols}x${c.nrows}")
    assert(c.xllcorner == 1601000.0 && c.yllcorner == 5400000.0)
    // all 8 right-half cells have centers strictly inside → values kept
    val s = RasterOps.stats(c)
    assert(s.nValid == 7 && s.nNodata == 1) // one -9999 in the right half
    assert(math.abs(s.sum - (14.2 + 13.1 + 13.9 + 12.8 + 13.5 + 11.9 + 12.6)) < 1e-9)
  }

  test("clip by non-overlapping polygon yields empty grid") {
    val far = Jts.parseWkt(
      "POLYGON ((0 0, 100 0, 100 100, 0 100, 0 0))")
    val c = RasterOps.clip(tiny, far)
    assert(c.ncols == 0 && c.nrows == 0 && c.values.isEmpty)
  }

  test("clipped NODATA count never decreases; crop stays within envelope") {
    (0 until 25).foreach { k =>
      val g = GridGen.gen(k)
      val before = RasterOps.stats(g)
      val x0 = GridGen.xll(k); val y0 = GridGen.yll(k)
      val w = 3000.0 + 500 * k; val h = 2000.0 + 400 * k
      val apex = x0 + 1000 + 100 * k
      val tri = Jts.parseWkt(
        s"POLYGON (($x0 $y0, ${x0 + w} ${y0 + h / 2}, $apex ${y0 + h}, $x0 $y0))")
      val c = RasterOps.clip(g, tri)
      val after = RasterOps.stats(c)
      assert(after.nValid <= before.nValid, s"k=$k")
      assert(c.xllcorner >= g.xllcorner && c.xmax <= g.xmax + 1e-9, s"k=$k")
    }
  }

  test("center-convention headers resolve against cellsize listed after them") {
    // standard ESRI order puts cellsize AFTER xllcenter/yllcenter; the
    // offset must resolve post-loop, not against a still-unset cellsize
    val text = "ncols 2\nnrows 2\nxllcenter 100.0\nyllcenter 200.0\n" +
      "cellsize 10.0\nNODATA_value -9999\n1 2\n3 4\n"
    val g = AsciiGrid.parse(text)
    assert(g.xllcorner == 95.0 && g.yllcorner == 195.0, s"${g.xllcorner},${g.yllcorner}")
    val h = AsciiGrid.parseHeader(text)
    assert(h.xllcorner == 95.0 && h.yllcorner == 195.0, s"${h.xllcorner},${h.yllcorner}")
    // Windows (CRLF) and classic-Mac (CR) line ends read the same
    Seq("\r\n", "\r").foreach { eol =>
      val g2 = AsciiGrid.parse(text.replace("\n", eol))
      def fields(x: AsciiGrid) = (x.ncols, x.nrows, x.xllcorner, x.yllcorner, x.cellsize, x.nodata)
      assert(fields(g2) == fields(g) && g2.values.sameElements(g.values),
        s"line end ${eol.map(_.toInt)}")
      assert(AsciiGrid.parseHeader(text.replace("\n", eol)) == h)
    }
  }

  test("VecSumAgg tolerates ragged vectors without truncation or crash") {
    import graft.functions.VecSumAgg
    val b1 = VecSumAgg.reduce(VecSumAgg.zero, Seq(1f, 2f))          // short first
    val b2 = VecSumAgg.reduce(b1, Seq(10f, 20f, 30f))               // then longer
    assert(b2.toSeq == Seq(11.0, 22.0, 30.0))
    val other = VecSumAgg.reduce(VecSumAgg.zero, Seq(100f))
    assert(VecSumAgg.merge(other, b2).toSeq == Seq(111.0, 22.0, 30.0))
    assert(VecSumAgg.merge(VecSumAgg.reduce(VecSumAgg.zero, Seq(1f, 1f, 1f, 1f)),
      VecSumAgg.reduce(VecSumAgg.zero, Seq(1f))).toSeq == Seq(2.0, 1.0, 1.0, 1.0))
  }
}
