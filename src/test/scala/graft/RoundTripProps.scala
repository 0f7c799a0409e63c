package graft

import org.scalacheck.{Gen, Prop, Properties}
import graft.geo.Transform
import graft.raster.AsciiGrid
import graft.etl.Lookups

/** Property-based suites (SURVEY.md §5.2): round-trips and grammar
  * totality under generated inputs (ScalaCheck runs these via sbt's
  * native framework support, alongside the ScalaTest specs).
  */
object RoundTripProps extends Properties("graft") {

  private val nzLat = Gen.choose(-47.5, -34.0)
  private val nzLon = Gen.choose(166.0, 179.0)

  property("transform.forwardInverseIdentity") = Prop.forAll(nzLat, nzLon) {
    (lat, lon) =>
      val (e, n) = Transform.forward(lat, lon)
      val (lat2, lon2) = Transform.inverse(e, n)
      math.abs(lat2 - lat) < 1e-9 && math.abs(lon2 - lon) < 1e-9
  }

  private val gridGen: Gen[AsciiGrid] = for {
    ncols <- Gen.choose(1, 12)
    nrows <- Gen.choose(1, 10)
    xll <- Gen.choose(1000000.0, 2000000.0)
    yll <- Gen.choose(4800000.0, 6200000.0)
    cell <- Gen.oneOf(100.0, 250.0, 500.0)
    values <- Gen.listOfN(ncols * nrows,
      Gen.oneOf(Gen.choose(-100.0, 3000.0), Gen.const(-9999.0)))
  } yield AsciiGrid(ncols, nrows, xll, yll, cell, -9999.0, values.toArray)

  property("asciiGrid.writeParseIdentity") = Prop.forAll(gridGen) { g =>
    val text = AsciiGrid.write(g)
    val g2 = AsciiGrid.parse(text)
    // the same grid with a centre-convention header: xllcenter and
    // yllcenter ahead of cellsize, as standard ESRI headers order them
    val centred = text
      .replaceFirst("xllcorner \\S+", s"xllcenter ${g.centerX(0)}")
      .replaceFirst("yllcorner \\S+", s"yllcenter ${g.centerY(g.nrows - 1)}")
    def header(x: AsciiGrid) = AsciiGrid.Header(x.ncols, x.nrows, x.xllcorner,
      x.yllcorner, x.cellsize, x.nodata)
    g2.ncols == g.ncols && g2.nrows == g.nrows &&
      g2.xllcorner == g.xllcorner && g2.yllcorner == g.yllcorner &&
      g2.cellsize == g.cellsize && g2.nodata == g.nodata &&
      g2.values.sameElements(g.values) &&
      header(g2) == AsciiGrid.parseHeader(text) &&
      centred.indexOf("xllcenter") < centred.indexOf("cellsize") &&
      header(AsciiGrid.parse(centred)) == AsciiGrid.parseHeader(centred) &&
      math.abs(AsciiGrid.parse(centred).xllcorner - g.xllcorner) < 1e-6 &&
      AsciiGrid.parse(centred).values.sameElements(g.values)
  }

  private val grammarGen: Gen[String] = for {
    p <- Gen.oneOf(Lookups.parameters.map(_._1))
    stat <- Gen.oneOf(Lookups.statistics)
    t <- Gen.oneOf(Lookups.periods.map(_._1))
  } yield s"grid_${p}_NZ_norm_${stat}_1991-2020_$t"

  property("filenameGrammar.decodeTotality") = Prop.forAll(grammarGen) { base =>
    // every grammar-conforming name decodes to known dim keys
    val parts = base.split("_")
    val pc = parts(1); val stat = parts(4); val tok = parts.last
    Lookups.parameters.exists(_._1 == pc) &&
      Lookups.statistics.contains(stat) &&
      Lookups.periods.exists(_._1 == tok)
  }

  property("transform.monotoneEastingWithLongitude") =
    Prop.forAll(nzLat, nzLon, Gen.choose(0.001, 0.5)) { (lat, lon, d) =>
      val (e1, _) = Transform.forward(lat, lon)
      val (e2, _) = Transform.forward(lat, lon + d)
      e2 > e1
    }

  property("geoTiff.writeReadIdentity") = Prop.forAll(gridGen) { g =>
    // arbitrary doubles quantize to float32 in the TIFF; everything
    // else — dims, georeferencing, nodata, srid, tile math — is exact
    val p = graft.raster.GeoTiff.read(graft.raster.GeoTiff.write(g))
    p.grid.ncols == g.ncols && p.grid.nrows == g.nrows &&
      p.grid.xllcorner == g.xllcorner && p.grid.yllcorner == g.yllcorner &&
      p.grid.cellsize == g.cellsize && p.srid == 2193 &&
      p.nTiles == graft.raster.GeoTiff.nTiles(g.ncols, g.nrows) &&
      p.grid.values.length == g.values.length &&
      p.grid.values.zip(g.values).forall { case (a, b) =>
        a == b.toFloat.toDouble
      }
  }

  // wider grids so multi-level pyramids occur (up to 3 overview levels
  // at 60×40 with 8×8 tiles)
  private val bigGridGen: Gen[AsciiGrid] = for {
    ncols <- Gen.choose(1, 60)
    nrows <- Gen.choose(1, 40)
    values <- Gen.listOfN(ncols * nrows,
      Gen.oneOf(Gen.choose(-100.0, 3000.0), Gen.const(-9999.0)))
  } yield AsciiGrid(ncols, nrows, 1600000.0, 5000000.0, 500.0, -9999.0,
    values.toArray)

  property("geoTiff.cogOverviewChain") = Prop.forAll(bigGridGen) { g =>
    // the decoded overview chain must exist at exactly the closed-form
    // level count, emit the closed-form byte length, and every level must
    // equal the float32-rounded NODATA-aware block-mean downsample of
    // the level above it (cascaded from the float-rounded full res)
    val GT = graft.raster.GeoTiff
    val bytes = GT.write(g)
    val p = GT.read(bytes)
    val lv = GT.levelDims(g.ncols, g.nrows)
    var ok = bytes.length.toLong == GT.expectedLength(g.ncols, g.nrows) &&
      p.nIfds == lv.size && p.overviews.size == lv.size - 1
    var prev = g.values.map(_.toFloat.toDouble)
    var pw = g.ncols; var ph = g.nrows
    p.overviews.zipWithIndex.foreach { case (ov, i) =>
      val (w, h) = lv(i + 1)
      val expect = GT.downsample(prev, pw, ph, g.nodata)
      ok = ok && ov.ncols == w && ov.nrows == h &&
        ov.values.sameElements(expect) &&
        ov.cellsize == g.cellsize * (1L << (i + 1))
      prev = expect; pw = w; ph = h
    }
    ok
  }
}
