package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets

import scala.util.Random

/** Seeded input generator. The program only ever sees the files this
  * writes; the benchmark keeps the generating parameters so its checks
  * can recompute expected values without going through the program.
  *
  * Geometry is NZTM2000 (EPSG:2193). The grid extent is the NZ extent
  * 1,000 km × 1,450 km anchored at (1,090,000, 4,750,000), so a 500 m
  * grid is 2,000 × 2,900 cells, a 2 km grid 500 × 725 and a 10 km grid
  * 100 × 145.
  */
object Inputs {
  val X0 = 1090000.0
  val Y0 = 4750000.0
  val ExtentW = 1000000.0
  val ExtentH = 1450000.0
  val Nodata = -9999.0

  /** One workload's input shape: the cell size and the number of grids. */
  final case class Shape(cellsize: Double, grids: Int) {
    val ncols: Int = math.round(ExtentW / cellsize).toInt
    val nrows: Int = math.round(ExtentH / cellsize).toInt
  }

  /** A generated region: a star-shaped polygon centred in its cell of
    * a 4 × 4 layout, so the 16 regions never overlap and leave gaps
    * (cells in the gaps are NODATA in every grid).
    */
  final case class Region(code: String, name: String, cx: Double, cy: Double,
      angles: Array[Double], radii: Array[Double]) {
    def nVertices: Int = angles.length
    // vertices rounded to 0.1 m, exactly as the WKT text carries them
    lazy val xs: Array[Double] =
      Array.tabulate(angles.length)(i => math.rint((cx + radii(i) * math.cos(angles(i))) * 10) / 10)
    lazy val ys: Array[Double] =
      Array.tabulate(angles.length)(i => math.rint((cy + radii(i) * math.sin(angles(i))) * 10) / 10)
    def rawTitle: String = name.replace("-", " ") + " Region"
    def title: String = name.replace("-", " ")

    def wkt: String = {
      val x = xs; val y = ys
      val sb = new StringBuilder("POLYGON ((")
      var i = 0
      while (i <= x.length) {
        val j = i % x.length
        if (i > 0) sb.append(", ")
        sb.append("%.1f %.1f".formatLocal(java.util.Locale.ROOT, x(j), y(j)))
        i += 1
      }
      sb.append("))").toString
    }

    /** Exact point-in-star test against the polygon's straight edges
      * (used only to lay NODATA over the gaps between regions).
      */
    def inside(px: Double, py: Double): Boolean = {
      val a0 = math.atan2(py - cy, px - cx)
      val a = if (a0 < angles(0)) a0 + 2 * math.Pi else a0
      var lo = 0; var hi = angles.length - 1
      while (lo < hi) { val m = (lo + hi + 1) >>> 1; if (angles(m) <= a) lo = m else hi = m - 1 }
      val i = lo; val j = (i + 1) % angles.length
      val x1 = cx + radii(i) * math.cos(angles(i)); val y1 = cy + radii(i) * math.sin(angles(i))
      val x2 = cx + radii(j) * math.cos(angles(j)); val y2 = cy + radii(j) * math.sin(angles(j))
      // centre and point on the same side of edge (i, j)
      val side = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)
      val cside = (x2 - x1) * (cy - y1) - (y2 - y1) * (cx - x1)
      side * cside > 0
    }
  }

  /** A generated grid: one (parameter, period) climatology. */
  final case class GridSpec(paramCode: String, paramName: String,
      periodToken: String, periodName: String, statistic: String) {
    def baseName: String = s"grid_${paramCode}_NZ_norm_${statistic}_1991-2020_$periodToken"
    def fileName: String = s"$baseName.asc"
    def newFileName: String = s"${paramName}_${statistic}_1991-2020_$periodName"
    def stem(region: Region): String = s"${newFileName}_${region.name}"
    def title(region: Region): String =
      s"Climatology Grid ${paramName.replace("-", " ")} (1991-2020), $periodName, Region: ${region.title}"
  }

  final case class Generated(shape: Shape, seed: Long, inputDir: String,
      regions: Seq[Region], grids: Seq[GridSpec], bytes: Long) {
    def products: Int = grids.size * regions.size
    def inputMb: Double = bytes / 1e6
    def cellsPerGrid: Long = shape.ncols.toLong * shape.nrows
    def verticesPerRegion: Int = regions.head.nVertices
  }

  private val RegionCodes: Seq[(String, String)] =
    graft.etl.Lookups.regions.filterNot(_._1 == "99")

  /** 16 non-overlapping star polygons of about `vertices` vertices. */
  def regions(seed: Long, vertices: Int = 1000): Seq[Region] = {
    val rnd = new Random(seed * 7919L + 17)
    val tw = ExtentW / 4; val th = ExtentH / 4
    val base = 0.36 * math.min(tw, th)
    RegionCodes.zipWithIndex.map { case ((code, name), k) =>
      val cx = X0 + (k % 4 + 0.5) * tw + (rnd.nextDouble() - 0.5) * 0.1 * tw
      val cy = Y0 + (k / 4 + 0.5) * th + (rnd.nextDouble() - 0.5) * 0.1 * th
      val n = vertices - 20 + rnd.nextInt(41)
      // rough, coastline-like boundary: a few harmonics of total amplitude
      // 0.2 around a unit radius, so the star stays star-shaped
      val harmonics = Seq(2, 3, 5, 7, 11, 17, 29, 41, 67, 101)
      val amps = harmonics.map(_ => rnd.nextDouble())
      val scale = 0.2 / amps.sum
      val phases = harmonics.map(_ => rnd.nextDouble() * 2 * math.Pi)
      val start = -math.Pi
      val angles = Array.tabulate(n) { i =>
        start + (i + 0.2 + 0.6 * rnd.nextDouble()) * 2 * math.Pi / n }
      val shape = angles.map { a =>
        var r = 1.0; var h = 0
        while (h < harmonics.size) {
          r += scale * amps(h) * math.sin(harmonics(h) * a + phases(h)); h += 1
        }
        r
      }
      // scale so every region's bounding box is 2·base wide and high:
      // clip sizes (and so output sizes) do not depend on the seed
      val xs = angles.indices.map(i => shape(i) * math.cos(angles(i)))
      val ys = angles.indices.map(i => shape(i) * math.sin(angles(i)))
      val sx = 2 * base / (xs.max - xs.min); val sy = 2 * base / (ys.max - ys.min)
      // back to polar about the scaled star's centre, the image of its origin
      val ang = angles.indices.map(i => math.atan2(ys(i) * sy, xs(i) * sx)).toArray
      val rad = angles.indices.map(i => math.hypot(xs(i) * sx, ys(i) * sy)).toArray
      Region(code, name, cx - base - xs.min * sx, cy - base - ys.min * sy, ang, rad)
    }
  }

  /** The catalog's 272 (parameter × period) grids, or a seeded choice
    * of `n` of them with distinct parameters.
    */
  def gridSpecs(seed: Long, n: Int): Seq[GridSpec] = {
    val stats = graft.etl.Lookups.statistics
    val all = for {
      ((pc, pn), pi) <- graft.etl.Lookups.parameters.zipWithIndex
      ((tc, tn), ti) <- graft.etl.Lookups.periods.zipWithIndex
    } yield (pc, pn, tc, tn, stats((pi + ti) % stats.size))
    val chosen =
      if (n >= all.size) all
      else {
        val rnd = new Random(seed * 31L + 5)
        rnd.shuffle(all.groupBy(_._1).toSeq.sortBy(_._1)).take(n)
          .map { case (_, group) => group(rnd.nextInt(group.size)) }
      }
    chosen.map { case (pc, pn, tc, tn, st) => GridSpec(pc, pn, tc, tn, st) }
  }

  /** The cell values of grid `g`, one decimal, NODATA outside the
    * region union. Pure function of (seed, grid, shape, regions).
    */
  def values(seed: Long, g: GridSpec, shape: Shape, regions: Seq[Region]): Array[Double] = {
    val rnd = new Random(seed * 1000003L + g.paramCode.toInt * 101 + g.periodToken.hashCode)
    // values stay in [13.5, 86.5] so every valid cell is "dd.d", and the
    // field's amplitude and wavelengths are fixed: text and compressed
    // output sizes depend on the shape, not on the seed
    val base = 20.0 + rnd.nextDouble() * 60.0
    val amp = 6.0
    val fx = 2 * math.Pi / 200000.0
    val fy = 2 * math.Pi / 260000.0
    val px = rnd.nextDouble() * 2 * math.Pi
    val py = rnd.nextDouble() * 2 * math.Pi
    val nc = shape.ncols; val nr = shape.nrows; val cs = shape.cellsize
    val tw = ExtentW / 4; val th = ExtentH / 4
    val out = new Array[Double](nc * nr)
    var r = 0
    while (r < nr) {
      val y = Y0 + (nr - r - 0.5) * cs
      val ty = math.min(3, ((y - Y0) / th).toInt)
      var c = 0
      while (c < nc) {
        val x = X0 + (c + 0.5) * cs
        val tx = math.min(3, ((x - X0) / tw).toInt)
        val reg = regions(ty * 4 + tx)
        out(r * nc + c) =
          if (!reg.inside(x, y)) Nodata
          else {
            // integer tenths keep one decimal exactly in the text form
            val v = base + amp * math.sin(x * fx + px) * math.cos(y * fy + py) +
              0.5 * math.sin((r * 7 + c * 13) * 0.01)
            math.rint(v * 10) / 10
          }
        c += 1
      }
      r += 1
    }
    out
  }

  /** Write every grid as `<inputDir>/<paramCode>/<fileName>`. */
  def generate(shape: Shape, seed: Long, inputDir: String): Generated = {
    val regs = regions(seed)
    val specs = gridSpecs(seed, shape.grids)
    var bytes = 0L
    specs.foreach { g =>
      val dir = new File(inputDir, g.paramCode)
      dir.mkdirs()
      val f = new File(dir, g.fileName)
      writeGrid(f, shape, values(seed, g, shape, regs))
      bytes += f.length()
    }
    Generated(shape, seed, inputDir, regs, specs, bytes)
  }

  private def writeGrid(f: File, shape: Shape, vals: Array[Double]): Unit = {
    val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(f), StandardCharsets.US_ASCII), 1 << 16)
    try {
      w.write(s"ncols ${shape.ncols}\nnrows ${shape.nrows}\n")
      w.write(s"xllcorner ${X0.toLong}\nyllcorner ${Y0.toLong}\n")
      w.write(s"cellsize ${shape.cellsize.toLong}\nNODATA_value ${Nodata.toLong}\n")
      val sb = new java.lang.StringBuilder(shape.ncols * 6)
      var r = 0
      while (r < shape.nrows) {
        sb.setLength(0)
        var c = 0
        while (c < shape.ncols) {
          if (c > 0) sb.append(' ')
          val v = vals(r * shape.ncols + c)
          if (v == Nodata) sb.append("-9999")
          else {
            val tenths = math.rint(v * 10).toLong
            if (tenths < 0) sb.append('-')
            val a = math.abs(tenths)
            sb.append(a / 10).append('.').append(a % 10)
          }
          c += 1
        }
        sb.append('\n')
        w.write(sb.toString)
        r += 1
      }
    } finally w.close()
  }
}
