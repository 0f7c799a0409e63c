package graft.raster

/** ESRI ASCII grid raster (the reference's input format, scanned at
  * ETL.py:198–200): a 6-line header followed by whitespace-separated
  * cell values, row-major with row 0 the NORTHERNMOST row.
  *
  * {{{
  * ncols         4
  * nrows         4
  * xllcorner     1600000.0
  * yllcorner     5400000.0
  * cellsize      500.0
  * NODATA_value  -9999
  * 12.1 13.0 -9999 14.2
  * ...
  * }}}
  *
  * The reference never touches pixels in-language (arcpy streams
  * file→file); here the grid is a first-class typed record so clipping
  * and statistics are native columnar operations. At scale a grid
  * travels as one row (asciigrid source → parse) — a 500 m NZ-wide
  * grid of 2,000 × 2,900 cells is about 34 MB of text, under per-row
  * limits, and per-file parallelism is the natural partitioning.
  */
case class AsciiGrid(
    ncols: Int,
    nrows: Int,
    xllcorner: Double,
    yllcorner: Double,
    cellsize: Double,
    nodata: Double,
    values: Array[Double]) {

  require(values.length == ncols * nrows,
    s"expected ${ncols * nrows} values, got ${values.length}")

  def value(row: Int, col: Int): Double = values(row * ncols + col)

  /** Cell-center X of a column. */
  def centerX(col: Int): Double = xllcorner + (col + 0.5) * cellsize

  /** Cell-center Y of a row (row 0 = top/northernmost). */
  def centerY(row: Int): Double = yllcorner + (nrows - row - 0.5) * cellsize

  def xmax: Double = xllcorner + ncols * cellsize
  def ymax: Double = yllcorner + nrows * cellsize
}

object AsciiGrid {

  /** Parse the textual format: the header (see `parseHeader`), then
    * the whitespace-separated cell values, which may span lines.
    */
  def parse(text: String): AsciiGrid = {
    val (h, cellsAt) = readHeader(text)
    val tokens = text.substring(cellsAt).split("\\s+").filter(_.nonEmpty)
    val values = new Array[Double](tokens.length)
    var i = 0
    while (i < tokens.length) { values(i) = tokens(i).toDouble; i += 1 }
    AsciiGrid(h.ncols, h.nrows, h.xllcorner, h.yllcorner, h.cellsize, h.nodata, values)
  }

  /** Header fields only (no cell block). `parseHeader` powers pruned
    * scans in the asciigrid DataSource V2: a projection that skips the
    * `values` column reads just the leading header lines and never
    * tokenizes the (much larger) cell text.
    */
  final case class Header(ncols: Int, nrows: Int, xllcorner: Double,
      yllcorner: Double, cellsize: Double, nodata: Double)

  private val HeaderKeys = Set("ncols", "nrows", "xllcorner", "yllcorner",
    "xllcenter", "yllcenter", "cellsize", "nodata_value")

  /** The header: one `key value` pair per line, keys case-insensitive
    * and in any order, up to the first other non-blank line.
    */
  def parseHeader(text: String): Header = readHeader(text)._1

  /** The header and the offset of the line where the cells begin. */
  private def readHeader(text: String): (Header, Int) = {
    // two-pass: record raw values first, resolve the center→corner
    // offset AFTER the loop — cellsize legally appears after the
    // xllcenter/yllcenter lines in standard ESRI headers, so computing
    // the offset inline would subtract 0.5 * NaN
    var ncols, nrows = -1
    var xll, yll, cell = Double.NaN
    var xCenter, yCenter = false
    var nodata = -9999.0
    var at = 0
    var parsing = true
    while (parsing && at < text.length) {
      var eol = at
      while (eol < text.length && text.charAt(eol) != '\n' && text.charAt(eol) != '\r') eol += 1
      val toks = text.substring(at, eol).trim.split("\\s+").filter(_.nonEmpty)
      if (toks.length >= 2 && HeaderKeys.contains(toks(0).toLowerCase)) {
        toks(0).toLowerCase match {
          case "ncols"        => ncols = toks(1).toInt
          case "nrows"        => nrows = toks(1).toInt
          case "xllcorner"    => xll = toks(1).toDouble; xCenter = false
          case "xllcenter"    => xll = toks(1).toDouble; xCenter = true
          case "yllcorner"    => yll = toks(1).toDouble; yCenter = false
          case "yllcenter"    => yll = toks(1).toDouble; yCenter = true
          case "cellsize"     => cell = toks(1).toDouble
          case "nodata_value" => nodata = toks(1).toDouble
        }
      } else if (toks.nonEmpty) parsing = false
      if (parsing) at = math.min(eol + 1, text.length)
    }
    if (xCenter) xll -= 0.5 * cell
    if (yCenter) yll -= 0.5 * cell
    (Header(ncols, nrows, xll, yll, cell, nodata), at)
  }

  /** Render back to the textual format (row-major, one row per line).
    * parse ∘ write == identity (property-tested).
    */
  def write(g: AsciiGrid): String = {
    val sb = new StringBuilder
    sb.append(s"ncols ${g.ncols}\n")
    sb.append(s"nrows ${g.nrows}\n")
    sb.append(s"xllcorner ${fmt(g.xllcorner)}\n")
    sb.append(s"yllcorner ${fmt(g.yllcorner)}\n")
    sb.append(s"cellsize ${fmt(g.cellsize)}\n")
    sb.append(s"NODATA_value ${fmt(g.nodata)}\n")
    var r = 0
    while (r < g.nrows) {
      var c = 0
      while (c < g.ncols) {
        if (c > 0) sb.append(' ')
        sb.append(fmt(g.value(r, c)))
        c += 1
      }
      sb.append('\n')
      r += 1
    }
    sb.toString
  }

  private def fmt(d: Double): String =
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
}
