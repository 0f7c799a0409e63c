package perfbench

import java.io.File
import java.util.zip.ZipFile

import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.locationtech.jts.algorithm.PointLocation
import org.locationtech.jts.geom.{Coordinate, Location}
import org.apache.spark.sql.SparkSession

import perfbench.Inputs.{Generated, GridSpec, Region}

/** Output checks for one pipeline run. Expected clip values come from
  * the benchmark's own generator and a per-cell JTS centre-in-ring
  * test, never from the program's raster code.
  */
final class PipelineChecks(gen: Generated, sampleSize: Int) {
  import PipelineChecks.Expected

  private val sample: Seq[(GridSpec, Region)] = {
    val rnd = new Random(gen.seed * 977L + 3)
    val pairs = for (g <- gen.grids; r <- gen.regions) yield (g, r)
    rnd.shuffle(pairs).take(sampleSize)
  }

  /** Computed once, on first use, outside any timed window. */
  private lazy val expected: Map[(String, String), Expected] = {
    val byGrid = sample.groupBy(_._1)
    byGrid.flatMap { case (g, rs) =>
      val vals = Inputs.values(gen.seed, g, gen.shape, gen.regions)
      rs.map { case (_, r) => (g.baseName, r.code) -> clip(vals, r) }
    }
  }

  private def clip(vals: Array[Double], r: Region): Expected = {
    val shape = gen.shape
    val xs = r.xs; val ys = r.ys
    val ring = Array.tabulate(xs.length + 1)(i => new Coordinate(xs(i % xs.length), ys(i % xs.length)))
    val minX = xs.min; val maxX = xs.max; val minY = ys.min; val maxY = ys.max
    val cs = shape.cellsize
    def cx(c: Int) = Inputs.X0 + (c + 0.5) * cs
    def cy(row: Int) = Inputs.Y0 + (shape.nrows - row - 0.5) * cs
    val cols = (0 until shape.ncols).filter { c => cx(c) > minX && cx(c) < maxX }
    val rows = (0 until shape.nrows).filter { row => cy(row) > minY && cy(row) < maxY }
    if (cols.isEmpty || rows.isEmpty) return Expected(0, 0, 0, 0, 0.0)
    var n = 0L; var nd = 0L; var sum = 0.0
    val pt = new Coordinate()
    rows.foreach { row =>
      cols.foreach { c =>
        val v = vals(row * shape.ncols + c)
        pt.x = cx(c); pt.y = cy(row)
        if (v != Inputs.Nodata && PointLocation.locateInRing(pt, ring) == Location.INTERIOR) {
          n += 1; sum += v
        } else nd += 1
      }
    }
    Expected(cols.size, rows.size, n, nd, sum)
  }

  private val mapper = new ObjectMapper()

  /** Returns the failed product count and up to a few messages. */
  def check(spark: SparkSession, outDir: String): (Int, Seq[String]) = {
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    val failed = scala.collection.mutable.Set.empty[String]
    def fail(stem: String, msg: String): Unit = {
      failed += stem
      if (problems.size < 5) problems += s"$stem: $msg"
    }
    val expectedStems = for (g <- gen.grids; r <- gen.regions) yield (g, r, g.stem(r))

    // catalog: one row per product with the product's stats
    val cat = spark.read.parquet(s"$outDir/catalog.parquet")
      .select("base_name", "region_code", "clipped_name", "ncols_out", "nrows_out",
        "n_valid", "n_nodata", "sum_valid")
      .collect()
    val byKey = cat.groupBy(r => (r.getString(0), r.getString(1)))
    if (cat.length != gen.products) problems += s"catalog has ${cat.length} rows, expected ${gen.products}"

    val zipDir = new File(outDir, "zipped")
    val present = Option(zipDir.list()).map(_.toSet).getOrElse(Set.empty[String])
    expectedStems.foreach { case (g, r, stem) =>
      byKey.get((g.baseName, r.code)) match {
        case Some(Array(row)) =>
          if (row.getString(2) != s"$stem.tif") fail(stem, s"clipped_name ${row.getString(2)}")
        case other => fail(stem, s"${other.map(_.length).getOrElse(0)} catalog rows")
      }
      if (!present(s"$stem.zip")) fail(stem, "zip missing")
      else try {
        val z = new ZipFile(new File(zipDir, s"$stem.zip"))
        val names = try z.entries().asScala.map(_.getName).toSet finally z.close()
        val want = Set(".asc", ".wld", ".stats.txt", ".tif").map(stem + _)
        if (names != want) fail(stem, s"zip entries $names")
      } catch { case NonFatal(e) => fail(stem, s"zip unreadable: ${e.getMessage}") }
      if (!present(s"$stem.json")) fail(stem, "json missing")
      else try {
        val title = mapper.readTree(new File(zipDir, s"$stem.json")).path("metadata").path("title").asText()
        if (title != g.title(r)) fail(stem, s"title '$title'")
      } catch { case NonFatal(e) => fail(stem, s"json unparsable: ${e.getMessage}") }
    }

    sample.foreach { case (g, r) =>
      val e = expected((g.baseName, r.code))
      byKey.get((g.baseName, r.code)).flatMap(_.headOption).foreach { row =>
        val got = Expected(row.getInt(3), row.getInt(4), row.getLong(5), row.getLong(6), row.getDouble(7))
        val sumOk = math.abs(got.sum - e.sum) <= 1e-9 * math.max(1.0, math.abs(e.sum))
        if (got.copy(sum = 0) != e.copy(sum = 0) || !sumOk) fail(g.stem(r), s"stats $got, expected $e")
      }
    }
    val nFailed = if (cat.length != gen.products) gen.products else failed.size
    (nFailed, problems.toSeq)
  }
}

object PipelineChecks {
  final case class Expected(ncols: Int, nrows: Int, nValid: Long, nNodata: Long, sum: Double)
}
