package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.util.zip.ZipFile

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.functions._
import graft.etl.{Lookups, Pipeline}
import graft.raster.{AsciiGrid, GeoTiff, GridGen}

/** End-to-end pipeline golden test (FIXTURES.md §B): synthesizes an
  * .asc input tree following the reference's filename grammar and
  * region-code directory convention, runs the full composed pipeline,
  * and checks catalog, zips, and metadata JSON field-by-field.
  */
class PipelineSpec extends SparkSpecBase with AdaptiveSparkPlanHelper {

  private lazy val work = Files.createTempDirectory("graft-pipeline").toString

  // grids 0..2 under region-coded dirs, filenames per the grammar
  private lazy val inputDir: String = {
    val in = Paths.get(work, "in")
    val files = Seq(
      (0, "05", "grid_02_NZ_norm_Mean_1991-2020_monthly7"),
      (1, "13", "grid_00_NZ_norm_Mean_1991-2020_annual"),
      (2, "01", "grid_09_NZ_norm_StdDev_1991-2020_seasonal2"),
    )
    files.foreach { case (k, region, base) =>
      val dir = in.resolve(region)
      Files.createDirectories(dir)
      Files.write(dir.resolve(s"$base.asc"),
        GridGen.genText(k).getBytes(StandardCharsets.UTF_8))
      // a decoy that the glob filter must skip
      Files.write(dir.resolve(s"$base.txt"), "not a grid".getBytes)
    }
    in.toString
  }

  // regions: every code from the reference dim; one big box that covers
  // all test grids, except Marlborough ("18") which is far away (empty
  // clips) — plus "99" which the pipeline must drop.
  private lazy val regionsDf = {
    import spark.implicits._
    Lookups.regions.map { case (code, name) =>
      val rawTitle =
        if (code == "99") "Area Outside Region"
        else name.replace("-", " ") + " Region"
      val wkt =
        if (code == "18")
          "POLYGON ((100000 100000, 110000 100000, 110000 110000, 100000 110000, 100000 100000))"
        else
          "POLYGON ((1590000 4990000, 1700000 4990000, 1700000 5100000, 1590000 5100000, 1590000 4990000))"
      (code, name, rawTitle, wkt)
    }.toDF("code", "name", "raw_title", "wkt")
  }

  private lazy val result = Pipeline.run(
    spark, inputDir, regionsDf, s"$work/out", updatedAt = "2026-01-01T00:00:00Z")

  test("catalog is files × regions (minus code 99)") {
    assert(result.catalog.count() == 3 * 16)
  }

  test("glob filter excluded non-asc files") {
    assert(result.catalog.select("base_name").distinct().count() == 3)
  }

  test("rename follows the reference convention") {
    val names = result.catalog.select("new_file_name").distinct()
      .collect().map(_.getString(0)).toSet
    assert(names == Set(
      "Mean-Air-Temperature_Mean_1991-2020_July",
      "Total-Rainfall_Mean_1991-2020_Annual",
      "Total-Sunshine_StdDev_1991-2020_Autumn"))
  }

  test("covering regions produce full clips, far region empty clips") {
    val far = result.catalog.filter(col("region_code") === "18")
    assert(far.count() == 3)
    assert(far.filter(col("n_valid") =!= 0).count() == 0)
    val near = result.catalog.filter(col("region_code") === "05")
    near.collect().foreach { r =>
      assert(r.getAs[Long]("n_valid") > 0, s"expected valid cells for ${r}")
    }
  }

  test("clip output matches a locally computed clip") {
    val row = result.catalog
      .filter(col("region_code") === "05" &&
        col("base_name") === "grid_02_NZ_norm_Mean_1991-2020_monthly7")
      .head()
    val clippedText = row.getAs[String]("clipped_text")
    val g = AsciiGrid.parse(clippedText)
    // covering box crops nothing: full grid 0 dims
    assert(g.ncols == GridGen.ncols(0) && g.nrows == GridGen.nrows(0))
    val expected = GridGen.gen(0)
    assert(g.values.sameElements(expected.values))
  }

  test("catalog is also written as parquet") {
    result.catalog.count()
    val cat = spark.read.parquet(s"$work/out/catalog.parquet")
    assert(cat.count() == 48)
    assert(cat.columns.contains("clipped_text") && cat.columns.contains("metadata_json"))
  }

  test("zips exist with the sidecar entries plus the GeoTIFF payload") {
    // force sinks to have run
    result.catalog.count()
    val zipDir = Paths.get(s"$work/out/zipped")
    val zips = Files.list(zipDir).iterator()
    var zipCount = 0
    var parsedTifs = 0
    zips.forEachRemaining { p =>
      if (p.toString.endsWith(".zip")) {
        zipCount += 1
        val zf = new ZipFile(p.toFile)
        try {
          var exts = Set.empty[String]
          zf.entries().asIterator().forEachRemaining { e =>
            exts += e.getName.replaceAll("^.*?(\\.[a-z.]+)$", "$1")
            if (e.getName.endsWith(".tif") && e.getSize > 0) {
              // non-empty clip → the payload is a decodable GeoTIFF
              // whose pixels match the zipped .asc sidecar
              val bytes = zf.getInputStream(e).readAllBytes()
              val ascName = e.getName.stripSuffix(".tif") + ".asc"
              val asc = graft.raster.AsciiGrid.parse(new String(
                zf.getInputStream(zf.getEntry(ascName)).readAllBytes(), "UTF-8"))
              val tif = graft.raster.GeoTiff.read(bytes)
              assert(tif.srid == 2193)
              assert(tif.grid.ncols == asc.ncols && tif.grid.nrows == asc.nrows)
              assert(tif.grid.values.sameElements(asc.values),
                s"pixel drift between zipped .tif and .asc in $p")
              parsedTifs += 1
            }
          }
          assert(exts == Set(".asc", ".wld", ".stats.txt", ".tif"),
            s"entries in $p: $exts")
        } finally zf.close()
      }
    }
    assert(zipCount == 48, s"expected 48 zips, got $zipCount")
    assert(parsedTifs > 0, "no non-empty GeoTIFF payload was round-trip checked")
  }

  test("source stage: asciigrid DSv2 scan, columns pruned, region scope pushed to listing") {
    val src = Pipeline.sourceFiles(spark, inputDir, srcRegion = Some("05"))
    val plan = src.queryExecution.executedPlan
    // column pruning: the scan emits only (path, text) — cell values are
    // never tokenized for the clip path
    assert(plan.output.map(_.name) == Seq("path", "text"), s"plan:\n$plan")
    // the region-directory contains-predicate reaches the DSv2 listing
    // (pushed filter — directories outside the code never open); the
    // exact parent-dir equality stays as a residual row filter. The
    // /05/ literal must sit INSIDE the PushedFilters bracket — finding
    // it anywhere in the plan would also match the residual Filter and
    // silently un-pin the listing-time claim.
    val p = plan.toString
    val pushed = "PushedFilters: \\[[^\\]]*\\]".r.findFirstIn(p)
    assert(pushed.exists(_.contains("/05/")),
      s"path scope should be pushed to the listing, got $pushed in:\n$p")
    assert(src.count() == 1, "only region 05's grid should be listed")
  }

  test("region-scoped run processes only that source directory") {
    val out = s"$work/out-scoped"
    val res = Pipeline.run(spark, inputDir, regionsDf, out,
      updatedAt = "2026-01-01T00:00:00Z", srcRegion = Some("13"))
    // 1 source file × 16 regions
    assert(res.catalog.count() == 16)
    assert(res.catalog.select("base_name").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("grid_00_NZ_norm_Mean_1991-2020_annual"))
  }

  test("observe() metrics ride the run's own materialization") {
    result.catalog.count() // ensure the run executed
    val m = result.metrics
    assert(m("n_products") == 48L, s"metrics: $m")
    assert(m("n_source_files") == 3L && m("n_regions") == 16L, s"metrics: $m")
    // region 18 is far away: its 3 products clip empty
    assert(m("n_nonempty_clips") == 45L, s"metrics: $m")
  }

  test("metadata json has the reference's nested shape") {
    val docPaths = Files.list(Paths.get(s"$work/out/zipped")).iterator()
    var checked = false
    docPaths.forEachRemaining { p =>
      if (p.toString.endsWith("_Gisborne.json") && p.toString.contains("Mean-Air-Temperature")) {
        val doc = spark.read.option("multiLine", true).json(p.toString)
        val r = doc.head()
        val md = r.getAs[org.apache.spark.sql.Row]("metadata")
        assert(md.getAs[String]("title") ==
          "Climatology Grid Mean Air Temperature (1991-2020), July, Region: Gisborne")
        assert(md.getAs[String]("parameter") == "Mean Air Temperature")
        assert(md.getAs[String]("period") == "July")
        assert(md.getAs[String]("statistic") == "Mean")
        assert(md.getAs[String]("region") == "Gisborne")
        val dateMin = md.getAs[org.apache.spark.sql.Row]("dateMin")
        assert(dateMin.getAs[String]("$date") == "1991-01-01T00:00:00Z")
        val up = md.getAs[org.apache.spark.sql.Row]("updatedAt")
        assert(up.getAs[String]("$date") == "2026-01-01T00:00:00Z")
        val src = r.getAs[String]("src")
        assert(src.startsWith("/climate/grids/") && src.endsWith(".zip"))
        checked = true
      }
    }
    assert(checked, "expected a Gisborne Mean-Air-Temperature doc")
  }

  // ---- content pin: the products' bytes, recorded before the pipeline
  // core was restructured. Input: the three GridGen grids above plus
  // GridGen grid 3 with its first valid cell written as "-0.0", under
  // the same regions. Zip containers stamp entry times, so entries are
  // compared, not containers.

  private val NegZeroStem = "Mean-Daily-Maximum-Air-Temperature_Mean_1991-2020_January"

  private def negZeroText: String = {
    val g = GridGen.gen(3)
    val cells = g.values.map(_.toLong.toString)
    cells(g.values.indexWhere(_ != GridGen.Nodata)) = "-0.0"
    AsciiGrid.write(g).linesIterator.take(6).mkString("", "\n", "\n") +
      cells.grouped(g.ncols).map(_.mkString(" ")).mkString("", "\n", "\n")
  }

  private lazy val pinOut: String = {
    val in = Paths.get(work, "pin-in")
    val files = Seq(
      ("05", "grid_02_NZ_norm_Mean_1991-2020_monthly7", GridGen.genText(0)),
      ("13", "grid_00_NZ_norm_Mean_1991-2020_annual", GridGen.genText(1)),
      ("01", "grid_09_NZ_norm_StdDev_1991-2020_seasonal2", GridGen.genText(2)),
      ("09", "grid_03_NZ_norm_Mean_1991-2020_monthly1", negZeroText))
    files.foreach { case (region, base, text) =>
      Files.createDirectories(in.resolve(region))
      Files.write(in.resolve(region).resolve(s"$base.asc"), text.getBytes(StandardCharsets.UTF_8))
    }
    val out = s"$work/pin-out"
    Pipeline.run(spark, in.toString, regionsDf, out, updatedAt = "2026-01-01T00:00:00Z")
    out
  }

  /** Every zip entry and every .json doc of a run as (name, bytes). */
  private def outputFiles(outDir: String): Seq[(String, Array[Byte])] =
    Paths.get(outDir, "zipped").toFile.listFiles.toSeq.flatMap { f =>
      if (f.getName.endsWith(".zip")) {
        val z = new ZipFile(f)
        try z.entries().asScala.map(e => e.getName -> z.getInputStream(e).readAllBytes()).toList
        finally z.close()
      } else if (f.getName.endsWith(".json")) Seq(f.getName -> Files.readAllBytes(f.toPath))
      else Nil
    }

  private def sha256(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString

  test("content pin: every zip entry and .json doc is byte-identical") {
    // per kind: file count and the SHA-256 of its sorted "name sha" lines
    val got = outputFiles(pinOut)
      .groupBy { case (n, _) => n.replaceAll("^.*?(\\.[a-z.]+)$", "$1") }
      .map { case (kind, fs) =>
        kind -> s"${fs.size}:${sha256(fs.map { case (n, b) => s"$n ${sha256(b)}" }
          .sorted.mkString("\n").getBytes(StandardCharsets.UTF_8))}"
      }
    assert(got == Map(
      ".asc" -> "64:5933212f8c5abd7cb4be1bdb827dd04a21ac3eb741fc8b59044ece24727980eb",
      ".wld" -> "64:fc8b765bd5573b750265db4fe562f5e552b0b5846962bcd93ec41557196e4ff3",
      ".stats.txt" -> "64:07431417b4c0c5eb6feaacb1e7f89434887ea915d06d5a882b9049dcc1e0eea7",
      ".tif" -> "64:e61556fdc63c6f35207ede44dd2f27e6250e66d8cb0fa9f7ffd93268b8417b44",
      ".json" -> "64:feb9f431ec09cf1c558c44c3cf005af6ce32cc9a68c468cc03f8110bbaeaf293"), s"got: $got")
  }

  test("content pin: catalog parquet schema (names, types, order)") {
    val schema = spark.read.parquet(s"$pinOut/catalog.parquet").schema.fields
      .map(f => s"${f.name}:${f.dataType.simpleString}").toSeq
    assert(schema == Seq(
      "base_name:string", "new_file_name:string", "clipped_name:string",
      "region_code:string", "region_name:string", "region_title:string",
      "ncols_out:int", "nrows_out:int", "n_valid:bigint", "n_nodata:bigint",
      "sum_valid:double", "clipped_text:string", "stats_text:string",
      "metadata_json:string", "file_stem:string"), s"got: $schema")
  }

  test("content pin: .tif samples are the float32 bits of the zipped .asc " +
    "values (a -0.0 source cell is +0 in both)") {
    val files = outputFiles(pinOut).toMap
    def bits(vs: Array[Double]) = vs.map(v => java.lang.Float.floatToRawIntBits(v.toFloat)).toSeq
    var negZeroChecked = 0
    files.foreach { case (name, bytes) =>
      if (name.endsWith(".tif") && bytes.nonEmpty) {
        val asc = AsciiGrid.parse(new String(files(name.stripSuffix(".tif") + ".asc"), "UTF-8"))
        val tif = GeoTiff.read(bytes)
        assert(bits(tif.grid.values) == bits(asc.values), s"sample bits drift in $name")
        if (name.startsWith(NegZeroStem)) {
          assert(asc.values.contains(0.0), s"$name lost the -0.0 source cell")
          negZeroChecked += 1
        }
      }
    }
    assert(negZeroChecked == 15, s"checked $negZeroChecked products of the -0.0 grid")
  }

  test("plan pin: each grid is parsed once, below the cross join, on its " +
    "streamed side, and its text does not cross the join") {
    val plan = Pipeline.products(spark, Pipeline.sourceFiles(spark, inputDir), regionsDf,
      "climate/grids", "2026-01-01T00:00:00Z").queryExecution.executedPlan
    val joins = collect(plan) { case j: BroadcastNestedLoopJoinExec => j }
    assert(joins.size == 1, s"plan:\n$plan")
    val join = joins.head
    assert(join.buildSide == BuildRight, s"plan:\n$plan")
    def udfNames(p: SparkPlan): Seq[String] =
      collect(p) { case n => n.expressions.flatMap(_.collect { case u: ScalaUDF => u.udfName }) }
        .flatten.flatten
    assert(!join.left.output.exists(_.name == "text"), s"text crosses the join:\n$plan")
    assert(udfNames(join.left).count(_ == "parse_grid") == 1, s"plan:\n$plan")
    assert(udfNames(plan).count(_ == "parse_grid") == 1, s"plan:\n$plan")
  }
}
