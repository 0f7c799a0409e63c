package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.geo.Jts
import graft.raster.{AsciiGrid, GeoTiff, RasterOps}
import graft.sinks.ZipSink

/** The composed end-to-end pipeline (SURVEY.md §3 lifecycle): the
  * reference's serial nested loops (ETL.py:229–366) as one declarative
  * DataFrame graph.
  *
  * {{{
  * asciigrid scan (*.asc, recursive)            SRC-1  (glob pushdown)
  *  → filename decode                            PRJ-1
  *  → broadcast dim decode joins → rename        JOIN-2, PRJ-2
  *  → parse each grid once, drop its text
  *  → × broadcast(regions ≠ "99" + footprint)    JOIN-1, PRJ-3/4, OP-SP-5/6
  *  → clip once → stats, .asc, .wld, .tif        OP-SP-3, AGG-2, SNK-1
  *  → metadata doc                               D5
  *  → zip sink + json sink + catalog             SNK-3/4
  * }}}
  *
  * Anti-optimizations of the reference eliminated by construction
  * (SURVEY.md §4.1): the region layer is read once and broadcast (not
  * re-fetched per file); no per-region directory re-listing; the
  * (file × region) clip tasks are embarrassingly parallel across
  * executors instead of strictly serial.
  */
object Pipeline {

  /** A run's outcome: the catalog as written to parquet, plus the
    * data-quality counters `observe()` collected during the run.
    */
  final case class Result(catalog: DataFrame,
      metrics: Map[String, Any] = Map.empty)

  /** Everything one (grid × region) product hands the sinks, encoded
    * from a single clip: the `.asc` text, the `.wld` world file, the
    * `.tif` bytes and the clip's statistics.
    */
  final case class Encoded(asc: String, wld: String, tif: Array[Byte],
      ncols: Int, nrows: Int, nValid: Long, nNodata: Long,
      min: Double, max: Double, sum: Double)

  // one parse per grid; the typed result travels as a struct column
  private val parseGrid =
    udf((text: String) => AsciiGrid.parse(text)).withName("parse_grid")

  // OP-SP-3 + AGG-2 + SNK-1: clip once, encode every sidecar from it
  private val clipProduct =
    udf((g: AsciiGrid, wkt: String) => encode(RasterOps.clip(g, Jts.parseWkt(wkt))))
      .withName("clip_product")

  private def encode(clipped: AsciiGrid): Encoded = {
    val s = RasterOps.stats(clipped)
    val g = asWritten(clipped)
    Encoded(AsciiGrid.write(clipped),
      // world file (the reference zips the ESRI sidecars Clip creates,
      // ETL.py:5,315–346): cellsize / rotation / centre of upper-left
      if (g.ncols == 0) ""
      else s"${g.cellsize}\n0.0\n0.0\n-${g.cellsize}\n${g.centerX(0)}\n${g.centerY(0)}\n",
      // the clipped raster as GeoTIFF in NZTM2000 (ETL.py:303–346); an
      // empty clip zips a zero-byte entry, as the reference's failed
      // clips leave no raster payload
      if (g.ncols == 0 || g.nrows == 0) Array.empty[Byte]
      else GeoTiff.write(g, srid = 2193),
      clipped.ncols, clipped.nrows, s.nValid, s.nNodata, s.min, s.max, s.sum)
  }

  /** The grid as its `.asc` text records it: `AsciiGrid.write` prints
    * -0.0 as "0", so the `.wld` and `.tif` hold +0.0 there too
    * (`x + 0.0` turns -0.0 into +0.0 and leaves every other value as is).
    */
  private def asWritten(g: AsciiGrid): AsciiGrid =
    g.copy(xllcorner = g.xllcorner + 0.0, yllcorner = g.yllcorner + 0.0,
      cellsize = g.cellsize + 0.0, nodata = g.nodata + 0.0,
      values = g.values.map(_ + 0.0))

  /** The pipeline's source stage: the asciigrid DataSource V2 scan,
    * pruned to (path, text) — the pipeline parses each grid's text
    * itself, once, after the filename decode drops unknown files — with
    * an optional source-region scope.
    * The scope is expressed as a `path` predicate so the DSv2 pushdown
    * applies it at FILE LISTING time: a run scoped to one region-code
    * directory of a 100 TB tree opens only that directory's files
    * (PushedFilters in the scan — PipelineSpec pins this; an exact
    * parent-dir check stays as a cheap residual filter).
    */
  def sourceFiles(spark: SparkSession, inputDir: String,
      srcRegion: Option[String] = None): DataFrame = {
    val scan = spark.read.format("asciigrid").load(inputDir)
    val scoped = srcRegion match {
      case Some(code) =>
        // two predicates, one job each: the contains() is a pushable
        // string filter the DSv2 source applies at FILE LISTING time
        // (directories outside the code never open); the parent-dir
        // equality is the exact scope — it screens out the pathological
        // case where inputDir itself contains a segment equal to a
        // region code (contains alone would then match every file).
        // Scheme-prefix-agnostic, unlike anchoring on inputDir.
        scan.filter(col("path").contains(s"/$code/") &&
          element_at(split(col("path"), "/"), -2) === code)
      case None => scan
    }
    scoped.select(col("path"), col("text"))
  }

  /** Run the full pipeline.
    *
    * @param inputDir   root of the .asc tree (region-code subfolders)
    * @param regions    dimension with columns code, name, raw_title, wkt
    * @param outDir     local/shared-FS output root (zips + json docs)
    * @param updatedAt  deterministic updatedAt stamp for metadata docs
    * @param srcRegion  optional source-region scope (a region-code
    *                   directory); pushed into the scan's file listing
    */
  def run(spark: SparkSession, inputDir: String, regions: DataFrame,
      outDir: String, updatedAt: String, prefix: String = "climate/grids",
      srcRegion: Option[String] = None): Result = {

    // SNK-5/6: when the S3 sink is enabled and its target scheme is
    // usable, all outputs stream straight to the object store; otherwise
    // degrade to the local root (the reference's missing-boto3 path,
    // ETL.py:77–92) with a logged warning.
    val sinkRoot = graft.sinks.S3Sink.resolveRoot(spark, outDir)

    // SNK-7 counterpart at scale: data-quality counters ride the
    // existing materialization via observe() — an AccumulatorV2 under
    // the hood, aggregated DURING the first action over the cached
    // plan, zero extra passes (a separate count()/agg() would re-scan).
    // The run's log line and Result.metrics both come from here.
    val obs = org.apache.spark.sql.Observation(
      s"graft-pipeline-${java.util.UUID.randomUUID()}")
    val observed = products(spark, sourceFiles(spark, inputDir, srcRegion), regions,
      prefix, updatedAt).observe(obs,
      count(lit(1)).as("n_products"),
      coalesce(sum(when(col("n_valid") > 0, 1L).otherwise(0L)), lit(0L))
        .as("n_nonempty_clips"), // sum of zero rows is NULL, not 0
      approx_count_distinct(col("base_name")).as("n_source_files"),
      approx_count_distinct(col("region_code")).as("n_regions"))

    // the three consumers below (catalog, zips, docs) share one
    // materialization of the expensive clip+encode work; released in
    // the finally so repeated runs in a shared session don't leak blocks
    observed.persist()
    try {

    // SNK-3: zip of sidecar group (clipped raster + world file + stats).
    val zips = observed.select(
      concat(col("file_stem"), lit(".zip")).as("zip_name"),
      array(
        struct(concat(col("file_stem"), lit(".asc")).as("name"), col("clipped_text").as("content")),
        struct(concat(col("file_stem"), lit(".wld")).as("name"), col("wld").as("content")),
        struct(concat(col("file_stem"), lit(".stats.txt")).as("name"), col("stats_text").as("content")),
      ).as("entries"),
      array(
        struct(concat(col("file_stem"), lit(".tif")).as("name"), col("tif").as("content")),
      ).as("bin_entries"))
    ZipSink.write(zips, s"$sinkRoot/zipped")

    // SNK-4: one metadata .json per product, written partition-side
    // through the Hadoop FileSystem API (same writer for file:// and
    // s3a:// roots; executors rebuild the handle from shipped fs.* conf).
    val docs = observed.select(col("file_stem"), col("metadata_json"))
    val docDir = s"$sinkRoot/zipped"
    val fsConf = graft.sinks.S3Sink.fsConfEntries(spark)
    docs.foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
      import java.nio.charset.StandardCharsets
      import org.apache.hadoop.fs.Path
      val fs = graft.sinks.S3Sink.fileSystemFor(docDir, fsConf)
      fs.mkdirs(new Path(docDir))
      rows.foreach { r =>
        val out = fs.create(new Path(docDir, r.getAs[String]("file_stem") + ".json"), true)
        try out.write(r.getAs[String]("metadata_json").getBytes(StandardCharsets.UTF_8))
        finally out.close()
      }
    }

    // SNK-1 analog: the converted store is columnar parquet (grid text
    // + product metadata per row), replacing the reference's COG files.
    // coalesce(8): the catalog is one row per product — small relative
    // to the data at every scale — so writing it at the session's 32
    // shuffle partitions yields a tray of near-empty part files (26
    // tiny files + sidecars at the fixture). Eight bounds the
    // small-file count without serializing the write through one task
    // the way coalesce(1) would if the catalog grows.
    observed.drop("wld", "tif")
      .coalesce(8).write.mode("overwrite").parquet(s"$sinkRoot/catalog.parquet")

    // hand back the WRITTEN store, not the in-memory lineage: consumers
    // read the parquet (cheap, pruned) and the cache can be dropped now
    Result(spark.read.parquet(s"$sinkRoot/catalog.parquet"), obs.get)
    } finally observed.unpersist(blocking = false)
  }

  /** The (grid × region) products, narrowed to what the sinks read:
    * the catalog columns, then the `.wld` text and `.tif` bytes. Each
    * grid is parsed once, before the cross join, and its text dropped
    * there; each region's footprint ring is computed once, on the
    * broadcast region dim; each product clips once.
    *
    * @param files  (path, text) rows, as `sourceFiles` returns them
    */
  private[graft] def products(spark: SparkSession, files: DataFrame,
      regions: DataFrame, prefix: String, updatedAt: String): DataFrame = {
    // PRJ-1/2/8 + JOIN-2: decode & rename.
    val pDim = broadcast(Lookups.parameterDim(spark)
      .select(col("code").as("parameter_code"), col("name").as("parameter_name")))
    val tDim = broadcast(Lookups.periodDim(spark)
      .select(col("code").as("period_token"), col("name").as("period_name")))

    val grids = files
      .withColumn("base_name", element_at(split(element_at(split(col("path"), "/"), -1),
        "\\.asc$"), 1))
      .withColumn("parameter_code", Filenames.parameterCode(col("base_name")))
      .withColumn("statistic", Filenames.statistic(col("base_name")))
      .withColumn("period_token", Filenames.periodToken(col("base_name")))
      .join(pDim, "parameter_code")
      .join(tDim, "period_token")
      .withColumn("new_file_name",
        Filenames.newFileName(col("parameter_name"), col("statistic"), col("period_name")))
      .withColumn("grid", parseGrid(col("text")))
      .drop("text")

    // JOIN-1 + PRJ-3/4: cross join the broadcast region dim, with each
    // region's WGS84 footprint ring (OP-SP-5/6) computed once here.
    val dims = broadcast(regions
      .filter(col("code") =!= "99")
      .select(col("code").as("region_code"), col("name").as("region_name"),
        Filenames.normalizeTitle(col("raw_title")).as("region_title"),
        col("wkt").as("region_wkt"), ringCoords(col("wkt")).as("region_ring")))

    val typeParam = Filenames.dashToSpace(col("parameter_name"))
    grids.crossJoin(dims)
      .withColumn("clipped_name",
        Filenames.clippedName(col("new_file_name"), col("region_name")))
      .withColumn("file_stem", element_at(split(col("clipped_name"), "\\.tif$"), 1))
      .withColumn("p", clipProduct(col("grid"), col("region_wkt")))
      .select(
        col("base_name"), col("new_file_name"), col("clipped_name"),
        col("region_code"), col("region_name"), col("region_title"),
        col("p.ncols").as("ncols_out"), col("p.nrows").as("nrows_out"),
        col("p.nValid").as("n_valid"), col("p.nNodata").as("n_nodata"),
        col("p.sum").as("sum_valid"),
        col("p.asc").as("clipped_text"),
        concat_ws("\n",
          concat(lit("n_valid "), col("p.nValid")),
          concat(lit("n_nodata "), col("p.nNodata")),
          concat(lit("min "), col("p.min")),
          concat(lit("max "), col("p.max")),
          concat(lit("sum "), col("p.sum"))).as("stats_text"),
        // D5: metadata document with the reprojected footprint
        MetadataJson.doc(
          prefix = lit(prefix),
          fileStem = col("file_stem"),
          title = MetadataJson.title(typeParam, col("period_name"), col("region_title")),
          description = MetadataJson.description(typeParam, col("statistic"),
            lit("1991-2020"), col("period_name"), col("region_title")),
          coords = col("region_ring"),
          parameter = typeParam,
          period = col("period_name"),
          statistic = col("statistic"),
          region = col("region_title"),
          updatedAt = lit(updatedAt)).as("metadata_json"),
        col("file_stem"), col("p.wld").as("wld"), col("p.tif").as("tif"))
  }

  /** WKT polygon → GeoJSON-style coordinates array
    * array(array(array(x,y)...)) of the WGS84-reprojected envelope ring.
    */
  private def ringCoords(wkt: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val u = udf { (w: String) =>
      val ring = Jts.exteriorRing(
        Jts.reprojectToWgs84(Jts.envelopePolygon(Jts.parseWkt(w))))
      Array(ring.map { case (x, y) =>
        Array(math.rint(x * 1e6) / 1e6, math.rint(y * 1e6) / 1e6) })
    }
    u(wkt)
  }
}
