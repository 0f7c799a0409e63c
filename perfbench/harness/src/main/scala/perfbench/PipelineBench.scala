package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.etl.Pipeline
import graft.geo.Jts
import graft.raster.{AsciiGrid, GeoTiff, RasterOps}
import graft.sinks.ZipSink

import perfbench.Main.{Config, Outcome, deleteTree, median, percentile, seconds, treeSize}

/** The pipeline workloads: `Pipeline.run` over generated grids × the 16
  * generated regions, as the program's CLI runs it.
  */
object PipelineBench {
  private val UpdatedAt = "2026-01-01T00:00:00Z"
  private val SampleSize = 8
  private val GenReps = 3
  private val ReplayGrids = 16

  def run(spark: SparkSession, cfg: Config, shape: Inputs.Shape, listener: Listener,
      sessionS: Double): Outcome = {
    // ---- set-up: inputs (generated GenReps times, median kept), the
    // regions dimension and one untimed warm-up: the grids of one input
    // directory against the first region
    val work = new File(cfg.work)
    val reps = if (shape.cellsize < 1000) 1 else GenReps
    val gens = (1 to reps).map { i =>
      val dir = new File(work, s"inputs-$i")
      deleteTree(dir)
      seconds(Inputs.generate(shape, cfg.seed, dir.getAbsolutePath))
    }
    gens.init.foreach(g => deleteTree(new File(g._1.inputDir)))
    val gen = gens.last._1
    val genS = median(gens.map(_._2))

    val (regions, warmS) = seconds {
      val regions = regionsFrame(spark, gen)
      regions.cache().count()
      val out = new File(work, "warmup")
      Pipeline.run(spark, gen.inputDir, regions.limit(1), out.getAbsolutePath, UpdatedAt,
        srcRegion = Some(gen.grids.head.paramCode))
      deleteTree(out)
      regions
    }
    val setupS = genS + sessionS + warmS
    val checks = new PipelineChecks(gen, SampleSize)

    val info = Seq(
      "input_mb" -> Json.num(gen.inputMb),
      "grids" -> gen.grids.size.toString,
      "cells_per_grid" -> gen.cellsPerGrid.toString,
      "grid_shape" -> Json.str(s"${shape.ncols}x${shape.nrows} @ ${shape.cellsize.toInt} m"),
      "regions" -> gen.regions.size.toString,
      "vertices_per_region" -> gen.verticesPerRegion.toString,
      "products_per_run" -> gen.products.toString,
      "setup_generate_s" -> Json.num(genS),
      "setup_session_s" -> Json.num(sessionS),
      "setup_warmup_s" -> Json.num(warmS))

    // the set-up facts, for a run whose JVM dies before it can report
    Files.write(Paths.get(cfg.work, "setup.json"), Json.obj(info ++ Seq(
      "setup_s" -> Json.num(setupS))).getBytes(StandardCharsets.UTF_8))
    if (cfg.trace) traced(spark, cfg, gen, regions, checks, listener, info)
    else timed(spark, cfg, gen, regions, checks, setupS, info)
  }

  private def regionsFrame(spark: SparkSession, gen: Inputs.Generated): DataFrame = {
    val schema = StructType(Seq("code", "name", "raw_title", "wkt").map(StructField(_, StringType)))
    spark.createDataFrame(gen.regions.map(r => Row(r.code, r.name, r.rawTitle, r.wkt)).asJava, schema)
  }

  // ---- --trace 0: timed runs ------------------------------------------

  private def timed(spark: SparkSession, cfg: Config, gen: Inputs.Generated, regions: DataFrame,
      checks: PipelineChecks, setupS: Double, info: Seq[(String, String)]): Outcome = {
    val walls = mutable.ArrayBuffer.empty[Double]
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted, failed, good = 0L
    var timedS = 0.0
    var outBytes = 0L
    var peakMb = 0.0
    var checkS = 0.0
    var i = 0
    while ((i == 0 || timedS < cfg.seconds) && errors.isEmpty) {
      val out = new File(cfg.work, s"out-$i")
      HeapMonitor.arm()
      val t0 = System.nanoTime()
      val ran = try { Pipeline.run(spark, gen.inputDir, regions, out.getAbsolutePath, UpdatedAt); None }
        catch { case NonFatal(e) => Some(e) }
      val dt = (System.nanoTime() - t0) / 1e9
      peakMb = math.max(peakMb, HeapMonitor.disarm())
      timedS += dt
      attempted += gen.products
      ran match {
        case None =>
          val ((nFailed, problems), dc) = seconds(checks.check(spark, out.getAbsolutePath))
          checkS += dc
          errors ++= problems
          failed += nFailed
          good += gen.products - nFailed
          walls += dt
          outBytes = treeSize(out)._2
        case Some(e) =>
          failed += gen.products
          errors += s"run $i: ${e.getClass.getName}: ${e.getMessage}"
      }
      deleteTree(out)
      i += 1
    }
    Outcome(attempted, failed, failed == 0 && errors.isEmpty,
      Seq(
        ("setup_s", setupS, "s"),
        ("wall_s", median(walls.toSeq), "s"),
        ("items_per_s", good / math.max(timedS, 1e-9), "1/s"),
        ("latency_p50_s", percentile(walls.toSeq, 0.5), "s"),
        ("latency_p95_s", percentile(walls.toSeq, 0.95), "s"),
        ("output_mb", outBytes / 1e6, "MB")),
      info ++ Seq("runs" -> walls.size.toString,
        "run_walls_s" -> walls.map(Json.num).mkString("[", ",", "]"),
        "error_rate" -> Json.num(failed.toDouble / math.max(attempted, 1L)),
        "peak_heap_after_gc_mb" -> Json.num(peakMb),
        "check_s" -> Json.num(checkS)),
      errors.toSeq)
  }

  // ---- --trace 1: the program's run under the listener, then the
  // layer replay untraced, traced and untraced again -------------------

  private def traced(spark: SparkSession, cfg: Config, gen: Inputs.Generated, regions: DataFrame,
      checks: PipelineChecks, listener: Listener, info: Seq[(String, String)]): Outcome = {
    val t = new Tracer(true)
    val out = new File(cfg.work, "traced-run")
    PerfbenchBridge.drainListenerBus(spark.sparkContext)
    listener.reset()
    listener.detail = true
    val (_, runS) = seconds(t.span("etl", "etl.Pipeline.run") {
      Pipeline.run(spark, gen.inputDir, regions, out.getAbsolutePath, UpdatedAt)
    })
    PerfbenchBridge.drainListenerBus(spark.sparkContext)
    listener.detail = false
    val (filesWritten, bytesWritten) = treeSize(out)
    val (nFailed, problems) = checks.check(spark, out.getAbsolutePath)
    deleteTree(out)

    val off = new Tracer(false)
    val (_, plain1) = seconds(replay(spark, cfg, gen, off))
    t.newTrace()
    val (r, tracedS) = seconds(replay(spark, cfg, gen, t))
    val (_, plain2) = seconds(replay(spark, cfg, gen, off))
    Files.write(Paths.get(cfg.work, "spans.json"), t.toJson.getBytes(StandardCharsets.UTF_8))

    val pairs = math.max(1, r.pairs).toDouble
    val metrics = Layers.fill(t, Map(
      "raster.parse_s_per_mb" -> t.seconds("raster.parse") / math.max(r.parsedMb, 1e-9),
      "raster.clip_s_per_pair" -> t.seconds("raster.clip") / pairs,
      "raster.cells_tested_per_pair" -> r.tested / pairs,
      "raster.clip_keep_ratio" -> r.kept.toDouble / math.max(r.tested, 1L),
      "raster.stats_s_per_pair" -> t.seconds("raster.stats") / pairs,
      "raster.write_s_per_pair" -> t.seconds("raster.write") / pairs,
      "raster.geotiff_s_per_pair" -> t.seconds("raster.geotiff") / pairs,
      "etl.cache_peak_mb" -> listener.storagePeak / 1e6,
      "etl.spill_mb" -> listener.spillBytes / 1e6,
      "etl.jobs" -> listener.jobs.toDouble,
      "etl.stages" -> listener.stages.toDouble,
      "etl.tasks" -> listener.tasks.toDouble,
      "etl.task_run_s" -> listener.runMs / 1e3,
      "etl.task_cpu_s" -> listener.cpuNs / 1e9,
      "etl.task_gc_s" -> listener.gcMs / 1e3,
      "etl.task_wait_s" -> listener.waitMs / 1e3,
      "etl.core_busy_ratio" -> listener.durationMs / 1e3 / math.max(runS * cfg.cpus, 1e-9),
      "etl.task_skew" -> listener.taskSkew,
      "geo.wkt_parse_s_per_region" -> t.seconds("geo.parseWkt") / pairs,
      "geo.reproject_s_per_product" -> t.seconds("geo.reproject") / pairs,
      "sources.files_listed" -> r.files.toDouble,
      "sources.read_mb" -> r.readMb,
      "sources.scan_s" -> t.seconds("sources.sourceFiles"),
      "sinks.zip_job_s" -> listener.jobSecondsAt("ZipSink.scala", "foreachPartition"),
      "sinks.json_job_s" -> listener.jobSecondsAt("Pipeline.scala", "foreachPartition"),
      "sinks.catalog_job_s" -> listener.jobSecondsAt("Pipeline.scala", "parquet"),
      "sinks.files_written" -> filesWritten.toDouble,
      "sinks.mb_written" -> bytesWritten / 1e6,
      "sinks.zip_s_per_product" -> t.seconds("sinks.ZipSink.write") / pairs,
      "trace.overhead_s" -> (tracedS - (plain1 + plain2) / 2)))
    Outcome(gen.products, nFailed, nFailed == 0, metrics,
      info ++ Seq("pipeline_run_s" -> Json.num(runS), "replay_traced_s" -> Json.num(tracedS),
        "replay_untraced_s" -> s"[${Json.num(plain1)},${Json.num(plain2)}]"),
      problems)
  }

  final case class Replay(files: Int, readMb: Double, parsedMb: Double, pairs: Int,
      tested: Long, kept: Long)

  /** Direct calls into each layer's public functions on the workload's
    * inputs, each under a span: the source scan of every file, then for
    * the first `ReplayGrids` grids the parse and, per (grid, region)
    * pair, the WKT parse, clip, stats, text and GeoTIFF encodes and the
    * footprint reprojection, then one zip sink write of every replayed
    * pair's entries. Per-layer figures are per MB or per pair, so the
    * cap only bounds the replay's length.
    */
  private def replay(spark: SparkSession, cfg: Config, gen: Inputs.Generated, t: Tracer): Replay = {
    val files = t.span("sources", "sources.sourceFiles") {
      Pipeline.sourceFiles(spark, gen.inputDir).collect()
    }
    val readMb = files.iterator.map(_.getString(1).length.toLong).sum / 1e6
    var parsedMb = 0.0
    val wkts = gen.regions.map(_.wkt)
    var tested, kept = 0L
    var pairs = 0
    val zipRows = mutable.ArrayBuffer.empty[Row]
    files.sortBy(_.getString(0)).take(ReplayGrids).foreach { f =>
      val grid = t.span("raster", "raster.parse") { AsciiGrid.parse(f.getString(1)) }
      parsedMb += f.getString(1).length / 1e6
      val name = f.getString(0).split('/').last.stripSuffix(".asc")
      wkts.zipWithIndex.foreach { case (wkt, k) =>
        val geom = t.span("geo", "geo.parseWkt") { Jts.parseWkt(wkt) }
        val clipped = t.span("raster", "raster.clip") { RasterOps.clip(grid, geom) }
        val st = t.span("raster", "raster.stats") { RasterOps.stats(clipped) }
        val text = t.span("raster", "raster.write") { AsciiGrid.write(clipped) }
        val tif = t.span("raster", "raster.geotiff") {
          if (clipped.ncols == 0 || clipped.nrows == 0) Array.empty[Byte]
          else GeoTiff.write(clipped, srid = 2193)
        }
        t.span("geo", "geo.reproject") { Jts.reprojectToWgs84(geom) }
        tested += clipped.ncols.toLong * clipped.nrows
        kept += st.nValid
        pairs += 1
        val stem = s"${name}_$k"
        zipRows += Row(s"$stem.zip",
          Seq(Row(s"$stem.asc", text), Row(s"$stem.stats.txt", s"n_valid ${st.nValid}")),
          Seq(Row(s"$stem.tif", tif)))
      }
    }
    val entry = StructType(Seq(StructField("name", StringType), StructField("content", StringType)))
    val binEntry = StructType(Seq(StructField("name", StringType), StructField("content", BinaryType)))
    val zipSchema = StructType(Seq(StructField("zip_name", StringType),
      StructField("entries", ArrayType(entry)), StructField("bin_entries", ArrayType(binEntry))))
    val zipDf = spark.createDataFrame(zipRows.asJava, zipSchema).repartition(cfg.cpus)
    val zipOut = new File(cfg.work, "replay-zips")
    t.span("sinks", "sinks.ZipSink.write") { ZipSink.write(zipDf, zipOut.getAbsolutePath) }
    deleteTree(zipOut)
    Replay(files.length, readMb, parsedMb, pairs, tested, kept)
  }
}
