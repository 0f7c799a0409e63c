package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.util.Locale

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.queries.QueryCaches

import perfbench.Main.{Config, Outcome, median, percentile, seconds, treeSize}

/** The query suite: a closed loop with one client over a fixed slice of
  * `SparkEntry.queries` (`Slice`), the order shuffled by the seed. The
  * untimed warm-up pass saves each result for the DuckDB oracle (checked
  * by `perfbench/oracle.py` after the JVM exits); every timed execution
  * must reproduce the warm-up's result digest.
  */
object QueryBench {
  /** The slice, chosen from one measured pass over all 296 queries: the
    * query nearest the median cost of each of 10 equal-count cost
    * strata, preferring one that brings in a `sources` pushdown query, a
    * `plans` kernel or a pack not yet in the slice; then the kernels and
    * packs still missing. perfbench/README.md lists why each is here and
    * compares the slice's latencies with the full pass's.
    */
  val Slice: Seq[String] = Seq(
    "q_dedup_bloom", "q_dedup_incremental", "q_textband_recall_prod", // dedup
    "q_partitioned_source", "q_runtime_prune_source", "q_spj_source", // etl
    "q_seasonality", // event
    "q_reproject_4326", // geo
    "q_audio_vad", // multimodal
    "q_raster_stats", // raster
    "q_pivot", // relational
    "q_ann_quantized", // similarity
    "q_doc_fingerprint", "q_tfidf") // text
  /** Seconds of one pass over the slice, from the full pass. The
    * number of timed passes depends on `--seconds` only, never on how
    * fast a pass runs, so every run's percentiles come from the same
    * number of samples.
    */
  val NominalPassS = 7.0
  val MinPasses = 2

  def passes(seconds: Double): Int = math.max(MinPasses, math.ceil(seconds / NominalPassS).toInt)

  def run(spark: SparkSession, cfg: Config, listener: Listener, sessionS: Double): Outcome = {
    val names = Slice
    val fns = SparkEntry.queries
    val resultsDir = new File(cfg.work, "query-results")
    val errors = mutable.ArrayBuffer.empty[String]

    // ---- set-up: one untimed pass, results saved for the oracle
    var saveS = 0.0
    val (digests, warmS) = seconds {
      order(cfg.seed, names, 0).flatMap { n =>
        try {
          val df = fns(n)(spark, cfg.sfDir)
          val rows = df.collect()
          QueryCaches.releaseAll(spark)
          saveS += seconds(spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
            .write.mode("overwrite").parquet(new File(resultsDir, n).getAbsolutePath))._2
          Some(n -> digest(rows))
        } catch { case NonFatal(e) =>
          errors += s"$n (warm-up): ${e.getClass.getName}: ${e.getMessage}"
          None
        }
      }.toMap
    }
    val oracle = names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _))
    Files.write(Paths.get(resultsDir.getAbsolutePath, "oracle_sql.json"),
      Json.obj(oracle.map { case (k, v) => k -> Json.str(v) }).getBytes(StandardCharsets.UTF_8))
    val setupS = sessionS + warmS
    val info = Seq(
      "queries" -> names.size.toString,
      "queries_in_suite" -> fns.size.toString,
      "names" -> names.map(Json.str).mkString("[", ",", "]"),
      "setup_session_s" -> Json.num(sessionS),
      "setup_warmup_s" -> Json.num(warmS),
      "setup_warmup_save_s" -> Json.num(saveS))

    if (cfg.trace) traced(spark, cfg, listener, names, digests, errors, info)
    else timed(spark, cfg, names, digests, errors, setupS, treeSize(resultsDir)._2, info)
  }

  private def order(seed: Long, names: Seq[String], pass: Int): Seq[String] =
    new Random(seed * 7919L + pass).shuffle(names)

  /** One execution of one query, optionally split into phases under
    * spans. Returns the rows and the seconds from the call to the result.
    */
  private def execute(spark: SparkSession, cfg: Config, n: String, t: Tracer): (Array[Row], Double) = {
    val fn = SparkEntry.queries(n)
    val t0 = System.nanoTime()
    val rows = t.span("queries", s"queries.$n") {
      val df: DataFrame = t.span("queries", "queries.build") { fn(spark, cfg.sfDir) }
      t.span("queries", "queries.plan") { df.queryExecution.executedPlan }
      t.span("queries", "queries.exec") { df.collect() }
    }
    val dt = (System.nanoTime() - t0) / 1e9
    t.span("queries", "queries.release") { QueryCaches.releaseAll(spark) }
    (rows, dt)
  }

  /** Runs one pass; returns (query, seconds) per query and the pass wall. */
  private def pass(spark: SparkSession, cfg: Config, names: Seq[String], digests: Map[String, String],
      t: Tracer, p: Int, errors: mutable.ArrayBuffer[String]): (Seq[(String, Double)], Double, Int) = {
    var failed = 0
    val t0 = System.nanoTime()
    val lat = order(cfg.seed, names, p).flatMap { n =>
      try {
        val (rows, dt) = execute(spark, cfg, n, t)
        if (!digests.get(n).contains(digest(rows))) {
          failed += 1
          errors += s"$n (pass $p): result differs from the oracle-checked warm-up result"
        }
        Some(n -> dt)
      } catch { case NonFatal(e) =>
        failed += 1
        errors += s"$n (pass $p): ${e.getClass.getName}: ${e.getMessage}"
        None
      }
    }
    (lat, (System.nanoTime() - t0) / 1e9, failed)
  }

  private def timed(spark: SparkSession, cfg: Config, names: Seq[String], digests: Map[String, String],
      errors: mutable.ArrayBuffer[String], setupS: Double, outBytes: Long,
      info: Seq[(String, String)]): Outcome = {
    val lat = mutable.ArrayBuffer.empty[(String, Double)]
    val walls = mutable.ArrayBuffer.empty[Double]
    var failed = 0L
    var timedS = 0.0
    var peakMb = 0.0
    val off = new Tracer(false)
    (1 to passes(cfg.seconds)).foreach { p =>
      HeapMonitor.arm()
      val (l, wall, f) = pass(spark, cfg, names, digests, off, p, errors)
      peakMb = math.max(peakMb, HeapMonitor.disarm())
      lat ++= l; walls += wall; failed += f; timedS += wall
    }
    val attempted = (walls.size * names.size).toLong
    failed += names.size - digests.size // a warm-up failure fails the run
    // p50 is the median query's time (each query's median over the
    // passes): steadier than a rank among single executions
    val perQuery = lat.groupBy(_._1).toSeq.sortBy(_._1).map { case (n, xs) => n -> median(xs.map(_._2).toSeq) }
    Outcome(attempted, failed, failed == 0,
      Seq(
        ("setup_s", setupS, "s"),
        ("wall_s", median(walls.toSeq), "s"),
        ("items_per_s", (attempted - failed) / math.max(timedS, 1e-9), "1/s"),
        ("latency_p50_s", median(perQuery.map(_._2)), "s"),
        ("latency_p95_s", percentile(lat.map(_._2).toSeq, 0.95), "s"),
        ("output_mb", outBytes / 1e6, "MB")),
      info ++ Seq("passes" -> walls.size.toString, "latency_samples" -> lat.size.toString,
        "query_median_s" -> Json.obj(perQuery.map { case (n, m) => n -> Json.num(m) }),
        "error_rate" -> Json.num(failed.toDouble / math.max(attempted, 1L)),
        "peak_heap_after_gc_mb" -> Json.num(peakMb)),
      errors.toSeq.take(20))
  }

  private def traced(spark: SparkSession, cfg: Config, listener: Listener, names: Seq[String],
      digests: Map[String, String], errors: mutable.ArrayBuffer[String],
      info: Seq[(String, String)]): Outcome = {
    val off = new Tracer(false)
    val (_, plain1, f0) = pass(spark, cfg, names, digests, off, 1, errors)
    val t = new Tracer(true)
    t.newTrace()
    PerfbenchBridge.drainListenerBus(spark.sparkContext)
    listener.reset()
    listener.detail = true
    val (_, tracedWall, f1) = pass(spark, cfg, names, digests, t, 2, errors)
    PerfbenchBridge.drainListenerBus(spark.sparkContext)
    listener.detail = false
    val (_, plain2, f2) = pass(spark, cfg, names, digests, off, 3, errors)
    Files.write(Paths.get(cfg.work, "spans.json"), t.toJson.getBytes(StandardCharsets.UTF_8))
    val failed = f0 + f1 + f2 + (names.size - digests.size)
    val metrics = Layers.fill(t, Map(
      "queries.build_s" -> t.seconds("queries.build"),
      "queries.plan_s" -> t.seconds("queries.plan"),
      "queries.exec_s" -> t.seconds("queries.exec"),
      "queries.release_s" -> t.seconds("queries.release"),
      "queries.jobs" -> listener.jobs.toDouble,
      "queries.stages" -> listener.stages.toDouble,
      "queries.tasks" -> listener.tasks.toDouble,
      "queries.shuffle_mb" -> listener.shuffleBytes / 1e6,
      "queries.spill_mb" -> listener.spillBytes / 1e6,
      "queries.task_cpu_s" -> listener.cpuNs / 1e9,
      "queries.task_gc_s" -> listener.gcMs / 1e3,
      "sources.read_mb" -> listener.inputBytes / 1e6,
      "trace.overhead_s" -> (tracedWall - (plain1 + plain2) / 2)))
    Outcome(3L * names.size, failed, failed == 0, metrics,
      info ++ Seq("pass_traced_s" -> Json.num(tracedWall),
        "pass_untraced_s" -> s"[${Json.num(plain1)},${Json.num(plain2)}]"),
      errors.toSeq.take(20))
  }

  // ---- result digests --------------------------------------------------

  /** Order-insensitive digest of a result; doubles to 9 significant
    * digits so a re-association of a float sum is not a mismatch.
    */
  def digest(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(norm).sorted.foreach(s => md.update((s + "\n").getBytes(StandardCharsets.UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }

  private def norm(v: Any): String = v match {
    case null => "<null>"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else if (d == 0.0) "0"
      else "%.8e".formatLocal(Locale.ROOT, d)
    case f: Float => norm(f.toDouble)
    case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => norm(k) + "->" + norm(x) }.sorted.mkString("{", ",", "}")
    case bd: java.math.BigDecimal => bd.stripTrailingZeros.toPlainString
    case other => other.toString
  }
}
