package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM: generate inputs, start the session,
  * warm up, then either the timed runs (`--trace 0`, end-to-end
  * metrics) or the untraced-then-traced replay (`--trace 1`, per-layer
  * metrics). Writes a JSON result file; `perfbench/run.py` prints it.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --cpus C --work DIR --result FILE [--sf-dir DIR]
  */
object Main {
  final case class Config(workload: String, seed: Long, seconds: Double, trace: Boolean,
      cpus: Int, work: String, result: String, sfDir: String)

  /** What a workload hands back: counts, metrics in print order, and
    * extra facts for the result file.
    */
  final case class Outcome(attempted: Long, failed: Long, correct: Boolean,
      metrics: Seq[(String, Double, String)], info: Seq[(String, String)],
      errors: Seq[String])

  val Shapes: Map[String, Inputs.Shape] = Map(
    "nz_grids" -> Inputs.Shape(500.0, 4),
    "catalog_small" -> Inputs.Shape(10000.0, 272))

  def main(args: Array[String]): Unit = {
    val o = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val cfg = Config(o("workload"), o("seed").toLong, o("seconds").toDouble, o("trace") == "1",
      o("cpus").toInt, o("work"), o("result"), o.getOrElse("sf-dir", ""))
    new File(cfg.work).mkdirs()
    val progress = new PrintWriter(Files.newBufferedWriter(Paths.get(cfg.work, "progress.log")))
    HeapMonitor.install()

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${cfg.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cfg.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(cfg.work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(cfg.work, "spark-local").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.sinks.S3Sink.disableLocalWriteChecksums(spark)
    val listener = new Listener(Some(progress))
    spark.sparkContext.addSparkListener(listener)
    val sessionS = (System.nanoTime() - t0) / 1e9

    val outcome =
      try cfg.workload match {
        case "query_suite" => QueryBench.run(spark, cfg, listener, sessionS)
        case w if Shapes.contains(w) => PipelineBench.run(spark, cfg, Shapes(w), listener, sessionS)
        case w => sys.error(s"unknown workload $w")
      } finally progress.close()

    val stamp = Seq(
      "cpus" -> cfg.cpus.toString,
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1e6),
      "spark_version" -> Json.str(spark.version),
      "jdk_version" -> Json.str(System.getProperty("java.version")),
      "seed" -> cfg.seed.toString,
      "workload" -> Json.str(cfg.workload),
      "seconds" -> Json.num(cfg.seconds),
      "trace" -> (if (cfg.trace) "1" else "0")) ++
      (if (cfg.workload == "query_suite" && !cfg.trace)
        Seq("passes" -> QueryBench.passes(cfg.seconds).toString) else Nil)
    val json = Json.obj(Seq(
      "correct" -> outcome.correct.toString,
      "attempted" -> outcome.attempted.toString,
      "failed" -> outcome.failed.toString,
      "metrics" -> Json.obj(outcome.metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
      "stamp" -> Json.obj(stamp),
      "info" -> Json.obj(outcome.info),
      "errors" -> outcome.errors.map(Json.str).mkString("[", ",", "]")))
    Files.write(Paths.get(cfg.result), json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  // ---- shared helpers ------------------------------------------------

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Nearest-rank percentile; 0 for no samples. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** (files, bytes) under a directory. */
  def treeSize(f: File): (Long, Long) =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(treeSize)
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    else if (f.isFile) (1L, f.length())
    else (0L, 0L)
}

/** Highest heap in use after any GC while armed, from GC notifications. */
object HeapMonitor {
  @volatile private var armed = false
  private val peak = new AtomicLong(0L)
  private lazy val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  def install(): Unit = {
    val pools = heapPools
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter =>
        e.addNotificationListener(new NotificationListener {
          override def handleNotification(n: Notification, hb: Any): Unit =
            if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
              val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
                .collect { case (k, v) if pools(k) => v.getUsed }.sum
              peak.accumulateAndGet(used, (a: Long, b: Long) => math.max(a, b))
            }
        }, null, null)
      case _ => ()
    }
  }

  def arm(): Unit = { peak.set(0L); armed = true }

  /** Disarm and return the peak in MB. */
  def disarm(): Double = { armed = false; peak.get / 1e6 }
}
