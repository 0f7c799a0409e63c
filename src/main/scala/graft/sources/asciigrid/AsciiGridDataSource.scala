package graft.sources.asciigrid

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.raster.AsciiGrid

/** DataSource V2 for ESRI ASCII grid trees (SURVEY §4.3's "optional
  * polish" slot): `.asc` files read as a TABLE —
  *
  * {{{
  * spark.read.format("asciigrid").load(dir)
  *   // path, region, ncols, nrows, xllcorner, yllcorner, cellsize,
  *   // nodata, text, values
  * }}}
  *
  * instead of binaryFile + a parse UDF in every query. One grid = one
  * row (a 500 m NZ-wide grid of 2,000 × 2,900 cells is about 34 MB of
  * text — under row limits; per-FILE parallelism is the natural
  * partitioning, so each file is one InputPartition and 1000 executors
  * ingest 1000 grids at once).
  *
  * The scan participates in four Catalyst pushdowns — the difference
  * between "metadata query touches headers" and "metadata query scans
  * the raster fleet" at 100 TB:
  *
  *   - column pruning (`SupportsPushDownRequiredColumns`): projections
  *     that omit `values`/`text` never tokenize the cell block, AND
  *     header-only reads fetch just the first 4 KiB of each file
  *     instead of the whole grid;
  *   - path-filter pushdown (`SupportsPushDownFilters`): equality /
  *     prefix / suffix / contains predicates on `path` prune files at
  *     LISTING time — non-matching grids never become partitions. The
  *     `path` column is byte-identical to the listed path, so these
  *     filters are exact and fully consumed (no post-scan re-check);
  *   - aggregate pushdown (`SupportsPushDownAggregates`): ungrouped
  *     MIN/MAX over header fields read only headers, and a bare
  *     COUNT(*) is answered from the listing WITHOUT opening any file
  *     (complete pushdown, single partition);
  *   - dynamic partition pruning (`SupportsRuntimeV2Filtering`): a
  *     selective join on `region` ships the surviving region values
  *     into the scan AT RUN TIME as an IN predicate — pruned grids
  *     never become partitions (gated end-to-end as
  *     q_runtime_prune_source, counter-pinned in RuntimePruneSpec).
  *
  * `path` and `region` (the parent-directory name, the layout's
  * partition key) are both listing-derived: projections touching only
  * them never open a file. When every required column is listing-
  * derived and `spark.sql.sources.v2.bucketing.enabled` is set, the
  * scan also reports `KeyGroupedPartitioning(region)` (+ a per-
  * partition `HasPartitionKey` and the partition-key sort order), so
  * co-partitioned scans of the same tree join exchange- and sort-free
  * (storage-partitioned join).
  *
  * The reader goes through the Hadoop FileSystem API, so the same
  * source reads file://, hdfs://, or s3a:// trees.
  */
class AsciiGridDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "asciigrid"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    AsciiGridTable.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new AsciiGridTable(AsciiGridTable.paths(properties))

  override def supportsExternalMetadata(): Boolean = false
}

object AsciiGridTable {

  val Schema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("ncols", IntegerType, nullable = false),
    StructField("nrows", IntegerType, nullable = false),
    StructField("xllcorner", DoubleType, nullable = false),
    StructField("yllcorner", DoubleType, nullable = false),
    StructField("cellsize", DoubleType, nullable = false),
    StructField("nodata", DoubleType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("values", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("region", StringType, nullable = false)))

  /** Header fields recoverable from the first 4 KiB (everything except
    * the cell block and the full text). `region` needs no read at all —
    * it is the file's parent directory name (the reference's
    * region-code-directory convention, ETL.py:234).
    */
  val HeaderCols: Set[String] =
    Set("path", "ncols", "nrows", "xllcorner", "yllcorner", "cellsize", "nodata",
      "region")

  /** The table's reported partition column value for a file. */
  def regionOf(path: String): String = new Path(path).getParent.getName

  /** `load(p1, p2…)` arrives as "paths" (JSON list) or "path". Decoded
    * with Jackson (already on Spark's classpath) — a naive split(",")
    * would mangle paths containing commas or JSON escapes.
    */
  def paths(properties: util.Map[String, String]): Seq[String] = {
    val m = properties.asScala
    m.get("paths") match {
      case Some(json) =>
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        mapper.readValue(json, classOf[Array[String]]).toSeq
      case None => m.get("path").toSeq
    }
  }
}

final class AsciiGridTable(roots: Seq[String]) extends Table with SupportsRead {
  override def name(): String = s"asciigrid(${roots.mkString(",")})"
  override def schema(): StructType = AsciiGridTable.Schema
  // the on-disk layout IS partitioned by region directory — reporting it
  // lets two co-partitioned asciigrid scans storage-partition-join
  override def partitioning(): Array[Transform] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.identity("region"))
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new AsciiGridScanBuilder(roots)
}

/** One pushed aggregate, in serializable form: ("count", "") or
  * ("min"/"max", headerColumn).
  */
final case class PushedAgg(op: String, col: String)

final class AsciiGridScanBuilder(roots: Seq[String])
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownAggregates {

  private var required: StructType = AsciiGridTable.Schema
  private var pathFilters: Array[sources.Filter] = Array.empty
  private var aggs: Seq[PushedAgg] = Nil

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** A filter is consumable iff it constrains only `path` with exact
    * string predicates — those are evaluated against the identical
    * string at listing time, so they are claimed (removed from the
    * post-scan filters), which is also what lets Spark push aggregates
    * on top of them.
    */
  private def isPathFilter(f: sources.Filter): Boolean = f match {
    case sources.EqualTo("path", v)          => v.isInstanceOf[String]
    case sources.StringStartsWith("path", _) => true
    case sources.StringEndsWith("path", _)   => true
    case sources.StringContains("path", _)   => true
    case sources.IsNotNull("path")           => true
    case sources.And(l, r)                   => isPathFilter(l) && isPathFilter(r)
    case sources.Or(l, r)                    => isPathFilter(l) && isPathFilter(r)
    case _                                   => false
  }

  override def pushFilters(filters: Array[sources.Filter]): Array[sources.Filter] = {
    val (path, rest) = filters.partition(isPathFilter)
    pathFilters = path
    rest
  }

  override def pushedFilters(): Array[sources.Filter] = pathFilters

  private def colName(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case nr: NamedReference if nr.fieldNames.length == 1 => Some(nr.fieldNames.head)
      case _ => None
    }

  private def headerAggCol(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    colName(e).filter(c =>
      AsciiGridTable.HeaderCols.contains(c) && c != "path" && c != "region")

  override def pushAggregation(aggregation: Aggregation): Boolean = {
    if (aggregation.groupByExpressions().nonEmpty) return false
    val converted = aggregation.aggregateExpressions().toSeq.map {
      case _: CountStar => PushedAgg("count", "")
      case m: Min => headerAggCol(m.column()).map(PushedAgg("min", _)).orNull
      case m: Max => headerAggCol(m.column()).map(PushedAgg("max", _)).orNull
      case _ => null
    }
    if (converted.contains(null)) return false
    aggs = converted
    true
  }

  /** A bare COUNT(*) (possibly under path filters) is answered entirely
    * from the driver-side listing — one partition, one final row, no
    * file opened.
    */
  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    aggregation.groupByExpressions().isEmpty &&
      aggregation.aggregateExpressions().forall(_.isInstanceOf[CountStar])

  override def build(): Scan = new AsciiGridScan(roots, required, pathFilters, aggs)
}

/** Evaluates the claimed path filters against a listed path string. */
object PathFilterEval {
  def eval(f: sources.Filter, path: String): Boolean = f match {
    case sources.EqualTo("path", v: String)          => path == v
    case sources.StringStartsWith("path", p)         => path.startsWith(p)
    case sources.StringEndsWith("path", s)           => path.endsWith(s)
    case sources.StringContains("path", s)           => path.contains(s)
    case sources.IsNotNull("path")                   => true
    case sources.And(l, r)                           => eval(l, path) && eval(r, path)
    case sources.Or(l, r)                            => eval(l, path) || eval(r, path)
    case _                                           => true
  }
}

/** Test-visible counter: how many file partitions the last
  * runtime-filtered asciigrid scan actually planned — the observable
  * proof that dynamic partition pruning reached the listing, since the
  * pruned files leave no other trace (they are simply never read).
  */
object AsciiGridScanStats {
  @volatile var lastRuntimePlanned: Int = -1
}

/** Evaluates runtime (DPP) V2 predicates against a region value.
  * Conservative by construction: any unrecognized shape keeps the file
  * — runtime filtering is an optimization, the join above re-applies
  * the real predicate.
  */
object RegionPredicateEval {
  import org.apache.spark.sql.connector.expressions.{Literal => V2Literal}
  import org.apache.spark.sql.connector.expressions.filter.{Predicate => V2Predicate}

  private def litString(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case l: V2Literal[_] => Option(l.value).map(_.toString)
      case _ => None
    }

  private def isRegionRef(e: org.apache.spark.sql.connector.expressions.Expression): Boolean =
    e match {
      case nr: NamedReference => nr.fieldNames.sameElements(Array("region"))
      case _ => false
    }

  def eval(p: V2Predicate, region: String): Boolean = p.name() match {
    case "IN" if p.children().nonEmpty && isRegionRef(p.children()(0)) =>
      p.children().drop(1).exists(c => litString(c).forall(_ == region))
    case "=" if p.children().length == 2 && isRegionRef(p.children()(0)) =>
      litString(p.children()(1)).forall(_ == region)
    case "AND" => p.children().forall {
      case c: V2Predicate => eval(c, region)
      case _ => true
    }
    case _ => true
  }
}

final class AsciiGridScan(roots: Seq[String], required: StructType,
    pathFilters: Array[sources.Filter], aggs: Seq[PushedAgg])
    extends Scan with Batch with SupportsReportPartitioning
    with SupportsReportOrdering with SupportsRuntimeV2Filtering {

  // set by filter() at execution time, before planInputPartitions —
  // BatchScanExec re-plans partitions after delivering runtime filters
  @volatile private var runtimeKept: Option[Seq[FileStatus]] = None

  /** `region` is listing-derived, so a join on it can prune FILES at
    * runtime (the DSv2 dynamic-partition-pruning contract): Spark
    * evaluates the build side, sends the surviving region values as an
    * IN predicate, and pruned grids never become partitions — never
    * opened, never fetched. The complement of the STATIC path-filter
    * pushdown above, for predicates only known at run time. Guarded on
    * `region` surviving pruning (same contract as outputOrdering):
    * PartitionPruning RESOLVES the reported attributes against the
    * scan output, so advertising a pruned-away column is an analysis
    * error for any join over this scan, not a skipped optimization.
    */
  override def filterAttributes(): Array[NamedReference] =
    if (!required.fieldNames.contains("region")) Array.empty
    else Array(org.apache.spark.sql.connector.expressions.Expressions.column("region"))

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    runtimeKept = Some(listed.filter { st =>
      val region = AsciiGridTable.regionOf(st.getPath.toString)
      predicates.forall(RegionPredicateEval.eval(_, region))
    })
  }

  private def baseType(c: String): DataType =
    AsciiGridTable.Schema(AsciiGridTable.Schema.fieldIndex(c)).dataType

  override def readSchema(): StructType =
    if (aggs.isEmpty) required
    else StructType(aggs.map {
      case PushedAgg("count", _) => StructField("count(*)", LongType, nullable = false)
      case PushedAgg(op, c)      => StructField(s"$op($c)", baseType(c), nullable = false)
    })

  override def toBatch: Batch = this

  override def description(): String = {
    val f = if (pathFilters.isEmpty) ""
      else s", PushedFilters: [${pathFilters.mkString(", ")}]"
    val a = if (aggs.isEmpty) ""
      else s", PushedAggregates: [${aggs.map(p => s"${p.op.toUpperCase}(${if (p.col.isEmpty) "*" else p.col})").mkString(", ")}]"
    s"asciigrid scan, ReadSchema: ${readSchema().simpleString}$f$a"
  }

  /** Recursive listing of `*.asc` under each root — suffix filtering
    * AND the pushed path predicates happen in the LISTING (the
    * driver-side analog of SRC-1's glob pushdown), so non-matching
    * files never become partitions.
    */
  /** One listing per scan, shared by partition planning and the
    * reported partitioning (outputPartitioning needs the distinct
    * region count before partitions are planned).
    */
  private lazy val listed: Seq[FileStatus] = {
    // the SESSION's Hadoop conf (spark.hadoop.* — s3a credentials,
    // endpoints), not a bare classpath-only Configuration
    val conf = org.apache.spark.sql.SparkSession.active
      .sessionState.newHadoopConf()
    val files = roots.flatMap { root =>
      val p = new Path(root)
      val fs = p.getFileSystem(conf)
      val it = fs.listFiles(p, true)
      val out = Seq.newBuilder[FileStatus]
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile && st.getPath.getName.endsWith(".asc") &&
            pathFilters.forall(PathFilterEval.eval(_, st.getPath.toString)))
          out += st
      }
      out.result()
    }
    files.sortBy(_.getPath.toString)
  }

  override def planInputPartitions(): Array[InputPartition] = {
    if (aggs.nonEmpty && aggs.forall(_.op == "count"))
      // complete pushdown: the listing IS the answer — but answer from
      // the runtime-filtered listing if a join delivered one (today the
      // two paths never co-occur; this keeps a future co-occurrence
      // from silently counting pruned files)
      Array(AsciiGridCountPartition(runtimeKept.getOrElse(listed).length))
    else {
      val files = runtimeKept.getOrElse(listed)
      if (runtimeKept.isDefined)
        AsciiGridScanStats.lastRuntimePlanned = files.length
      files.map(st => AsciiGridInputPartition(st.getPath.toString, st.getLen,
        AsciiGridTable.regionOf(st.getPath.toString)): InputPartition).toArray
    }
  }

  /** The region-directory layout reported as KeyGroupedPartitioning:
    * with `spark.sql.sources.v2.bucketing.enabled` two asciigrid scans
    * joined on `region` are storage-partitioned — Spark groups the
    * per-file splits by their HasPartitionKey value and plans the join
    * with NO exchange on either side (the V2 analog of the bucketed-
    * table join; with the conf off the report is ignored and per-file
    * parallelism is unchanged). The conf is a deliberate per-session
    * trade, same as for any KGP-reporting source (Iceberg et al.):
    * while it is ON, EVERY asciigrid scan is grouped one-task-per-
    * region — right when joins dominate, wrong for a pure many-file
    * ingest, so enable it for SPJ workloads (or per query, as
    * q_spj_source scopes it), not globally alongside ingest jobs.
    * Aggregate-pushdown scans emit synthetic rows with no partition
    * key, so they report unknown.
    */
  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning =
    if (aggs.nonEmpty)
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    else
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        Array(org.apache.spark.sql.connector.expressions.Expressions.identity("region")),
        listed.map(st => AsciiGridTable.regionOf(st.getPath.toString)).distinct.length)

  /** Every split holds exactly one region (one file, or one grouped
    * region under SPJ), so rows within a partition are trivially
    * region-sorted — reported so the storage-partitioned SMJ elides
    * its per-side sorts as well as its exchanges. Guarded on `region`
    * surviving pruning: Catalyst resolves the reported ordering against
    * the scan output and an unresolvable reference is an analysis
    * error, not a silent skip. Aggregate-pushdown scans emit synthetic
    * rows → no ordering.
    */
  override def outputOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    if (aggs.nonEmpty || !required.fieldNames.contains("region"))
      Array.empty
    else Array(org.apache.spark.sql.connector.expressions.Expressions.sort(
      org.apache.spark.sql.connector.expressions.Expressions.identity("region"),
      org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))

  override def createReaderFactory(): PartitionReaderFactory =
    // executors rebuild the filesystem from the driver's fs.* entries
    // (same shipping pattern as the sinks)
    new AsciiGridReaderFactory(required, aggs,
      graft.sinks.S3Sink.fsConfEntries(org.apache.spark.sql.SparkSession.active))
}

final case class AsciiGridInputPartition(path: String, length: Long,
    region: String) extends InputPartition with HasPartitionKey {
  // built once: Spark calls partitionKey() repeatedly while grouping
  // and checking SPJ compatibility (recomputed after deserialization)
  @transient private lazy val key: InternalRow =
    new GenericInternalRow(Array[Any](UTF8String.fromString(region)))
  override def partitionKey(): InternalRow = key
}

/** Complete COUNT(*) pushdown: the single partition carries the file
  * count computed from the listing.
  */
final case class AsciiGridCountPartition(n: Long) extends InputPartition

final class AsciiGridReaderFactory(required: StructType, aggs: Seq[PushedAgg],
    fsConf: Map[String, String]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case c: AsciiGridCountPartition => new SingleRowReader(
        new GenericInternalRow(aggs.map(_ => c.n: Any).toArray))
      case p: AsciiGridInputPartition =>
        new AsciiGridPartitionReader(p, required, aggs, fsConf)
    }
}

final class SingleRowReader(row: InternalRow) extends PartitionReader[InternalRow] {
  private var done = false
  override def next(): Boolean = { val r = !done; done = true; r }
  override def get(): InternalRow = row
  override def close(): Unit = ()
}

/** Reads ONE grid file into ONE InternalRow, materializing only the
  * requested columns: header-only projections read a 4 KiB prefix and
  * never tokenize the cell block; the raw `text` is retained only if
  * asked for. With pushed header aggregates the emitted row is the
  * per-file partial (one row per file — Spark's final aggregate merges
  * them).
  */
final class AsciiGridPartitionReader(part: AsciiGridInputPartition,
    required: StructType, aggs: Seq[PushedAgg], fsConf: Map[String, String])
    extends PartitionReader[InternalRow] {

  private var done = false
  private var row: InternalRow = _

  private def needs(c: String): Boolean = required.fieldNames.contains(c)

  /** Header-only access: the 6 header lines always fit well inside the
    * first 4 KiB; parseHeader stops at the first non-header line, so a
    * truncated trailing cell line can never be misread as a header.
    */
  private val HeaderPrefixBytes = 4096

  override def next(): Boolean = {
    if (done) return false
    done = true
    require(part.length <= Int.MaxValue - 8,
      s"asciigrid: ${part.path} is ${part.length} bytes - single-row text " +
        "grids over 2 GB are not supported (split the grid)")
    // path/region come from the LISTING — a projection needing nothing
    // else must not open the file at all (at 100 TB on s3a that is one
    // remote GET per file for zero needed bytes)
    if (aggs.isEmpty &&
        required.fieldNames.forall(c => c == "path" || c == "region")) {
      val vals = required.fieldNames.map {
        case "path"   => UTF8String.fromString(part.path): Any
        case "region" => UTF8String.fromString(part.region): Any
      }
      row = new GenericInternalRow(vals.toArray)
      return true
    }
    val headerOnly = aggs.nonEmpty ||
      required.fieldNames.forall(AsciiGridTable.HeaderCols.contains)
    val toRead = if (headerOnly) math.min(part.length, HeaderPrefixBytes.toLong).toInt
      else part.length.toInt
    val p = new Path(part.path)
    val fs = graft.sinks.S3Sink.fileSystemFor(part.path, fsConf)
    val in = fs.open(p)
    val text =
      try {
        val bytes = new Array[Byte](toRead)
        in.readFully(0, bytes)
        new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
      } finally in.close()

    val header = AsciiGrid.parseHeader(text)

    def headerValue(c: String): Any = c match {
      case "ncols"     => header.ncols
      case "nrows"     => header.nrows
      case "xllcorner" => header.xllcorner
      case "yllcorner" => header.yllcorner
      case "cellsize"  => header.cellsize
      case "nodata"    => header.nodata
    }

    row =
      if (aggs.nonEmpty)
        // one row per file: MIN/MAX over a single row is the value
        // itself, COUNT(*) is 1; the final (Spark-side) agg merges
        new GenericInternalRow(aggs.map {
          case PushedAgg("count", _) => 1L: Any
          case PushedAgg(_, c)       => headerValue(c)
        }.toArray)
      else {
        val wantsCells = needs("values")
        val vals = new Array[Any](required.length)
        required.fieldNames.zipWithIndex.foreach { case (name, i) =>
          vals(i) = name match {
            case "path"   => UTF8String.fromString(part.path)
            case "region" => UTF8String.fromString(part.region)
            case "text"   => UTF8String.fromString(text)
            case "values" if wantsCells =>
              ArrayData.toArrayData(AsciiGrid.parse(text).values)
            case c if AsciiGridTable.HeaderCols.contains(c) => headerValue(c)
            case _ => null
          }
        }
        new GenericInternalRow(vals)
      }
    true
  }

  override def get(): InternalRow = row
  override def close(): Unit = ()
}
