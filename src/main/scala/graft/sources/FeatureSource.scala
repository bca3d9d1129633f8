package graft.sources

import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch

/** Generic DSv2 wiring shared by all feature formats (SURVEY.md §3.1's
  * Spark lifecycle: inferSchema on the driver → ScanBuilder with pushdown →
  * one InputPartition per file → executor-side PartitionReader running the
  * reference's read loop against the fixed schema).
  *
  * Scale notes: partition granularity is per-file — directories of many
  * files parallelize across executors. Column pruning happens inside the
  * reader (only the read schema's fields are converted), and pushed limits
  * stop the file stream early. Filters are never pushed: Spark evaluates
  * every predicate in its own `Filter` above the scan, as the reference
  * hands all filtering to OGR SQL.
  */
abstract class FeatureSourceProvider extends TableProvider with DataSourceRegister {
  def format: FeatureFormat

  override def supportsExternalMetadata(): Boolean = true

  protected def pathsOf(options: CaseInsensitiveStringMap): Seq[String] = {
    val single = Option(options.get("path")).toSeq
    val multi = Option(options.get("paths")).toSeq.flatMap { js =>
      // "paths" arrives as a JSON array of strings
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(js)
      (0 until node.size).map(node.get(_).asText)
    }
    val all = single ++ multi
    if (all.isEmpty) throw new IllegalArgumentException(s"$shortName source requires a path")
    all
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val opts = GdalOptions(options)
    val files = FeatureFormat.expand(pathsOf(options), format)
    // one file open at a time; files past `inferLimit` are never opened
    var current: TypeIterator = null
    def closeCurrent(): Unit = if (current != null) {
      try current.close() catch { case _: Throwable => () }
      current = null
    }
    try SchemaInference.inferTypes(files.iterator.flatMap { f =>
      closeCurrent()
      current = format.openTypes(f, opts)
      FeatureFormat.window(current, opts)
    }, opts)
    finally closeCurrent()
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = GdalOptions.from(properties.asScala.toMap)
    val files = FeatureFormat.expand(
      pathsOf(new CaseInsensitiveStringMap(properties)), format)
    new FeatureTable(shortName, schema, files, opts, format)
  }
}

/** Base for providers whose tables also support writes. Resolves BOTH the
  * single `path` and the multi-path `paths` read forms (DataFrameReader
  * `.load(a, b, …)` arrives as a `paths` JSON array, not `path`) while
  * tolerating not-yet-existing write targets. Formats only supply their
  * [[FeatureSink]] — the previous per-format copies of this logic had
  * each regressed to `path`-only, silently planning zero files for
  * multi-path loads. */
abstract class WritableFeatureSourceProvider extends FeatureSourceProvider {
  def sink: FeatureSink

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val cis = new CaseInsensitiveStringMap(properties)
    val files = pathsOf(cis).flatMap { p =>
      if (new java.io.File(FeatureFormat.stripScheme(p)).exists())
        FeatureFormat.expand(Seq(p), format)
      else Seq(p) // write target may not exist yet
    }
    new WritableFeatureTable(shortName, schema, files, GdalOptions(cis), format, sink)
  }
}

class FeatureTable(
    source: String,
    tableSchema: StructType,
    files: Seq[String],
    opts: GdalOptions,
    format: FeatureFormat) extends Table with SupportsRead {

  override def name(): String = s"$source(${files.mkString(",")})"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new FeatureScanBuilder(tableSchema, files, GdalOptions(options), format)
}

class FeatureScanBuilder(
    fullSchema: StructType,
    files: Seq[String],
    opts: GdalOptions,
    format: FeatureFormat)
  extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownLimit {

  private var readSchema: StructType = fullSchema
  private var limit: Option[Int] = None

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // keep full-schema field order for determinism
    val names = requiredSchema.fieldNames.toSet
    readSchema = StructType(fullSchema.fields.filter(f => names.contains(f.name)))
  }

  override def pushLimit(l: Int): Boolean = { limit = Some(l); false /* keep plan limit too */ }

  override def build(): Scan = new FeatureScan(readSchema, files, opts, format, limit)
}

case class FeaturePartition(split: SplitSpec, index: Int) extends InputPartition

class FeatureScan(
    schema: StructType,
    files: Seq[String],
    opts: GdalOptions,
    format: FeatureFormat,
    limit: Option[Int]) extends Scan with Batch {

  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft ${format.getClass.getSimpleName} files=${files.size} limit=$limit" +
      opts.bbox.fold("")(b => s" bbox=[${b.minX},${b.minY},${b.maxX},${b.maxY}]")

  override def planInputPartitions(): Array[InputPartition] = {
    // Record-range splitting only applies when the scan-window options are
    // unset: offset/limit/maxFeatures are per-resource semantics
    // (reference src/lib.rs:360-375) and must see the whole stream.
    val windowed = opts.offset > 0 || opts.limit.isDefined || opts.maxFeatures.isDefined
    val splits =
      if (windowed) files.map(SplitSpec(_, 0L, -1L))
      else files.flatMap(f => format.planSplits(f, opts))
    splits.zipWithIndex.map { case (sp, i) => FeaturePartition(sp, i) }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new FeatureReaderFactory(schema, opts, format, limit)

  override def columnarSupportMode(): Scan.ColumnarSupportMode = Scan.ColumnarSupportMode.SUPPORTED
}

/** Every scan is columnar: [[ColumnarFeatureReader]] runs the format's
  * cursor into a [[ColumnSink]], whatever the format. */
class FeatureReaderFactory(
    schema: StructType,
    opts: GdalOptions,
    format: FeatureFormat,
    limit: Option[Int]) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("feature scans are columnar only")

  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] = {
    val split = partition.asInstanceOf[FeaturePartition].split
    new ColumnarFeatureReader(split, schema, opts, format, limit)
  }
}
