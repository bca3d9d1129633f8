package graft.sources

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter, Writer}
import java.nio.charset.StandardCharsets
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, TableCapability}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{BinaryType, DataType, StringType, StructType}
import org.locationtech.jts.geom.Geometry

import graft.geom.GeomCodec

/** What a file format adds to the shared write ([[FeatureWrite]]): the
  * files one part consists of, any check of its own, and a writer of one
  * part. Shipped to executors inside the task factory. */
trait FeatureSink extends Serializable {
  /** The extensions of one part's files, main file first. A part with
    * more than one (shapefile sidecars) is zipped by the bytes API. */
  def extensions: Seq[String]

  /** A driver-side check beyond the geometry-column checks, run before
    * any task. */
  def check(schema: StructType, geometryIndex: Int, opts: GdalOptions): Unit = ()

  /** A writer that fills `part.files`. */
  def writer(part: Part, schema: StructType, geometry: GeometryColumn,
      opts: GdalOptions): PartWriter
}

/** One part of a write as its sink sees it: the part's name
  * (`<stem>-NNNNN`), its partition id, and the attempt files to fill, one
  * per [[FeatureSink.extensions]] entry. A file the writer leaves absent
  * (an optional sidecar) is not published. */
final case class Part(name: String, id: Int, files: IndexedSeq[File])

/** The format-specific body of one write task. */
trait PartWriter {
  def write(row: InternalRow): Unit
  /** Completes the part's files. */
  def finish(): Unit
  /** Features written: a job whose parts wrote none raises EmptyDataframe. */
  def rows: Long
  /** Releases the files of a part that will not be finished. */
  def close(): Unit = ()
}

/** A part written as one UTF-8 text file: `header`, the rows, `footer`. */
abstract class TextPart(file: File, header: String, footer: String) extends PartWriter {
  protected val out: Writer = new BufferedWriter(
    new OutputStreamWriter(new FileOutputStream(file), StandardCharsets.UTF_8))
  protected var n = 0L
  out.write(header)

  override def rows: Long = n
  override def finish(): Unit = { out.write(footer); out.close() }
  override def close(): Unit = out.close()
}

/** The geometry column of a written frame (reference src/lib.rs:523-525,
  * 713-733): Binary holds WKB; String holds GeoJSON under
  * `geometryFormat=geojson` and WKT otherwise. The decoder is picked once,
  * not per row. */
final class GeometryColumn(val index: Int, dataType: DataType, geometryFormat: String) {
  private val decode: InternalRow => Geometry = dataType match {
    case BinaryType => r => GeomCodec.fromWkb(r.getBinary(index))
    case _ if geometryFormat == "geojson" =>
      r => GeomCodec.fromGeoJson(r.getUTF8String(index).toString)
    case _ => r => GeomCodec.fromWkt(r.getUTF8String(index).toString)
  }

  /** The row's geometry; null when the cell is null. */
  def read(row: InternalRow): Geometry = if (row.isNullAt(index)) null else decode(row)
}

object GeometryColumn {
  /** Locates and type-checks the geometry column. */
  def index(schema: StructType, opts: GdalOptions): Int = {
    val i = schema.fieldNames.indexOf(opts.geometryColumnName)
    if (i < 0) throw new GraftError.CannotFindGeometryColumn(opts.geometryColumnName)
    schema.fields(i).dataType match {
      case BinaryType | StringType => i
      case _ => throw new GraftError.GeometryColumnWrongType(opts.geometryColumnName)
    }
  }

  def apply(schema: StructType, opts: GdalOptions): GeometryColumn = {
    val i = index(schema, opts)
    new GeometryColumn(i, schema.fields(i).dataType, opts.geometryFormat)
  }
}

/** The table of a writable format: reads as [[FeatureTable]], writes
  * through [[FeatureWrite]] with the format's sink. */
class WritableFeatureTable(source: String, schema: StructType, files: Seq[String],
    opts: GdalOptions, format: FeatureFormat, sink: FeatureSink)
  extends FeatureTable(source, schema, files, opts, format) with SupportsWrite {

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new FeatureWrite(source, sink, info)
}

/** The one DSv2 file write (reference `gdal_layer_from_df`,
  * src/lib.rs:499-642; only the sink differs between formats). Each
  * partition writes one part, `<stem>-NNNNN` plus the sink's extensions.
  *
  * On the driver, before any task: the geometry-column checks and the
  * sink's own, then the target directory; overwrite clears attempt
  * debris, and [[LayerWrite.stem]] names the parts. Each task stages its
  * part in [[AttemptFile]]s and promotes them on task commit. Job commit
  * verifies every promoted file and raises EmptyDataframe
  * (src/lib.rs:509-511) when no part wrote a feature.
  *
  * An overwrite promotes its parts under job-scoped hidden names
  * ([[AttemptFile.staged]]); only a job commit that succeeds deletes the
  * format's earlier files and renames the staged parts into place, and
  * abort removes them. A failed overwrite (an empty frame, a task error)
  * leaves the earlier dataset as it was. */
class FeatureWrite(source: String, sink: FeatureSink, info: LogicalWriteInfo)
  extends WriteBuilder with SupportsTruncate with Write with BatchWrite {

  private var overwrite = false
  private var dir: File = _
  private val job = java.util.UUID.randomUUID().toString.take(8)
  override def truncate(): WriteBuilder = { overwrite = true; this }
  override def build(): Write = this
  override def toBatch: BatchWrite = this

  override def createBatchWriterFactory(physical: PhysicalWriteInfo): DataWriterFactory = {
    val path = Option(info.options.get("path"))
      .getOrElse(throw new IllegalArgumentException(s"$source write requires a path"))
    val schema = info.schema()
    val opts = GdalOptions(info.options)
    sink.check(schema, GeometryColumn.index(schema, opts), opts)
    dir = new File(path)
    if (!dir.exists()) dir.mkdirs()
    if (overwrite) AttemptFile.cleanDebris(dir)
    new FeatureWrite.Tasks(dir, LayerWrite.stem(dir, opts, overwrite),
      if (overwrite) Some(job) else None, schema, opts, sink)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    AttemptFile.verifyCommitted(messages)
    if (messages.map { case FeatureWrite.Written(n, _) => n }.sum == 0L)
      throw new GraftError.EmptyDataframe
    if (overwrite) {
      dir.listFiles().filter(f => sink.extensions.exists(f.getName.endsWith)).foreach(_.delete())
      AttemptFile.publishStaged(dir, job)
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    if (overwrite && dir != null) AttemptFile.dropStaged(dir, job)
}

object FeatureWrite {
  final case class Written(rows: Long, committedPaths: Seq[String])
    extends WriterCommitMessage with CommittedFiles

  /** `staged`: the job tag an overwrite promotes its parts under. */
  class Tasks(dir: File, stem: String, staged: Option[String], schema: StructType,
      opts: GdalOptions, sink: FeatureSink) extends DataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
      new Task(dir, f"$stem%s-$partitionId%05d", partitionId, taskId, staged, schema, opts, sink)
  }

  class Task(dir: File, name: String, partitionId: Int, taskId: Long, staged: Option[String],
      schema: StructType, opts: GdalOptions, sink: FeatureSink) extends DataWriter[InternalRow] {
    private val finals = sink.extensions.map { e =>
      val f = new File(dir, name + e)
      staged.fold(f)(AttemptFile.staged(f, _))
    }.toIndexedSeq
    private val temps = finals.map(AttemptFile.temp(_, taskId))
    private val part = sink.writer(Part(name, partitionId, temps), schema,
      GeometryColumn(schema, opts), opts)

    override def write(row: InternalRow): Unit = part.write(row)
    override def commit(): WriterCommitMessage = {
      part.finish()
      val promoted = finals.zip(temps).collect { case (f, t) if t.exists() =>
        AttemptFile.promote(t, f)
        f.getAbsolutePath
      }
      Written(part.rows, promoted)
    }
    override def abort(): Unit = { part.close(); temps.foreach(_.delete()) }
    override def close(): Unit = ()
  }
}

/** Carried by every task-commit message: the final file(s) the task
  * promoted. Job commit re-verifies their existence via
  * [[AttemptFile.verifyCommitted]], closing the narrow delete-then-retry
  * window in [[AttemptFile.promote]]: a zombie attempt killed between its
  * fallback `delete(final)` and `rename` removes the winner's file, and
  * without this check the job would report success over a dataset missing
  * a whole partition. */
trait CommittedFiles { def committedPaths: Seq[String] }

/** Task-attempt file isolation: each attempt streams into its own hidden
  * `.<final>.t<taskId>.inprogress` sibling (an extension no format's
  * discovery matches), promoted to the final name only on task commit —
  * a speculative duplicate or failed/retried attempt can neither
  * interleave bytes with the winner nor leave a truncated file a later
  * read would parse. */
object AttemptFile {
  def temp(finalFile: File, taskId: Long): File =
    new File(finalFile.getParentFile, s".${finalFile.getName}.t$taskId.inprogress")

  /** Job-commit existence check over the paths the task commits reported.
    * Runs on the driver after ALL tasks finished — any file a committed
    * task promoted that is no longer present means a task-commit race
    * (or external deletion) lost data, and the job must fail loudly
    * rather than publish a partial dataset. */
  def verifyCommitted(messages: Array[WriterCommitMessage]): Unit = {
    val missing = messages.toSeq
      .collect { case c: CommittedFiles => c.committedPaths }
      .flatten.distinct
      .filterNot(p => new File(p).exists())
    if (missing.nonEmpty)
      throw new java.io.IOException(
        "job commit: task-committed file(s) missing: " + missing.sorted.mkString(", ") +
        " (task-commit race or external deletion); failing the job instead of " +
        "publishing a dataset with lost partitions")
  }

  /** Last committer wins; a failed rename aborts the task loudly.
    * Rename FIRST (POSIX renameTo overwrites the destination atomically,
    * so the common path never opens a window where the final file is
    * absent); only on a failed rename (non-POSIX semantics) fall back to
    * delete-then-retry — a zombie attempt killed inside that narrow
    * fallback is detectable because its own rename never lands. */
  def promote(tmp: File, finalFile: File): Unit = {
    if (!tmp.renameTo(finalFile)) {
      if (finalFile.exists()) finalFile.delete()
      if (!tmp.renameTo(finalFile))
        throw new java.io.IOException(
          s"task commit rename failed: $tmp -> $finalFile")
    }
  }

  private val StagedSuffix = ".staged"

  /** Overwrite-mode cleanup of debris from crashed prior jobs (only on
    * truncate — a concurrent append job's in-flight attempts must not be
    * swept). */
  def cleanDebris(dir: File): Unit =
    Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.getName.endsWith(".inprogress") || f.getName.endsWith(StagedSuffix))
      .foreach(_.delete())

  /** Where overwrite job `job` promotes `finalFile`: a hidden sibling no
    * format's discovery matches, until [[publishStaged]]. */
  def staged(finalFile: File, job: String): File =
    new File(finalFile.getParentFile, s".${finalFile.getName}.$job$StagedSuffix")

  private def stagedBy(dir: File, job: String): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.filter(_.getName.endsWith(s".$job$StagedSuffix"))

  /** Job commit of an overwrite: each staged part takes its final name. */
  def publishStaged(dir: File, job: String): Unit =
    stagedBy(dir, job).foreach { f =>
      promote(f, new File(dir, f.getName.drop(1).stripSuffix(s".$job$StagedSuffix")))
    }

  /** Abort of an overwrite: its staged parts go, the earlier files stay. */
  def dropStaged(dir: File, job: String): Unit = stagedBy(dir, job).foreach(_.delete())
}

/** Append-a-layer support (reference `gdal_layer_from_df` adds a named
  * layer to an existing dataset, src/lib.rs:499). Overwrite keeps the
  * classic `part-NNNNN` names; append writes `${layerName}-NNNNN` files
  * next to the existing ones and refuses to clobber a layer that is
  * already present. */
object LayerWrite {
  def stem(dir: File, opts: GdalOptions, truncate: Boolean): String =
    if (truncate) "part"
    else {
      val s = opts.layerName.getOrElse("layer")
      val taken = Option(dir.listFiles()).toSeq.flatten.exists { f =>
        val n = f.getName
        n.startsWith(s + "-") || n.startsWith(s + ".")
      }
      if (taken) throw new IllegalArgumentException(
        s"layer '$s' already exists in $dir — pass a fresh layerName to add another layer")
      s
    }
}
