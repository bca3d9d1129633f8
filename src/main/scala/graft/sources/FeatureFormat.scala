package graft.sources

/** Iterator with an explicit resource hook (underlying file stream). */
trait FeatureIterator extends Iterator[RawFeature] with AutoCloseable

object FeatureIterator {
  def apply(it: Iterator[RawFeature], closer: () => Unit = () => ()): FeatureIterator =
    new FeatureIterator {
      override def hasNext: Boolean = it.hasNext
      override def next(): RawFeature = it.next()
      override def close(): Unit = closer()
    }
}

/** Each feature's property (name, type) pairs, in document order — the
  * schema-inference view of a file — with the same resource hook as
  * [[FeatureIterator]]. */
trait TypeIterator extends Iterator[SchemaInference.FeatureTypes] with AutoCloseable

object TypeIterator {
  def apply(it: Iterator[SchemaInference.FeatureTypes], closer: () => Unit = () => ()): TypeIterator =
    new TypeIterator {
      override def hasNext: Boolean = it.hasNext
      override def next(): SchemaInference.FeatureTypes = it.next()
      override def close(): Unit = closer()
    }
}

/** A contiguous record range of one file — the input-partition unit.
  * `startRecord = 0 && numRecords = -1` means the whole file. Formats
  * that split by byte position (single-file GeoJSON) also carry the
  * record range's byte span; -1 means "not byte-addressed". */
case class SplitSpec(path: String, startRecord: Long, numRecords: Long,
    byteStart: Long = -1L, byteEnd: Long = -1L) extends Serializable

/** A vector format parser — the pluggable core mirroring the reference's
  * per-driver read loop seam (`df_from_layer`, reference src/lib.rs:332-485).
  * Implementations must be Serializable (shipped to executors inside the
  * reader factory).
  *
  * The per-row work downstream of a reader is linear in row width when the
  * reader keeps each file's props in a stable order under the same name
  * instances (see [[RawFeature]]); [[open]] and [[openTypes]] should build
  * each row's props straight into an array, with no per-row collections
  * or parse trees beyond what the values need.
  */
trait FeatureFormat extends Serializable {
  /** File extensions this format claims (for directory expansion). */
  def extensions: Seq[String]
  /** Open one file and stream its features in document order. */
  def open(path: String, opts: GdalOptions): FeatureIterator

  /** The property types of the features [[open]] yields, in the same
    * order: what schema inference reads on a schemaless load. A format
    * whose `open` applies `opts.bbox` must apply it here too. The default
    * types the values `open` decodes; a format that can tell types without
    * decoding values or geometry overrides it. */
  def openTypes(path: String, opts: GdalOptions): TypeIterator = {
    val it = open(path, opts)
    TypeIterator(it.map(SchemaInference.typesOf), () => it.close())
  }

  /** Plan record-range splits for one file. Default: the whole file as a
    * single partition. Formats with an index (shapefile .shx) override to
    * split large files across executors. */
  def planSplits(path: String, opts: GdalOptions): Seq[SplitSpec] =
    Seq(SplitSpec(path, 0L, -1L))

  /** Open one split. Default implementations only receive whole files. */
  def openSplit(spec: SplitSpec, opts: GdalOptions): FeatureIterator =
    if (spec.startRecord == 0L && spec.numRecords == -1L) open(spec.path, opts)
    else throw new UnsupportedOperationException(s"$this cannot open ranged split $spec")

  /** True when the format fully enforces `opts.bbox` itself (native index
    * or in-parser envelope test on every path). The generic reader then
    * skips its per-row WKB-decode re-check — index-less formats leave
    * this false and get the filter applied by `FeaturePartitionReader`. */
  def handlesBbox: Boolean = false
}

/** Append-a-layer support for the file-per-partition writers (reference
  * `gdal_layer_from_df` adds a named layer to an existing dataset,
  * src/lib.rs:499). Overwrite keeps the classic `part-NNNNN` names; append
  * writes `${layerName}-NNNNN` files next to the existing ones and
  * refuses to clobber a layer that is already present. */
/** Task-attempt file isolation shared by every single-file-per-partition
  * writer: each attempt streams into its own hidden
  * `.<final>.t<taskId>.inprogress` sibling (an extension no format's
  * discovery matches), promoted to the final name only on task commit —
  * a speculative duplicate or failed/retried attempt can neither
  * interleave bytes with the winner nor leave a truncated file a later
  * read would parse. */
/** Carried by every task-commit message: the final file(s) the task
  * promoted. Job commit re-verifies their existence via
  * [[AttemptFile.verifyCommitted]], closing the narrow delete-then-retry
  * window in [[AttemptFile.promote]]: a zombie attempt killed between its
  * fallback `delete(final)` and `rename` removes the winner's file, and
  * without this check the job would report success over a dataset missing
  * a whole partition. */
trait CommittedFiles { def committedPaths: Seq[String] }

object AttemptFile {
  def temp(finalFile: java.io.File, taskId: Long): java.io.File =
    new java.io.File(finalFile.getParentFile,
      s".${finalFile.getName}.t$taskId.inprogress")

  /** Job-commit existence check over the paths the task commits reported.
    * Runs on the driver after ALL tasks finished — any file a committed
    * task promoted that is no longer present means a task-commit race
    * (or external deletion) lost data, and the job must fail loudly
    * rather than publish a partial dataset. */
  def verifyCommitted(
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = {
    val missing = messages.toSeq
      .collect { case c: CommittedFiles => c.committedPaths }
      .flatten.distinct
      .filterNot(p => new java.io.File(p).exists())
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
  def promote(tmp: java.io.File, finalFile: java.io.File): Unit = {
    if (!tmp.renameTo(finalFile)) {
      if (finalFile.exists()) finalFile.delete()
      if (!tmp.renameTo(finalFile))
        throw new java.io.IOException(
          s"task commit rename failed: $tmp -> $finalFile")
    }
  }

  /** Overwrite-mode cleanup of debris from crashed prior jobs (only on
    * truncate — a concurrent append job's in-flight attempts must not be
    * swept). */
  def cleanDebris(dir: java.io.File): Unit =
    Option(dir.listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".inprogress")).foreach(_.delete())
}

object LayerWrite {
  def stem(dir: java.io.File, opts: GdalOptions, truncate: Boolean): String =
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

object FeatureFormat {
  /** The reference's scan-time feature windowing (src/lib.rs:360-375):
    * erroring `maxFeatures` on the raw index, `offset` skip, truncating
    * `limit` (we use rows-after-offset semantics per SURVEY.md §2.3 L2).
    */
  def window[A](it: Iterator[A], opts: GdalOptions): Iterator[A] = {
    var raw = 0L
    val guarded = it.map { f =>
      opts.maxFeatures.foreach { cap => if (raw >= cap) throw new GraftError.FeatureLimitReached(cap) }
      raw += 1
      f
    }
    val afterOffset = guarded.drop(if (opts.offset > Int.MaxValue) Int.MaxValue else opts.offset.toInt)
    opts.limit match {
      case Some(l) => afterOffset.take(if (l > Int.MaxValue) Int.MaxValue else l.toInt)
      case None => afterOffset
    }
  }

  /** Expand a user path: directory → contained files matching the format's
    * extensions (sorted for determinism); file → itself. */
  def expand(paths: Seq[String], format: FeatureFormat): Seq[String] = paths.flatMap { p =>
    val f = new java.io.File(stripScheme(p))
    if (f.isDirectory) {
      f.listFiles().toSeq
        .filter(c => format.extensions.exists(e => c.getName.toLowerCase.endsWith(e)))
        .map(_.getAbsolutePath).sorted
    } else Seq(f.getAbsolutePath)
  }

  private[sources] def stripScheme(p: String): String =
    if (p.startsWith("file:")) new java.net.URI(p).getPath else p
}
