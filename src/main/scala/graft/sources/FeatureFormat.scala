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

/** A record range of one file — the input-partition unit.
  * `startRecord = 0 && numRecords = -1` means the whole file. Formats
  * that split by byte position (single-file GeoJSON) also carry the
  * record range's byte span; -1 means "not byte-addressed". A split of
  * several disjoint record runs (FlatGeobuf index hits) lists them in
  * `runs` as (first record, record count, byte offset of the first), in
  * file order; `startRecord`, `numRecords` and `byteStart` then give the
  * first run's record, the total count and the first run's offset. */
case class SplitSpec(path: String, startRecord: Long, numRecords: Long,
    byteStart: Long = -1L, byteEnd: Long = -1L,
    runs: Seq[(Long, Long, Long)] = Nil) extends Serializable

/** A vector format parser — the pluggable core mirroring the reference's
  * per-driver read loop seam (`df_from_layer`, reference src/lib.rs:332-485).
  * Implementations must be Serializable (shipped to executors inside the
  * reader factory).
  *
  * Every scan runs [[cursor]] into a [[ColumnSink]]: Spark column vectors,
  * filled by one conversion implementation for every format. A
  * [[ColumnarFormat]] (the seven hot formats) has one decode loop that
  * writes into a [[ValueSink]]: its cursor is that loop, and its [[open]]
  * runs the same loop into a [[FeatureBuilder]]. Any other format (KML,
  * GPX, GML) implements [[open]], and the default [[cursor]] puts each
  * [[RawFeature]] it yields into the sink.
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

  /** Opens `spec` for a decode loop into `sink`. The default drains
    * [[openSplit]], putting each feature with [[ValueSink.putFeature]]; a
    * [[ColumnarFormat]] overrides it with its own loop. */
  def cursor(spec: SplitSpec, opts: GdalOptions, sink: ValueSink): FeatureCursor = {
    val it = openSplit(spec, opts)
    new FeatureCursor {
      override def next(): Boolean = it.hasNext && { sink.putFeature(it.next()); true }
      override def close(): Unit = it.close()
    }
  }

  /** True when the format fully enforces `opts.bbox` itself (native index
    * or in-parser envelope test on every path). The scan then skips its
    * per-row WKB-decode re-check ([[ColumnSink.commit]]); index-less
    * formats leave this false and get the test there. */
  def handlesBbox: Boolean = false
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

  /** Whether a feature's geometry (WKB; null for none) has an envelope
    * that meets `q`: the bbox test for formats that do not enforce the
    * option themselves. A feature without geometry never matches. */
  def bboxHit(q: graft.sources.flatgeobuf.FgbIndex.Box, wkb: Array[Byte]): Boolean =
    wkb != null && {
      val e = graft.geom.GeomCodec.fromWkb(wkb).getEnvelopeInternal
      q.intersects(graft.sources.flatgeobuf.FgbIndex.Box(e.getMinX, e.getMinY, e.getMaxX, e.getMaxY))
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
