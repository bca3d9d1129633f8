package graft.sources.geojson

import java.io.{BufferedReader, FileInputStream, InputStreamReader}
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.core.JsonToken
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

import graft.sources._

/** Newline-delimited GeoJSON (GDAL's GeoJSONSeq driver; also accepts
  * RFC 8142 RS-prefixed sequences). One Feature object per line — the
  * splittable GeoJSON variant: unlike a FeatureCollection document, a
  * directory of .geojsonl part files (what our writer emits) parallelizes
  * perfectly, and single large files could be byte-range split on newlines
  * (same model as Spark's text sources). */
class GeoJsonSeqFormat extends FeatureFormat {
  override def extensions: Seq[String] = Seq(".geojsonl", ".ndjson", ".geojsons")

  override def open(path: String, opts: GdalOptions): FeatureIterator = {
    val mapper = new ObjectMapper
    val in = reader(path)
    var idx = -1L
    val it = lines(in).map { line =>
      idx += 1
      GeoJsonSeqFormat.parseFeatureLine(mapper, line, idx)
    }
    FeatureIterator(it, () => in.close())
  }

  /** Types from a token walk of each line (see [[GeoJsonTypes]]): no
    * trees, no geometry decode. */
  override def openTypes(path: String, opts: GdalOptions): TypeIterator = {
    val in = reader(path)
    val it = lines(in).map { line =>
      val p = GeoJsonTypes.factory.createParser(line)
      try {
        if (p.nextToken() != JsonToken.START_OBJECT)
          throw new IllegalArgumentException(s"$path: not a GeoJSON Feature object: $line")
        GeoJsonTypes.feature(p)
      } finally p.close()
    }
    TypeIterator(it, () => in.close())
  }

  private def reader(path: String): BufferedReader = new BufferedReader(
    new InputStreamReader(new FileInputStream(path), StandardCharsets.UTF_8))

  /** The non-blank lines, one feature each. */
  private def lines(in: BufferedReader): Iterator[String] =
    Iterator.continually(in.readLine()).takeWhile(_ != null)
      .map(_.replace("\u001e", "").trim) // RFC 8142 record separator
      .filter(_.nonEmpty)
}

object GeoJsonSeqFormat {
  private[geojson] def parseFeatureLine(mapper: ObjectMapper, line: String, idx: Long): RawFeature = {
    val node = mapper.readTree(line).asInstanceOf[ObjectNode]
    val fid = Option(node.get("id")).filter(_.canConvertToLong).map(_.asLong).getOrElse(idx)
    val geom = Option(node.get("geometry")).filter(!_.isNull)
      .map(g => graft.geom.GeomCodec.toWkb(graft.geom.GeomCodec.fromGeoJsonNode(g))).orNull
    val props = Option(node.get("properties")).filter(_.isObject) match {
      case Some(p) =>
        val it = p.fields()
        val buf = scala.collection.mutable.ArrayBuffer[(String, Any)]()
        while (it.hasNext) { val e = it.next(); buf += e.getKey -> jsonValue(e.getValue) }
        buf.toIndexedSeq
      case None => IndexedSeq.empty
    }
    RawFeature(fid, geom, props)
  }

  private def jsonValue(n: com.fasterxml.jackson.databind.JsonNode): Any =
    if (n == null || n.isNull) null
    else if (n.isIntegralNumber) { if (n.canConvertToInt) n.asInt else n.asLong }
    else if (n.isNumber) n.asDouble
    else if (n.isBoolean) n.asBoolean
    else if (n.isTextual) n.asText
    else if (n.isArray) (0 until n.size).map(i => jsonValue(n.get(i)))
    else n.toString
}

/** `spark.read/write.format("geojsonseq")` — write emits one Feature per
  * line (reusing the FeatureCollection serializer's feature writer). */
class GeoJsonSeqSourceProvider extends WritableFeatureSourceProvider {
  override def shortName(): String = "geojsonseq"
  override def format: FeatureFormat = new GeoJsonSeqFormat
  protected override def newTable(schema: org.apache.spark.sql.types.StructType,
      files: Seq[String], opts: GdalOptions): org.apache.spark.sql.connector.catalog.Table =
    new GeoJsonSeqTable(schema, files, opts, format)
}

class GeoJsonSeqTable(schema: org.apache.spark.sql.types.StructType, files: Seq[String],
    opts: GdalOptions, format: FeatureFormat)
  extends FeatureTable("geojsonseq", schema, files, opts, format)
  with org.apache.spark.sql.connector.catalog.SupportsWrite {
  import org.apache.spark.sql.connector.catalog.TableCapability
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
    : org.apache.spark.sql.connector.write.WriteBuilder =
    new GeoJsonSeqWriteBuilder(info)
}

class GeoJsonSeqWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
  extends org.apache.spark.sql.connector.write.WriteBuilder
  with org.apache.spark.sql.connector.write.SupportsTruncate {
  import org.apache.spark.sql.connector.write._
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = {
      val path = Option(info.options.get("path"))
        .getOrElse(throw new IllegalArgumentException("geojsonseq write requires a path"))
      new GeoJsonSeqBatchWrite(path, info.schema(), GdalOptions(info.options), doTruncate)
    }
  }
}

class GeoJsonSeqBatchWrite(path: String, schema: org.apache.spark.sql.types.StructType,
    opts: GdalOptions, truncate: Boolean)
  extends org.apache.spark.sql.connector.write.BatchWrite {
  import org.apache.spark.sql.connector.write._
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val dir = new java.io.File(path)
    if (!dir.exists()) dir.mkdirs()
    if (truncate) dir.listFiles().filter(_.getName.endsWith(".geojsonl")).foreach(_.delete())
    if (truncate) graft.sources.AttemptFile.cleanDebris(dir)
    GeoJsonRowSerializer.geometryIndex(schema, opts)
    new GeoJsonSeqWriterFactory(path, schema, opts)
  }
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    graft.sources.AttemptFile.verifyCommitted(messages)
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

class GeoJsonSeqWriterFactory(path: String, schema: org.apache.spark.sql.types.StructType,
    opts: GdalOptions) extends org.apache.spark.sql.connector.write.DataWriterFactory {
  import org.apache.spark.sql.connector.write._
  override def createWriter(partitionId: Int, taskId: Long)
    : DataWriter[org.apache.spark.sql.catalyst.InternalRow] =
    new GeoJsonSeqDataWriter(
      new java.io.File(path, f"part-$partitionId%05d.geojsonl"), schema, opts, taskId)
}

class GeoJsonSeqDataWriter(file: java.io.File,
    schema: org.apache.spark.sql.types.StructType, opts: GdalOptions,
    taskId: Long)
  extends org.apache.spark.sql.connector.write.DataWriter[org.apache.spark.sql.catalyst.InternalRow] {
  import org.apache.spark.sql.connector.write._
  private val geomIdx = GeoJsonRowSerializer.geometryIndex(schema, opts)
  private val tmp = graft.sources.AttemptFile.temp(file, taskId)
  private val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
    new java.io.FileOutputStream(tmp), StandardCharsets.UTF_8))

  override def write(row: org.apache.spark.sql.catalyst.InternalRow): Unit = {
    GeoJsonRowSerializer.writeFeature(row, schema, geomIdx, opts, out)
    out.write("\n")
  }
  override def commit(): WriterCommitMessage = {
    out.close()
    graft.sources.AttemptFile.promote(tmp, file)
    GeoJsonCommit(0, Seq(file.getAbsolutePath))
  }
  override def abort(): Unit = { out.close(); tmp.delete(); () }
  override def close(): Unit = ()
}
