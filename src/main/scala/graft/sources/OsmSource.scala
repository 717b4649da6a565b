package graft.sources

import java.io.InputStream

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit}
import org.apache.spark.storage.StorageLevel

/** The one OSM reader: format auto-detection, then one decode of every
  * input into one cached set of entity frames (reference:
  * src/input.cpp:307-336 prepares input files and detects format from
  * extension/content; osmium sniffs magic bytes). The format objects
  * ([[OsmXml]], [[O5m]], [[Opl]], [[OsmPbf]]) supply only decoders.
  *
  * Detection is content-based (first decompressed bytes):
  *  - 0xFF 0xE0 → o5m/o5c (reset + header datasets)
  *  - 4-byte big-endian BlobHeader length then protobuf field 1
  *    (0x0A) → pbf
  *  - leading '<' (after BOM/whitespace) → xml/osc
  * gzip and bzip2 wrappers are seen through by STREAMING the
  * decompressor over the file — bzip2 in particular emits nothing
  * until a whole ~900 KB block is decoded, so sniffing a fixed-size
  * compressed prefix cannot work on real files.
  */
object OsmSource {

  /** Sniff from raw header bytes — only valid for UNCOMPRESSED content
    * or compressed files small enough that the prefix decodes (tests).
    * Prefer [[sniffPath]] for files. */
  def sniff(head: Array[Byte]): String = {
    val isGz = head.length >= 2 && (head(0) & 0xff) == 0x1f &&
      (head(1) & 0xff) == 0x8b
    val isBz2 = head.length >= 3 && head(0) == 'B' && head(1) == 'Z' &&
      head(2) == 'h'
    if (isGz || isBz2)
      classify(decompressedHead(
        new java.io.ByteArrayInputStream(head), isGz), compressed = true)
    else classify(head, compressed = false)
  }

  /** Sniff a file on disk, streaming through gzip/bzip2 if present. */
  def sniffPath(path: String): String = {
    val head = {
      val in = java.nio.file.Files
        .newInputStream(java.nio.file.Paths.get(path))
      try in.readNBytes(4) finally in.close()
    }
    val isGz = head.length >= 2 && (head(0) & 0xff) == 0x1f &&
      (head(1) & 0xff) == 0x8b
    val isBz2 = head.length >= 3 && head(0) == 'B' && head(1) == 'Z' &&
      head(2) == 'h'
    if (!isGz && !isBz2) {
      val in = java.nio.file.Files
        .newInputStream(java.nio.file.Paths.get(path))
      try classify(in.readNBytes(64), compressed = false)
      finally in.close()
    } else {
      val raw = java.nio.file.Files
        .newInputStream(java.nio.file.Paths.get(path))
      try classify(decompressedHead(raw, isGz), compressed = true)
      finally raw.close()
    }
  }

  /** First 16 decompressed bytes of a gzip/bzip2 stream. */
  private def decompressedHead(raw: InputStream, isGz: Boolean): Array[Byte] = {
    val in =
      if (isGz) new java.util.zip.GZIPInputStream(raw)
      else {
        val codec = new org.apache.hadoop.io.compress.BZip2Codec()
        codec.setConf(new org.apache.hadoop.conf.Configuration(false))
        codec.createInputStream(raw)
      }
    try in.readNBytes(16)
    catch { case scala.util.control.NonFatal(_) => Array.empty[Byte] }
    finally in.close()
  }

  private def classify(buf: Array[Byte], compressed: Boolean): String = {
    if (buf.length >= 2 && (buf(0) & 0xff) == 0xff && (buf(1) & 0xff) == 0xe0)
      "o5m"
    else if (buf.length >= 5 && buf(0) == 0 && (buf(4) & 0xff) == 0x0a) {
      // PBF blobs are internally compressed; an outer gzip/bzip2 layer
      // is not a format the blob-span reader can seek inside — reject
      // loudly rather than return zero rows from misread framing
      if (compressed) throw new IllegalArgumentException(
        "compressed .pbf is not supported — pbf blobs are already " +
          "compressed; decompress the outer layer first")
      "pbf"
    } else {
      // optional UTF-8 BOM, then whitespace, then '<'
      val noBom =
        if (buf.length >= 3 && (buf(0) & 0xff) == 0xef &&
          (buf(1) & 0xff) == 0xbb && (buf(2) & 0xff) == 0xbf) buf.drop(3)
        else buf
      val i = noBom.indexWhere(b => !Character.isWhitespace(b.toChar))
      if (i >= 0 && noBom(i) == '<') "xml"
      // OPL: 'n'/'w'/'r' object-type prefix then the (possibly
      // negative) id — osmium detects by .opl suffix; content here
      else if (i >= 0 && "nwr".contains(noBom(i).toChar) &&
          i + 1 < noBom.length &&
          (Character.isDigit(noBom(i + 1).toChar) || noBom(i + 1) == '-'))
        "opl"
      else throw new IllegalArgumentException(
        "cannot detect OSM file format from content")
    }
  }

  /** Read any mix of .osm/.osc[.gz|.bz2], .o5m/.o5c[.gz|.bz2], .pbf,
    * .opl files into one set of entity frames. `format` != "auto"
    * forces every input through that decoder (the CLI's
    * -r/--input-reader).
    *
    * Each format only decodes, into the shared action-tagged
    * [[OsmXml.Parsed]] form, inside executors:
    *  - xml: one task per file ([[OsmXml.parseString]]);
    *  - o5m: one task per file ([[O5m.parseBytes]] after
    *    [[O5m.decompress]]);
    *  - opl: line splits, so a single file spreads over many tasks
    *    ([[Opl.parseLines]]);
    *  - pbf: one task per OSMData blob, found by a driver-side scan of
    *    the blob framing only ([[OsmPbf.scanBlobs]]); pbf has no change
    *    sections, so every entity is a `create`.
    *
    * The decoded chunks of every format are unioned and persisted ONCE
    * (`MEMORY_AND_DISK`), so each file is decoded once however many
    * times the three frames are read; `backing` holds that one cache
    * and the caller releases it with `unpersistBacking`. Building the
    * frames runs no job. */
  def read(spark: SparkSession, paths: Seq[String],
      format: String = "auto"): OsmXml.OsmDataFrames = {
    val sc = spark.sparkContext
    val byFormat =
      if (format == "auto") paths.groupBy(sniffPath)
      else Map(format -> paths)
    val decoded: Seq[RDD[OsmXml.Parsed]] = byFormat.toSeq.sortBy(_._1).map {
      case ("xml", ps) =>
        sc.wholeTextFiles(ps.mkString(","))
          .map { case (_, xml) => OsmXml.parseString(xml) }
      case ("o5m", ps) =>
        // binaryFiles runs no Hadoop codec: decompress per task
        sc.binaryFiles(ps.mkString(",")).map { case (_, pds) =>
          O5m.parseBytes(O5m.decompress(pds.toArray()))
        }
      case ("opl", ps) =>
        spark.read.textFile(ps: _*).rdd
          .mapPartitions(lines => Iterator(Opl.parseLines(lines)))
      case ("pbf", ps) =>
        val spans = ps.flatMap(OsmPbf.scanBlobs)
          .filter(_.blobType == "OSMData")
        sc.parallelize(spans, math.max(1, math.min(spans.size, 256)))
          .map { span =>
            val e = OsmPbf.decodeBlock(OsmPbf.readBlob(span))
            OsmXml.Parsed(e.nodes.map(("create", _)),
              e.ways.map(("create", _)), e.relations.map(("create", _)))
          }
      case (other, _) =>
        throw new IllegalArgumentException(s"unsupported format $other")
    }
    val parsed = decoded.reduce(_ union _)
      .persist(StorageLevel.MEMORY_AND_DISK)
    OsmXml.OsmDataFrames(frame(spark, parsed.flatMap(_.nodes)),
      frame(spark, parsed.flatMap(_.ways)),
      frame(spark, parsed.flatMap(_.relations)), backing = Seq(parsed))
  }

  /** `(action, entity)` rows as one flat frame: `action`, then the
    * entity's columns. Under the tuple's struct every entity column
    * would read nullable; the entity is never null, so each column
    * keeps its nullability in the entity's own schema (the `coalesce`
    * default is never taken). Parquet stores a non-nullable column
    * without definition levels, so the middle and the tables written
    * from these frames stay as small as the entity schema allows. */
  private def frame[T <: Product: TypeTag](spark: SparkSession,
      rows: RDD[(String, T)]): DataFrame = {
    import spark.implicits._
    val entity = Encoders.product[T].schema.fields.toSeq.map { f =>
      val c = col(s"e.${f.name}")
      (if (f.nullable) c else coalesce(c, lit(0).cast(f.dataType)))
        .as(f.name)
    }
    rows.toDF("action", "e").select(col("action") +: entity: _*)
  }
}
