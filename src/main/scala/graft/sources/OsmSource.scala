package graft.sources

import java.io.InputStream

import org.apache.spark.sql.SparkSession

/** Format auto-detection + dispatch over the three OSM file readers
  * (reference: src/input.cpp:307-336 prepares input files and detects
  * format from extension/content; osmium sniffs magic bytes).
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
    * .opl files into one set of entity frames (formats grouped,
    * results unioned). `format` != "auto" forces every input through
    * that reader (the CLI's -r/--input-reader). */
  def read(spark: SparkSession, paths: Seq[String],
      format: String = "auto"): OsmXml.OsmDataFrames = {
    val byFormat =
      if (format == "auto") paths.groupBy(sniffPath)
      else Map(format -> paths)
    val parts = byFormat.toSeq.sortBy(_._1).map {
      case ("xml", ps) => OsmXml.read(spark, ps)
      case ("o5m", ps) => O5m.read(spark, ps)
      case ("opl", ps) => Opl.read(spark, ps)
      case ("pbf", ps) =>
        // pbf carries no change sections; normalize to action=create so
        // the frames union with the xml/o5m readers' shape
        ps.map { p =>
          val dfs = OsmPbf.read(spark, p)
          def withAction(df: org.apache.spark.sql.DataFrame) = {
            val cols = org.apache.spark.sql.functions.lit("create")
              .as("action") +: df.columns.map(df.col).toSeq
            df.select(cols: _*)
          }
          OsmXml.OsmDataFrames(withAction(dfs.nodes), withAction(dfs.ways),
            withAction(dfs.relations), backing = dfs.backing)
        }.reduce(union)
      case (other, _) =>
        throw new IllegalArgumentException(s"unsupported format $other")
    }
    parts.reduce(union)
  }

  private def union(a: OsmXml.OsmDataFrames,
      b: OsmXml.OsmDataFrames): OsmXml.OsmDataFrames =
    OsmXml.OsmDataFrames(
      a.nodes.unionByName(b.nodes),
      a.ways.unionByName(b.ways),
      a.relations.unionByName(b.relations),
      backing = a.backing ++ b.backing)
}
