package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}

/** Checked Hadoop-FS mutations shared by the persisted stores
  * ([[BandIndexStore]], [[VectorStore]]): Hadoop FileSystems report
  * many failures by RETURNING FALSE rather than throwing, and an
  * unchecked false on a commit path converts a transient FS problem
  * into silent data loss (round-10 ADVICE). A false return here aborts
  * the caller mid-protocol, leaving the recovery markers in place for
  * the next entry to retry. Deletes of possibly-absent paths are
  * idempotent: false + gone = success.
  *
  * Filesystem contract shared by both stores: commit points are ATOMIC
  * renames — true on HDFS and local filesystems, NOT on object stores
  * (S3A/GCS emulate rename as copy+delete). Front the store layout
  * with an HDFS-semantics layer there. */
private[operators] object FsOps {

  def fail(what: String): Nothing = throw new java.io.IOException(
    s"store filesystem operation failed (returned false): $what")

  def deleteChecked(f: FileSystem, p: Path): Unit =
    if (!(f.delete(p, true) || !f.exists(p))) fail(s"delete $p")

  def renameChecked(f: FileSystem, src: Path, dst: Path): Unit =
    if (!f.rename(src, dst)) fail(s"rename $src -> $dst")
}

/** The committed-version protocol of [[VectorStore]] (every codec,
  * with or without a coarse quantizer): artifacts stage into
  * `path/v=N/`, a `_COMMITTED` marker (atomic rename) makes the
  * version visible, readers serve the HIGHEST committed version, and
  * the next write garbage-collects superseded/torn versions — so an
  * interrupted write is simply invisible, never a torn artifact set.
  * The store's one write body and one probe body are its only
  * callers, so a protocol fix reaches every store kind at once. */
private[operators] object VersionedStore {

  import FsOps.{deleteChecked, renameChecked}

  def fs(spark: org.apache.spark.sql.SparkSession,
      path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** All version numbers present, committed or torn; non-`v=N`
    * entries (and unparsable suffixes) are ignored rather than
    * thrown on. */
  def versions(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[Long] = {
    val f = fs(spark, path)
    val root = new Path(path)
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("v="))
      .flatMap(n => n.stripPrefix("v=").toLongOption)
  }

  /** The version a reader serves: the highest committed one. */
  def currentVersion(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[Long] =
    versions(spark, path).filter(v =>
      fs(spark, path).exists(new Path(s"$path/v=$v/_COMMITTED")))
      .sorted.lastOption

  /** GC torn stages and stale versions, then pick the next version
    * number to stage into. Returns (current committed, next).
    *
    * Retention: the current committed version AND the most recently
    * superseded committed one are both kept (see [[gcPrevious]]);
    * torn (uncommitted) stages and older committed versions go. */
  def prepareStage(spark: org.apache.spark.sql.SparkSession,
      path: String): (Option[Long], Long) = {
    val f = fs(spark, path)
    val existing = versions(spark, path)
    val committed = existing.filter(v =>
      f.exists(new Path(s"$path/v=$v/_COMMITTED"))).sorted
    val keep = committed.takeRight(2).toSet
    existing.filterNot(keep).foreach(v =>
      deleteChecked(f, new Path(s"$path/v=$v")))
    (committed.lastOption, existing.foldLeft(0L)(math.max) + 1L)
  }

  /** COMMIT POINT — the marker lands via atomic rename; a version
    * without it is invisible to every reader. */
  def commitMarker(spark: org.apache.spark.sql.SparkSession,
      vdir: String): Unit = {
    val f = fs(spark, vdir)
    val markerTmp = new Path(s"$vdir/_COMMITTED.inprogress")
    f.create(markerTmp, true).close()
    renameChecked(f, markerTmp, new Path(s"$vdir/_COMMITTED"))
  }

  /** Deferred cleanup after a commit. The immediately-superseded
    * committed version is RETAINED, not deleted: a reader that
    * resolved [[servingDir]] just before our commit (an unconsumed
    * probe DataFrame, a streaming probe batch racing a rewrite) may
    * still be scanning it, and an immediate delete would fail that
    * scan mid-flight with FileNotFoundException (round-11 ADVICE).
    * Only versions superseded at least one FULL write earlier — by
    * which time any such reader has long finished or re-resolved —
    * are deleted here; steady state therefore holds two versions.
    * Safe to crash before this — the next write's [[prepareStage]]
    * applies the same retention. */
  def gcPrevious(spark: org.apache.spark.sql.SparkSession,
      path: String, previous: Option[Long]): Unit =
    previous.foreach { p =>
      val f = fs(spark, path)
      versions(spark, path).filter(_ < p).foreach(v =>
        deleteChecked(f, new Path(s"$path/v=$v")))
    }

  /** The directory a reader must serve, or fail if nothing is
    * committed. */
  def servingDir(spark: org.apache.spark.sql.SparkSession,
      path: String, store: String): String = {
    val v = currentVersion(spark, path).getOrElse(
      sys.error(s"$store: no committed index version at $path"))
    s"$path/v=$v"
  }

  /** Read ONLY the probed `cell=K` partition directories of a cells
    * table — manual partition pruning (guide §6). A whole-directory
    * `spark.read.parquet(cellsDir)` lists EVERY cell partition before
    * the IN-filter prunes any of them: past the parallel-discovery
    * threshold that listing is a distributed JOB (measured 0.13 s per
    * probe on an 80-cell store), and on a planet-scale store it is
    * O(cells) driver work per probe. Handing the reader the probed
    * directories keeps listing O(probed). Cells with no members were
    * never written — one driver listStatus intersects them away, the
    * same skip the full listing did. Returns None when no probed cell
    * exists on disk (callers keep their full-scan fallback: it reads
    * the footer-derived schema and yields the same empty frame). */
  def readProbedCells(spark: org.apache.spark.sql.SparkSession,
      cellsDir: String, probed: Seq[Long])
      : Option[org.apache.spark.sql.DataFrame] = {
    val f = fs(spark, cellsDir)
    val onDisk = f.listStatus(new Path(cellsDir)).toSeq
      .map(_.getPath.getName).filter(_.startsWith("cell="))
      .flatMap(_.stripPrefix("cell=").toLongOption).toSet
    val existing = probed.filter(onDisk)
    if (existing.isEmpty) None
    else Some(spark.read.option("basePath", cellsDir)
      .parquet(existing.map(c => s"$cellsDir/cell=$c"): _*))
  }

  /** Small sidecar file (params.json etc.) inside a staged version
    * dir — written before the commit marker, so it is part of the
    * atomic version. */
  def writeText(spark: org.apache.spark.sql.SparkSession,
      path: String, text: String): Unit = {
    val out = fs(spark, path).create(new Path(path), true)
    out.write((text + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
  }

  /** Read a sidecar file back, None if absent — for params records
    * that postdate existing stores (backward compat). */
  def readTextIfExists(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[String] = {
    val f = fs(spark, path)
    if (!f.exists(new Path(path))) None
    else Some(readText(spark, path, "VersionedStore"))
  }

  /** Read a sidecar file back, failing loudly if absent. */
  def readText(spark: org.apache.spark.sql.SparkSession,
      path: String, store: String): String = {
    val f = fs(spark, path)
    val p = new Path(path)
    require(f.exists(p), s"$store: missing $path")
    val in = f.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](256)
      var n = in.read(chunk)
      while (n > 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      buf.toString("UTF-8")
    } finally in.close()
  }
}
