package graft.sinks

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Dataset

/** Live PostgreSQL access through the `psql` client, which accepts
  * every libpq DSN form the reference takes on -d (plain dbname,
  * keyword/value conninfo, postgresql:// URIs — dsn.feature) verbatim
  * as its single connection argument.
  *
  * The engine's bulk path is COPY FROM STDIN — the reference's actual
  * wire protocol (src/db-copy.cpp). Executors format the COPY TEXT
  * lines ([[PgSink.copyText]], pure CPU, distributed); [[loadTable]]
  * then streams them in, per partition over [[PgWire]] when the
  * executors can connect, else through one psql process per table
  * via toLocalIterator — the local-mode analog of the reference's
  * single db-copy thread, with driver memory bounded to one
  * partition, and the transport for the libpq forms [[PgWire]] does
  * not speak (SSL, service files).
  */
object PgLive {

  /** --log-sql / --log-sql-data (src/command-line-app.cpp:117-127):
    * echo statements / COPY payload lines to stderr as they are sent.
    * Set by the CLI; default off. */
  @volatile var logSql: Boolean = false
  @volatile var logSqlData: Boolean = false

  private def logStatement(sql: String): Unit =
    if (logSql) System.err.println(s"[graft SQL] ${sql.trim}")

  /** psql exists on PATH (the client, not a server). */
  lazy val available: Boolean =
    try new ProcessBuilder("psql", "--version").start().waitFor() == 0
    catch { case _: java.io.IOException => false }

  private def run(dsn: String, args: Seq[String], stdin: Array[Byte])
      : (Int, String) = {
    val pb = new ProcessBuilder(
      (Seq("psql", "-X", "-q", "-v", "ON_ERROR_STOP=1", "-At") ++ args :+
        dsn): _*)
    pb.redirectErrorStream(true)
    val p = pb.start()
    val writer = new Thread(() => {
      try {
        p.getOutputStream.write(stdin)
        p.getOutputStream.close()
      } catch { case _: java.io.IOException => () } // psql died early
    })
    writer.start()
    val out = new String(p.getInputStream.readAllBytes(),
      StandardCharsets.UTF_8)
    writer.join()
    (p.waitFor(), out)
  }

  /** Execute SQL (one or more statements); returns (exit, output). */
  def exec(dsn: String, sql: String): (Int, String) = {
    logStatement(sql)
    run(dsn, Nil, sql.getBytes(StandardCharsets.UTF_8))
  }

  def execOrThrow(dsn: String, sql: String): String = {
    val (rc, out) = exec(dsn, sql)
    if (rc != 0)
      throw new IllegalStateException(s"psql failed (rc=$rc): $out\n[$sql]")
    out
  }

  /** Single-value query (unaligned tuples-only output, trimmed). */
  def queryOne(dsn: String, sql: String): String =
    execOrThrow(dsn, sql).trim

  def reachable(dsn: String): Boolean =
    available && exec(dsn, "SELECT 1;")._1 == 0

  /** CREATE EXTENSION IF NOT EXISTS; false when unavailable (e.g. no
    * PostGIS package on the server — the caller degrades the geometry
    * columns to bytea). */
  def tryExtension(dsn: String, name: String): Boolean =
    exec(dsn, s"CREATE EXTENSION IF NOT EXISTS $name;")._1 == 0

  /** Stream arbitrary psql input (SQL statements interleaved with
    * `COPY … FROM STDIN;` payloads terminated by `\.`) through ONE
    * psql session: constant driver memory — chunks are pulled from
    * the iterator only as psql consumes them — and session-scoped
    * state (temp tables, transactions) spans all parts. Every chunk
    * must end in a newline where statement boundaries require one. */
  def session(dsn: String, parts: Iterator[String]): Unit = {
    val pb = new ProcessBuilder("psql", "-X", "-q", "-v",
      "ON_ERROR_STOP=1", dsn)
    pb.redirectErrorStream(true)
    val p = pb.start()
    val toPsql = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      p.getOutputStream, StandardCharsets.UTF_8), 1 << 16)
    // drain psql's output concurrently so a large error text can't
    // deadlock the pipe
    val sink = new java.io.ByteArrayOutputStream
    val drain = new Thread(() => p.getInputStream.transferTo(sink))
    drain.start()
    // in a mixed stream, statements end in ";\n" — payload lines only
    // log under --log-sql-data (the reference's split of log_sql vs
    // log_sql_data)
    val logged: Iterator[String] =
      if (logSqlData) parts.map { s => System.err.print(s"[graft SQL] $s"); s }
      else if (logSql) parts.map { s =>
        if (s.endsWith(";\n")) logStatement(s); s
      }
      else parts
    try logged.foreach(toPsql.write)
    finally {
      try toPsql.close()
      catch { case _: java.io.IOException => () } // psql died early
    }
    drain.join()
    val rc = p.waitFor()
    if (rc != 0)
      throw new IllegalStateException(s"psql session failed (rc=$rc): " +
        new String(sink.toByteArray, StandardCharsets.UTF_8))
  }

  /** Stream COPY TEXT lines into `qualified` over one COPY FROM STDIN
    * (the reference's load shape, src/db-copy.cpp:170-210). */
  def copyInto(dsn: String, qualified: String,
      lines: Iterator[String]): Unit =
    session(dsn, Iterator(s"COPY $qualified FROM STDIN;\n") ++
      lines.map(_ + "\n") ++ Iterator("\\.\n"))

  /** Create-mode load of one table, the sequence both outputs run
    * (table_t::start/stop, src/table.cpp:64-232; flex-table.cpp):
    * the `create` statements (drop, create), COPY of `lines` into
    * `qualified` when there are rows to load, then the `postLoad`
    * batch (SET LOGGED, indexes, ANALYZE). Each batch is one psql
    * call, which stops at its first failing statement.
    *
    * The transport is chosen here: N concurrent per-partition COPY
    * writers ([[PgWire.copyPartitioned]], staged and published
    * atomically) when the DSN is wire-connectable FROM AN EXECUTOR —
    * probing on the driver would prove nothing on a multi-node
    * cluster; otherwise one psql session fed through the driver. */
  def loadTable(dsn: String, qualified: String, create: Seq[String],
      lines: Option[Dataset[String]], postLoad: Seq[String]): Unit = {
    def batch(sql: Seq[String]): Unit =
      if (sql.nonEmpty) execOrThrow(dsn, sql.map(_ + ";\n").mkString)
    batch(create)
    lines.foreach { l =>
      if (PgWire.reachableFromExecutors(l.sparkSession, dsn))
        PgWire.copyPartitioned(l, dsn, qualified)
      else copyInto(dsn, qualified, l.toLocalIterator().asScala)
    }
    batch(postLoad)
  }
}
