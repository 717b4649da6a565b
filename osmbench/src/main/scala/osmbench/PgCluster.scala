package osmbench

import java.nio.file.{Files, Path}

import scala.sys.process._

/** A throwaway PostgreSQL cluster under the benchmark's work
  * directory, run as the `postgres` OS user (the server refuses root).
  * The server process keeps CAP_DAC_READ_SEARCH so it can reach a
  * work directory below a root-only parent. It listens on a unix
  * socket in its own directory when that path fits the socket-name
  * limit, else on loopback TCP. Durability is traded away the same way
  * on every run: fsync and synchronous_commit are off, and the CLI
  * creates UNLOGGED tables. */
final class PgCluster(dir: Path) {
  private val data = dir.resolve("data")
  private val asPostgres = Seq("setpriv", "--reuid=postgres",
    "--regid=postgres", "--clear-groups", "--inh-caps=+dac_read_search",
    "--ambient-caps=+dac_read_search", "env", "LANG=C.UTF-8")
  private var started = false

  private val socketDir = dir.toAbsolutePath.toString
  private val useSocket = (socketDir + "/.s.PGSQL.5432").length <= 100
  private lazy val port: Int =
    if (useSocket) 5432
    else {
      val s = new java.net.ServerSocket(0)
      try s.getLocalPort finally s.close()
    }

  /** libpq conninfo, the form the CLI's -d takes. */
  lazy val dsn: String =
    if (useSocket) s"host=$socketDir dbname=postgres user=postgres"
    else s"host=127.0.0.1 port=$port dbname=postgres user=postgres"

  def transport: String = if (useSocket) "unix" else "tcp"

  private def pg(args: String*): Unit = {
    val log = new StringBuilder
    val rc = Process(asPostgres ++ args, dir.toFile)
      .!(ProcessLogger(l => log.append(l).append('\n'),
        l => log.append(l).append('\n')))
    if (rc != 0) throw new IllegalStateException(
      s"${args.head} failed (rc=$rc): $log")
  }

  def start(): Unit = {
    Process(Seq("rm", "-rf", dir.toString)).!
    Files.createDirectories(dir)
    Process(Seq("chown", "postgres:postgres", dir.toString)).!
    pg("initdb", "-D", data.toString, "-A", "trust", "-E", "UTF8",
      "--no-locale", "--no-sync")
    val listen =
      if (useSocket) s"-k $socketDir -c listen_addresses="
      else s"-k '' -c listen_addresses=127.0.0.1 -p $port"
    pg("pg_ctl", "-D", data.toString, "-l", dir.resolve("pg.log").toString,
      "-w", "-o", s"$listen -c fsync=off -c synchronous_commit=off", "start")
    started = true
  }

  def stop(): Unit = if (started) {
    started = false
    pg("pg_ctl", "-D", data.toString, "-m", "fast", "-w", "stop")
  }

  /** The server's flush settings, as `name=value`. */
  def flushSettings: String = graft.sinks.PgLive.execOrThrow(dsn,
    "SELECT string_agg(name || '=' || setting, ' ' ORDER BY name) " +
      "FROM pg_settings WHERE name IN ('fsync', 'synchronous_commit', " +
      "'full_page_writes', 'wal_level');").trim

  def count(table: String): Long = graft.sinks.PgLive.execOrThrow(dsn,
    s"""SELECT count(*) FROM "public"."$table";""").trim.toLong

  sys.addShutdownHook(if (started) scala.util.Try(stop()))
}
