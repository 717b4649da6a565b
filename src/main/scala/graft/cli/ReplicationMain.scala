package graft.cli

import java.time.Instant

import org.apache.spark.sql.SparkSession

import graft.operators.Replication
import graft.operators.Replication.{DirSource, Source, State}
import graft.sinks.Properties

/** `graft.cli.ReplicationMain <init|update|status> [options]` — the
  * companion update driver, the analog of the reference's
  * `scripts/osm2pgsql-replication` tool (init `:404-475`, update
  * `:477-600`, status `:335-401`):
  *
  *  - `init` decides where replication starts — from `--osm-file`'s
  *    PBF header fields, from an explicit `--start-at` date resolved
  *    against the service, or from the replication info the import
  *    itself recorded in the properties store — and persists
  *    `(base_url, sequence, timestamp)`.
  *  - `update` applies every outstanding diff through the CLI append
  *    pipeline (`Main.run --append`), batching consecutive diffs up
  *    to `--max-diff-size` MB into one k-way-merged apply (the
  *    reference's concatenated-tempfile semantics) and persisting
  *    state after each successful batch. Extra osm2pgsql arguments
  *    after the recognized flags pass through to the append run.
  *  - `status` prints local-vs-server state, `--json` as the
  *    reference's JSON object (`server`/`local`/`status`), and its
  *    `status` value is the exit code (0 ok, 1 local state missing,
  *    3 service unreachable).
  *
  * The "database" here is the CLI's `--output-dir` (tables + middle +
  * properties store), and — this build being zero-egress — a
  * replication service is a local mirror directory in the standard
  * `NNN/NNN/NNN.osc.gz` + `.state.txt` layout ([[DirSource]]; an HTTP
  * source implements the same two methods). A `file://` prefix on
  * `--server` is accepted and stripped.
  */
object ReplicationMain {

  final case class Opts(
      cmd: String = "",
      outputDir: String = "graft_out",
      server: Option[String] = None,
      osmFile: Option[String] = None,
      startAt: Option[Instant] = None,
      once: Boolean = false,
      maxDiffMb: Long = 500,
      postProcessing: Option[String] = None,
      json: Boolean = false,
      numProcesses: Int = 1,
      extras: Seq[String] = Nil)

  /** `--start-at` accepts an ISO-8601 instant or a number of minutes
    * to go back from now (the reference's `start_point`). */
  private def parseStartAt(s: String): Instant =
    if (s.forall(_.isDigit))
      Instant.now().minus(java.time.Duration.ofMinutes(s.toLong))
    else
      try Instant.parse(s)
      catch {
        case _: java.time.format.DateTimeParseException => Options.fail(
          s"Invalid start date '$s': use an ISO-8601 instant " +
            "(2013-08-03T12:00:00Z) or a number of minutes")
      }

  def parse(args: Seq[String]): Opts = {
    if (args.isEmpty) Options.fail(
      "Usage: replication <init|update|status> [options]")
    val cmd = args.head
    if (!Seq("init", "update", "status").contains(cmd))
      Options.fail(s"Unknown command '$cmd': use init, update or status")
    var o = Opts(cmd = cmd)
    var rest = args.tail.toList
    def value(flag: String): String = rest match {
      case _ :: v :: tail => rest = tail; v
      case _ => Options.fail(s"Missing value for $flag")
    }
    while (rest.nonEmpty) {
      rest.head match {
        case f @ "--output-dir"    => o = o.copy(outputDir = value(f))
        case f @ "--server"        => o = o.copy(server = Some(value(f)))
        case f @ "--osm-file"      => o = o.copy(osmFile = Some(value(f)))
        case f @ "--start-at" =>
          o = o.copy(startAt = Some(parseStartAt(value(f))))
        case "--once" => o = o.copy(once = true); rest = rest.tail
        case f @ "--max-diff-size" =>
          val v = value(f)
          o = o.copy(maxDiffMb = v.toLongOption.getOrElse(
            Options.fail(s"Invalid --max-diff-size '$v'")))
        case f @ "--post-processing" =>
          o = o.copy(postProcessing = Some(value(f)))
        case "--json" => o = o.copy(json = true); rest = rest.tail
        case f @ ("--number-processes" | "-j") =>
          val v = value(f)
          o = o.copy(numProcesses = v.toIntOption.getOrElse(
            Options.fail(s"Invalid number of processes '$v'")))
        case extra => // pass-through to the append run (update only)
          o = o.copy(extras = o.extras :+ extra); rest = rest.tail
      }
    }
    if (cmd != "update" && o.extras.nonEmpty) Options.fail(
      s"Unrecognized argument(s) for $cmd: ${o.extras.mkString(" ")}")
    o
  }

  private def stripFileScheme(url: String): String =
    if (url.startsWith("file://")) url.substring("file://".length) else url

  private def propsPath(o: Opts): String = s"${o.outputDir}/properties"

  def main(args: Array[String]): Unit = {
    val o = parse(args.toIndexedSeq)
    val spark = graft.LocalSpark.session("graft-replication",
      o.numProcesses, o.numProcesses, "ERROR")
    val code = try run(spark, o) finally spark.stop()
    if (code != 0) sys.exit(code)
  }

  def run(spark: SparkSession, o: Opts): Int = o.cmd match {
    case "init"   => runInit(spark, o)
    case "update" => runUpdate(spark, o)
    case "status" => runStatus(spark, o)
  }

  /** The service the stored/given base URL points at. */
  private def sourceFor(baseUrl: String): Source =
    DirSource(stripFileScheme(baseUrl))

  private def runInit(spark: SparkSession, o: Opts): Int = {
    val state = o.osmFile match {
      case Some(f) =>
        Replication.initFromOsmFile(spark, propsPath(o), f,
          source = o.server.map(sourceFor),
          baseUrlOverride = o.server)
      case None =>
        val stored = scala.util.Try(Properties.load(spark, propsPath(o)))
          .getOrElse(Map.empty[String, String])
        val baseUrl = o.server
          .orElse(stored.get("replication_base_url"))
          .getOrElse(Options.fail(
            "No replication source: pass --server or --osm-file, or " +
              "import with a file whose header carries a replication " +
              "base URL"))
        Replication.init(spark, propsPath(o), sourceFor(baseUrl),
          baseUrl, startAt = o.startAt)
    }
    println(s"Initialised updates for service at sequence " +
      s"${state.sequence} ( ${state.timestamp} )")
    0
  }

  private def runUpdate(spark: SparkSession, o: Opts): Int = {
    val stored = Properties.load(spark, propsPath(o))
    val baseUrl = o.server.orElse(stored.get("replication_base_url"))
      .getOrElse(Options.fail(
        "Updates not set up correctly — run 'replication init' first"))
    val applyBatch: Seq[String] => Unit = { paths =>
      Main.run(spark, Options.parse(
        Seq("--append", "--slim", "--output-dir", o.outputDir) ++
          o.extras ++ paths))
    }
    // --post-processing: the script runs after each successful batch
    // with (sequence, timestamp); a non-zero exit fails the batch and
    // leaves the replication state untouched (reference :493-501)
    val postBatch: (Long, Instant) => Unit = o.postProcessing match {
      case None => (_, _) => ()
      case Some(script) => (seq, ts) =>
        val code = new ProcessBuilder(script, seq.toString, ts.toString)
          .inheritIO().start().waitFor()
        if (code != 0) throw new IllegalStateException(
          s"Post-processing '$script' failed with exit code $code")
    }
    val fin = Replication.updateBatched(spark, propsPath(o),
      sourceFor(baseUrl), applyBatch,
      maxBatchBytes = o.maxDiffMb * 1024L * 1024L, once = o.once,
      postBatch = postBatch)
    println(s"Database is up to date with sequence ${fin.sequence} " +
      s"( ${fin.timestamp} )")
    0
  }

  /** status → exit code, mirroring the reference's codes: 0 ok, 1 no
    * local replication state, 3 service unreachable. */
  private def runStatus(spark: SparkSession, o: Opts): Int = {
    val stored = scala.util.Try(Properties.load(spark, propsPath(o)))
      .getOrElse(Map.empty[String, String])
    val local = for {
      base <- stored.get("replication_base_url")
      seq <- stored.get("replication_sequence_number").flatMap(_.toLongOption)
      ts <- stored.get("replication_timestamp")
        .flatMap(s => scala.util.Try(Instant.parse(s)).toOption)
    } yield (base, State(seq, ts))

    val now = Instant.now()
    def age(t: Instant): Long = math.max(0L, now.getEpochSecond -
      t.getEpochSecond)

    val result: Either[(Int, String), (String, State, State)] =
      local match {
        case None => Left(1 ->
          "Updates not set up correctly — run 'replication init' first")
        case Some((base, loc)) =>
          sourceFor(base).stateInfo(None) match {
            case None => Left(3 ->
              s"Cannot reach the configured replication service '$base'")
            case Some(head) => Right((base, loc, head))
          }
      }

    if (o.json) {
      val body = result match {
        case Left((code, msg)) =>
          s"""{"status": $code, "error": ${jsonStr(msg)}}"""
        case Right((base, loc, head)) =>
          s"""{"server": {"base_url": ${jsonStr(base)}, """ +
            s""""sequence": ${head.sequence}, """ +
            s""""timestamp": ${jsonStr(head.timestamp.toString)}, """ +
            s""""age_sec": ${age(head.timestamp)}}, """ +
            s""""local": {"sequence": ${loc.sequence}, """ +
            s""""timestamp": ${jsonStr(loc.timestamp.toString)}, """ +
            s""""age_sec": ${age(loc.timestamp)}}, """ +
            s""""status": 0}"""
      }
      println(body)
    } else result match {
      case Left((_, msg)) => System.err.println(msg)
      case Right((base, loc, head)) =>
        println(s"Using replication service '$base', which is at " +
          s"sequence ${head.sequence} ( ${head.timestamp} )")
        if (loc.sequence == head.sequence)
          println("Local database is up to date with server")
        else
          println(s"Local database is ${head.sequence - loc.sequence} " +
            "sequences behind the server")
    }
    result.fold(_._1, _ => 0)
  }

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""
}
