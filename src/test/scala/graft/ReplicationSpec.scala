package graft

import java.nio.file.{Files, Paths}
import java.time.Instant

import graft.operators.Replication
import graft.operators.Replication.{DirSource, State}

/** Replication driver port (scripts/osm2pgsql-replication): state
  * codec, sequence paths, timestamp bisection, init/update lifecycle
  * with crash-safe state advancement. */
class ReplicationSpec extends SparkSpecBase {

  private def osc(id: Int): String =
    s"""<osmChange version="0.6">
       |<modify><node id="$id" lat="1.0" lon="2.0" version="2"/></modify>
       |</osmChange>""".stripMargin

  /** standard replication mirror: sequences 2..5, head state at 5 */
  private def mkMirror(): String = {
    val dir = Files.createTempDirectory("graft-repl").toString
    (2 to 5).foreach { s =>
      val frag = Replication.sequencePath(s)
      val p = Paths.get(dir, frag + ".osc")
      Files.createDirectories(p.getParent)
      Files.write(p, osc(s).getBytes("UTF-8"))
      Files.write(Paths.get(dir, frag + ".state.txt"),
        State.format(State(s,
          Instant.parse(f"2024-01-0${s}T00:00:00Z"))).getBytes("UTF-8"))
    }
    Files.write(Paths.get(dir, "state.txt"),
      State.format(State(5, Instant.parse("2024-01-05T00:00:00Z")))
        .getBytes("UTF-8"))
    dir
  }

  test("state.txt codec: osmosis escaping, comments, roundtrip") {
    val txt = """#Thu Feb 18 12:01:22 UTC 2021
                |sequenceNumber=4567123
                |timestamp=2021-02-18T12\:00\:00Z
                |""".stripMargin
    val s = State.parse(txt).get
    assert(s.sequence == 4567123L)
    assert(s.timestamp == Instant.parse("2021-02-18T12:00:00Z"))
    assert(State.parse(State.format(s)).contains(s))
  }

  test("sequence path layout") {
    assert(Replication.sequencePath(0) == "000/000/000")
    assert(Replication.sequencePath(4567123) == "004/567/123")
    assert(Replication.sequencePath(999999999) == "999/999/999")
  }

  test("timestampToSequence bisects to the covering sequence") {
    val src = DirSource(mkMirror())
    // date between seq 3 and 4 states → start at 3 so nothing is missed
    val seq = Replication.timestampToSequence(src,
      Instant.parse("2024-01-03T12:00:00Z"))
    assert(seq.contains(3L))
    // date after head → head sequence
    assert(Replication.timestampToSequence(src,
      Instant.parse("2024-02-01T00:00:00Z")).contains(5L))
  }

  test("init resolves a start date, update applies diffs in order") {
    val mirror = mkMirror()
    val props = Files.createTempDirectory("graft-props").toString + "/props"
    val st = Replication.init(spark, props, DirSource(mirror),
      "file://" + mirror,
      startAt = Some(Instant.parse("2024-01-03T12:00:00Z")))
    assert(st.sequence == 3L)

    val applied = scala.collection.mutable.ArrayBuffer.empty[String]
    val fin = Replication.update(spark, props, DirSource(mirror),
      path => {
        val osm = graft.sources.OsmSource.read(spark, Seq(path))
        applied += path
        assert(osm.nodes.count() == 1) // each diff carries one node
      })
    assert(fin.sequence == 5L)
    assert(applied.size == 2) // sequences 4 and 5
    assert(applied.forall(_.endsWith(".osc")))

    // idempotent: already up to date
    val again = Replication.update(spark, props, DirSource(mirror),
      _ => fail("must not apply anything when up to date"))
    assert(again.sequence == 5L)
  }

  test("replication_legacy.feature: init --osm-file seeds state from " +
      "the PBF header") {
    val pbf = "/root/reference/tests/data/liechtenstein-2013-08-03.osm.pbf"
    assume(new java.io.File(pbf).exists())
    val h = graft.sources.OsmPbf.readHeader(pbf)
    // the BDD scenario's expected importdate is exactly this header
    // timestamp (2013-08-03 19:00:02 UTC)
    assert(h.replicationTimestamp
      .contains(Instant.parse("2013-08-03T19:00:02Z")))
    assert(h.requiredFeatures.contains("OsmSchema-V0.6"))

    val props = Files.createTempDirectory("graft-props").toString + "/props"
    h.replicationSequence match {
      case Some(seq) =>
        val st = Replication.initFromOsmFile(spark, props, pbf,
          baseUrlOverride = h.replicationBaseUrl
            .orElse(Some("http://example.com/updates")))
        assert(st.sequence == seq)
      case None =>
        // file carries only the timestamp: the sequence resolves
        // against the service by bisection, like the reference
        val st = Replication.initFromOsmFile(spark, props, pbf,
          source = Some(DirSource(mkMirror())),
          baseUrlOverride = Some("http://example.com/updates"))
        assert(st.sequence >= 0L)
        assert(st.timestamp == Instant.parse("2013-08-03T19:00:02Z"))
    }
    val stored = graft.sinks.Properties.load(spark, props)
    assert(stored.contains("replication_sequence_number"))
    assert(stored("replication_timestamp") == "2013-08-03T19:00:02Z")
  }

  test("failed apply leaves state untouched; once applies one chunk") {
    val mirror = mkMirror()
    val props = Files.createTempDirectory("graft-props").toString + "/props"
    Replication.init(spark, props, DirSource(mirror), "x",
      startAt = Some(Instant.parse("2024-01-02T12:00:00Z")))

    intercept[RuntimeException] {
      Replication.update(spark, props, DirSource(mirror),
        _ => throw new RuntimeException("apply failed"))
    }
    // state not advanced: retry starts at the same place
    val once = Replication.update(spark, props, DirSource(mirror),
      _ => (), once = true)
    assert(once.sequence == 3L)
    val rest = Replication.update(spark, props, DirSource(mirror), _ => ())
    assert(rest.sequence == 5L)
  }

  test("update preserves keys written to the store by applyDiff") {
    val mirror = mkMirror()
    val props = Files.createTempDirectory("graft-props").toString + "/p3"
    Replication.init(spark, props, DirSource(mirror), "x",
      startAt = Some(Instant.parse("2024-01-03T12:00:00Z")))

    // applyDiff writes import stats into the SAME properties store —
    // the per-chunk state save must not revert them to a stale snapshot
    Replication.update(spark, props, DirSource(mirror), path => {
      val cur = graft.sinks.Properties.load(spark, props)
      graft.sinks.Properties.save(spark, props,
        cur + ("import_stat" -> path))
    })
    val end = graft.sinks.Properties.load(spark, props)
    assert(end.get("import_stat").exists(_.endsWith(".osc")))
    assert(end("replication_sequence_number") == "5")
  }

  test("updateBatched gathers diffs up to the byte cap per apply") {
    val mirror = mkMirror()
    val props = Files.createTempDirectory("graft-props").toString + "/p4"
    Replication.init(spark, props, DirSource(mirror), "x",
      startAt = Some(Instant.parse("2024-01-02T12:00:00Z")))
    // start sequence 2 → outstanding: 3, 4, 5 (each diff ~90 bytes)
    val batches = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    val fin = Replication.updateBatched(spark, props, DirSource(mirror),
      batches += _, maxBatchBytes = 1L << 20)
    assert(fin.sequence == 5L)
    assert(batches.map(_.size).toSeq == Seq(3)) // one batch holds all
    assert(batches.head.map(_.takeRight(7)) ==
      Seq("003.osc", "004.osc", "005.osc"))

    // a cap below two diffs forces single-diff batches; state advances
    // per batch, so a failure mid-way resumes at the failed batch
    val props2 = Files.createTempDirectory("graft-props").toString + "/p5"
    Replication.init(spark, props2, DirSource(mirror), "x",
      startAt = Some(Instant.parse("2024-01-02T12:00:00Z")))
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Int]
    var failed = false
    intercept[RuntimeException] {
      Replication.updateBatched(spark, props2, DirSource(mirror), b => {
        if (b.head.endsWith("004.osc") && !failed) {
          failed = true; throw new RuntimeException("apply failed")
        }
        sizes += b.size
      }, maxBatchBytes = 100L)
    }
    val mid = graft.sinks.Properties.load(spark, props2)
    assert(mid("replication_sequence_number") == "3") // 3 applied, 4 not
    val fin2 = Replication.updateBatched(spark, props2, DirSource(mirror),
      b => sizes += b.size, maxBatchBytes = 100L)
    assert(fin2.sequence == 5L)
    assert(sizes.toSeq == Seq(1, 1, 1))
  }

  test("post-batch hook: runs per batch with (seq, ts); a throw " +
      "leaves the state untouched (--post-processing semantics)") {
    val mirror = mkMirror()
    val props = Files.createTempDirectory("graft-props").toString + "/p6"
    Replication.init(spark, props, DirSource(mirror), "x",
      startAt = Some(Instant.parse("2024-01-02T12:00:00Z")))
    var calls = 0
    intercept[RuntimeException] {
      Replication.updateBatched(spark, props, DirSource(mirror),
        _ => (), maxBatchBytes = 100L, postBatch = (_, _) => {
          calls += 1; throw new RuntimeException("post failed")
        })
    }
    assert(calls == 1)
    // batch 3 applied but post failed -> state still at the init seq 2,
    // so the next run redownloads and reapplies 3
    assert(graft.sinks.Properties.load(spark, props)
      .apply("replication_sequence_number") == "2")
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Instant)]
    Replication.updateBatched(spark, props, DirSource(mirror),
      _ => (), maxBatchBytes = 100L, postBatch = (s, t) => seen += s -> t)
    assert(seen.toSeq == Seq(
      3L -> Instant.parse("2024-01-03T00:00:00Z"),
      4L -> Instant.parse("2024-01-04T00:00:00Z"),
      5L -> Instant.parse("2024-01-05T00:00:00Z")))
  }

  test("init without stored info and without start date fails loudly") {
    val mirror = mkMirror()
    val props = Files.createTempDirectory("graft-props").toString + "/p2"
    intercept[IllegalStateException] {
      Replication.init(spark, props, DirSource(mirror), "x")
    }
  }
}
