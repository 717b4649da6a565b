package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.classic.{StyleFile, StyleEntry}

/** Direct port of tests/test-output-pgsql-style-file.cpp, reading the
  * reference's own fixture files (default.style and tests/style).
  * `exlist.get(type)` maps to filtering entries by osm-type
  * membership; column_type() maps to [[StyleEntry.columnType]];
  * enable_way_area to [[graft.classic.Style.enableWayArea]].
  */
class StyleFileCppPortsSpec extends AnyFunSuite {

  private val RefDir = "/root/reference/"

  /** The fixture's text; a missing reference tree fails here, with
    * the `NoSuchFileException` that names the path. */
  private def read(rel: String): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(RefDir + rel)), "UTF-8")

  private def load(rel: String) = StyleFile.parse(read(rel), rel)

  /** The parse error of a fixture that must not parse; the file is read
    * outside `intercept`, so only the parse is expected to throw. */
  private def parseError(rel: String): IllegalArgumentException = {
    val text = read(rel)
    intercept[IllegalArgumentException](StyleFile.parse(text, rel))
  }

  private def get(style: graft.classic.Style, t: String): Seq[StyleEntry] =
    style.entries.filter(_.osmTypes.contains(t))

  test("parse default style file") {
    val style = load("default.style")
    assert(style.enableWayArea)
    assert(get(style, "node").size == 98)
    assert(get(style, "way").size == 104)
  }

  test("parse empty style file") {
    val e = parseError("tests/style/empty.style")
    assert(e.getMessage ==
      "Unable to parse any valid columns from the style file. Aborting.")
  }

  test("parse style file with invalid osm type") {
    parseError("tests/style/invalid-osm-type.style")
  }

  test("parse style file with comments only") {
    val e = parseError("tests/style/comments.style")
    assert(e.getMessage ==
      "Unable to parse any valid columns from the style file. Aborting.")
  }

  test("parse style file with single node entry") {
    val style = load("tests/style/node.style")
    assert(style.enableWayArea)
    assert(get(style, "node").size == 1)
    assert(get(style, "way").isEmpty)
    val ex = get(style, "node").head
    assert(ex.tag == "access")
    assert(ex.dataType == "text")
    assert(ex.flags == Set("linear"))
    assert(ex.columnType == "text")
  }

  test("parse style file with a few valid entries") {
    val style = load("tests/style/valid.style")
    assert(style.enableWayArea)
    val nodes = get(style, "node"); val ways = get(style, "way")
    assert(nodes.size == 6 && ways.size == 6)
    assert(nodes.forall(e => e.dataType == "text" && e.columnType == "text"))
    assert(ways.forall(e => e.dataType == "text" && e.columnType == "text"))
    assert(nodes.map(_.flags) == Seq(Set("linear"), Set("linear"),
      Set("polygon"), Set("polygon"), Set("nocolumn"), Set("delete")))
    assert(ways.map(_.flags) == Seq(Set("linear"), Set("linear"),
      Set("polygon"), Set("polygon"), Set("nocolumn"), Set("delete")))
  }

  test("parse style file with missing fields") {
    val style = load("tests/style/missing.style")
    assert(style.enableWayArea)
    val nodes = get(style, "node"); val ways = get(style, "way")
    assert(nodes.size == 2 && ways.size == 2)
    assert(nodes.forall(e => e.dataType == "text" && e.columnType == "text"))
    assert(nodes.map(_.flags) == Seq(Set("linear"), Set.empty))
    assert(ways.forall(e => e.dataType == "text" && e.columnType == "text"))
    assert(ways.map(_.flags) == Seq(Set("polygon"), Set.empty))
  }

  test("parse style file with way_area") {
    val style = load("tests/style/way-area.style")
    assert(style.enableWayArea)
    val nodes = get(style, "node"); val ways = get(style, "way")
    assert(nodes.size == 1 && ways.size == 2)
    assert(nodes.head.dataType == "text")
    assert(nodes.head.flags == Set("polygon", "nocolumn"))
    assert(nodes.head.columnType == "text")
    assert(ways(0).dataType == "text")
    assert(ways(0).flags == Set("polygon", "nocolumn"))
    assert(ways(0).columnType == "text")
    assert(ways(1).dataType == "real")
    assert(ways(1).flags == Set.empty)
    assert(ways(1).columnType == "text") // special case for way_area!
  }

  test("parse style file with different data types") {
    val style = load("tests/style/data-types.style")
    assert(style.enableWayArea)
    val nodes = get(style, "node"); val ways = get(style, "way")
    assert(nodes.size == 2 && ways.size == 3)
    assert(nodes(0).tag == "name" && nodes(0).dataType == "text" &&
      nodes(0).flags == Set("linear") && nodes(0).columnType == "text")
    assert(nodes(1).tag == "population" && nodes(1).dataType == "integer" &&
      nodes(1).flags == Set("polygon") && nodes(1).columnType == "int")
    assert(ways(0).tag == "name" && ways(0).columnType == "text")
    assert(ways(1).tag == "width" && ways(1).dataType == "real" &&
      ways(1).flags == Set("linear") && ways(1).columnType == "real")
    assert(ways(2).tag == "population" && ways(2).dataType == "integer" &&
      ways(2).flags == Set("polygon") && ways(2).columnType == "int")
  }

  test("parse style file with invalid data types") {
    val style = load("tests/style/invalid-data-type.style")
    assert(style.enableWayArea)
    assert(get(style, "node").isEmpty)
    val ways = get(style, "way")
    assert(ways.size == 1)
    assert(ways.head.tag == "highway" && ways.head.dataType == "foo")
    assert(ways.head.flags == Set("linear"))
    assert(ways.head.columnType == "text") // unknown type degrades to text
  }

  test("way_area delete line disables the computed column") {
    val style = StyleFile.parse(
      "way  way_area  real  delete\nway  highway  text  linear")
    assert(!style.enableWayArea)
  }

  test("parse_tag_flags: the reference's test-taginfo.cpp vectors") {
    def f(s: String): Set[String] = StyleFile.parseTagFlags(s, 0)
    assert(f("") == Set.empty)
    assert(f("polygon") == Set("polygon"))
    assert(f("linear") == Set("linear"))
    assert(f("nocolumn") == Set("nocolumn"))
    assert(f("phstore") == Set("phstore"))
    assert(f("delete") == Set("delete"))
    assert(f("nocache") == Set("nocache"))
    assert(f("UNKNOWN") == Set.empty)
    assert(f("polygon,phstore") == Set("polygon", "phstore"))
    assert(f("polygon\nnocache") == Set("polygon", "nocache"))
    assert(f("polygon\nnocache,delete") ==
      Set("polygon", "nocache", "delete"))
    // no trimming: " nocache" is an unknown flag and drops
    assert(f("polygon, nocache,delete") == Set("polygon", "delete"))
  }
}
