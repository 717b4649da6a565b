package graft.lua

import org.scalatest.funsuite.AnyFunSuite

import Expr._
import Stat._

/** Lexer + parser over the Lua subset: structure on small chunks,
  * precedence/associativity, the desugarings, error positions, and —
  * the real gate — every Lua config the reference ships parses. */
class LuaParserSpec extends AnyFunSuite {

  private def parse(src: String): Block = LuaParser.parse(src)
  private def expr(src: String): Expr =
    parse(s"return $src").stats.head.asInstanceOf[Return].exprs.head

  test("literals and names") {
    assert(expr("nil") == Nil0()())
    assert(expr("true") == True()())
    assert(expr("42") == IntLit(42)())
    assert(expr("0x2A") == IntLit(42)())
    assert(expr("3.5") == NumLit(3.5)())
    assert(expr("1e3") == NumLit(1000.0)())
    assert(expr("'abc'") == StrLit("abc")())
    assert(expr("\"a\\tb\"") == StrLit("a\tb")())
    assert(expr("[[raw \\n]]") == StrLit("raw \\n")())
    assert(expr("x") == Name("x")())
  }

  test("operator precedence and associativity") {
    // 1 + 2 * 3 → 1 + (2*3)
    assert(expr("1 + 2 * 3") ==
      BinOp(BinOpKind.Add, IntLit(1)(),
        BinOp(BinOpKind.Mul, IntLit(2)(), IntLit(3)())())())
    // a .. b .. c → a .. (b .. c) (right)
    assert(expr("a .. b .. c") ==
      BinOp(BinOpKind.Concat, Name("a")(),
        BinOp(BinOpKind.Concat, Name("b")(), Name("c")())())())
    // -x^2 → -(x^2)
    assert(expr("-x^2") ==
      UnOp(UnOpKind.Neg,
        BinOp(BinOpKind.Pow, Name("x")(), IntLit(2)())())())
    // not a == b → not applies first? No: (not a) == b in Lua
    assert(expr("not a == b") ==
      BinOp(BinOpKind.Eq,
        UnOp(UnOpKind.Not, Name("a")())(), Name("b")())())
    // a or b and c → a or (b and c)
    assert(expr("a or b and c") ==
      BinOp(BinOpKind.Or, Name("a")(),
        BinOp(BinOpKind.And, Name("b")(), Name("c")())())())
  }

  test("prefix expressions: index, call, method, sugar") {
    assert(expr("t.k") == Index(Name("t")(), StrLit("k")())())
    assert(expr("t[1]") == Index(Name("t")(), IntLit(1)())())
    assert(expr("f(1, 2)") ==
      Call(Name("f")(), List(IntLit(1)(), IntLit(2)()))())
    assert(expr("o:m(x)") ==
      MethodCall(Name("o")(), "m", List(Name("x")()))())
    // string/table sugar
    assert(expr("f'lit'") == Call(Name("f")(), List(StrLit("lit")()))())
    assert(expr("f{1}") ==
      Call(Name("f")(), List(TableCons(List(ArrayItem(IntLit(1)())))()))())
    // (f()) is a Paren node — multi-value truncation (ADVICE)
    assert(expr("(f())") == Paren(Call(Name("f")(), Nil)())())
  }

  test("table constructors: array, keyed, bracket keys") {
    assert(expr("{1, 2}") ==
      TableCons(List(ArrayItem(IntLit(1)()), ArrayItem(IntLit(2)())))())
    assert(expr("{a = 1, ['b'] = 2}") ==
      TableCons(List(
        KeyedItem(StrLit("a")(), IntLit(1)()),
        KeyedItem(StrLit("b")(), IntLit(2)())))())
    // trailing separator + semicolons
    assert(expr("{1; 2,}") ==
      TableCons(List(ArrayItem(IntLit(1)()), ArrayItem(IntLit(2)())))())
  }

  test("statements: local, assign, if/elseif/else, loops") {
    val b = parse(
      """local x, y = 1, 2
        |x = x + 1
        |if x > 1 then y = 1 elseif x < 0 then y = 2 else y = 3 end
        |while x > 0 do x = x - 1 end
        |repeat x = x + 1 until x > 10
        |for i = 1, 10, 2 do x = i end
        |for k, v in pairs(t) do x = k end
        |do x = 1 end
        |""".stripMargin)
    assert(b.stats.size == 8)
    assert(b.stats.head == Local(List("x", "y"),
      List(IntLit(1)(), IntLit(2)()))())
    assert(b.stats(2).asInstanceOf[If].branches.size == 2)
    assert(b.stats(5).asInstanceOf[NumFor].step.contains(IntLit(2)()))
    assert(b.stats(6).asInstanceOf[GenFor].names == List("k", "v"))
  }

  test("function forms desugar") {
    // function a.b.c(x) end → Assign(Index(Index(a,b),c), Function)
    val s1 = parse("function a.b.c(x) return x end").stats.head
      .asInstanceOf[Assign]
    assert(s1.targets.head ==
      Index(Index(Name("a")(), StrLit("b")())(), StrLit("c")())())
    assert(s1.exprs.head.asInstanceOf[Function].params == List("x"))
    // method form prepends self
    val s2 = parse("function a:m(x) end").stats.head.asInstanceOf[Assign]
    assert(s2.exprs.head.asInstanceOf[Function].params ==
      List("self", "x"))
    // local function is its own node (recursive scope)
    val s3 = parse("local function f(n) return f(n) end").stats.head
    assert(s3.asInstanceOf[LocalFunction].name == "f")
    // vararg function
    val s4 = parse("local f = function(...) return ... end").stats.head
      .asInstanceOf[Local]
    assert(s4.exprs.head.asInstanceOf[Function].isVararg)
  }

  test("errors carry chunk:line positions") {
    val e1 = intercept[LuaError](LuaParser.parse("x = (1\ny = 2"))
    assert(e1.getMessage.startsWith("chunk:2:"), e1.getMessage)
    val e2 = intercept[LuaError](LuaParser.parse("goto done"))
    assert(e2.getMessage.contains("goto"))
    val e3 = intercept[LuaError](LuaParser.parse("x = 'unfinished"))
    assert(e3.getMessage.contains("unfinished string"))
  }

  test("line numbers land on the AST nodes") {
    val b = parse("local a = 1\n\nlocal b = 2\nf(b)")
    assert(b.stats.map(_.line) == List(1, 3, 4))
  }

  test("every Lua config the reference ships parses") {
    val dirs = Seq(
      "/root/reference/flex-config",
      "/root/reference/flex-config/gen",
      "/root/reference/flex-config/locator")
    val (present, missing) =
      dirs.map(new java.io.File(_)).partition(_.isDirectory)
    val files = present.flatMap(
      _.listFiles().filter(_.getName.endsWith(".lua")).toSeq)
    assert(files.size >= 25, s"expected the shipped corpus, got $files" +
      (if (missing.isEmpty) ""
       else s"; missing directories: ${missing.mkString(", ")}"))
    files.foreach { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      val block = LuaParser.parse(src, f.getName)
      assert(block.stats.nonEmpty, f.getName)
    }
  }

  test("the reference's init.lua and test styles parse") {
    val candidates = Seq(
      "/root/reference/src/init.lua") ++ {
      val d = new java.io.File("/root/reference/tests/lua")
      if (d.exists())
        d.listFiles().filter(_.getName.endsWith(".lua")).map(_.getPath).toSeq
      else Nil
    }
    candidates.filter(p => new java.io.File(p).exists()).foreach { p =>
      val src = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p)),
        java.nio.charset.StandardCharsets.UTF_8)
      assert(LuaParser.parse(src, p).stats.nonEmpty, p)
    }
  }
}
