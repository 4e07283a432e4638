package graft

import graft.sqlfront.SqlText
import org.scalatest.funsuite.AnyFunSuite

/** ClickHouse's literal and comment rule as the dialect front-end's text
  * passes see it: `SqlText.literalEnd` and the length-preserving mask. */
class SqlTextSpec extends AnyFunSuite {
  import SqlText._

  test("literalEnd: a doubled quote and a backslash-escaped quote stay inside") {
    assert(literalEnd("'it''s' x", 0) == 7)
    assert(literalEnd("'it\\'s' x", 0) == 7)
    // an escaped backslash before the closing quote: the quote closes
    assert(literalEnd("'a\\\\' x", 0) == 5)
    assert(literalEnd("`a``b` x", 0) == 6)
    assert(literalEnd("\"a\\\"b\" x", 0) == 6)
  }

  test("literalEnd: an unterminated literal gives -1 and never throws") {
    assert(literalEnd("'abc", 0) == -1)
    assert(literalEnd("'abc\\'", 0) == -1)
    assert(literalEnd("'abc\\", 0) == -1)
    assert(literalEnd("'", 0) == -1)
  }

  test("mask blanks literal bodies and comments, keeping quotes and every position") {
    def sp(n: Int) = " " * n
    val cases = Seq(
      "SELECT 'it''s (' AS a" -> s"SELECT '${sp(7)}' AS a",
      "SELECT 'it\\'s (' AS a" -> s"SELECT '${sp(7)}' AS a",
      "SELECT 'a\\\\', f(x)" -> s"SELECT '${sp(3)}', f(x)",
      "SELECT 1 -- it's (\n, 2" -> s"SELECT 1 ${sp(9)}\n, 2",
      "SELECT /* it's ( */ 1" -> s"SELECT ${sp(12)} 1",
      "SELECT '-- not a comment', '/* nor this */' AS b" ->
        s"SELECT '${sp(16)}', '${sp(14)}' AS b",
      "SELECT \"it's\", `a--b` FROM t" -> "SELECT \"it's\", `a--b` FROM t")
    for ((in, out) <- cases) {
      assert(mask(in) == out, in)
      assert(mask(in).length == in.length, in)
    }
  }

  test("mask: an unterminated literal or comment is blanked to the end") {
    for ((in, out) <- Seq(
        "SELECT 'abc (" -> "SELECT '     ",
        "SELECT 1 /* (" -> "SELECT 1     ",
        "SELECT 1 -- (" -> "SELECT 1     ",
        "SELECT \"abc (" -> "SELECT \"abc (")) {
      assert(mask(in) == out, in)
      assert(mask(in).length == in.length, in)
    }
  }

  test("matching counts one bracket pair over the mask, both ways, -1 when unbalanced") {
    val s = "f(a, '(', [b], g(c)) + 1"
    val m = mask(s)
    assert(matching(m, 1) == s.indexOf(") +"))
    assert(matching(m, s.indexOf(") +")) == 1)
    assert(matching(m, s.indexOf('[')) == s.indexOf(']'))
    assert(matching(m, s.indexOf(']')) == s.indexOf('['))
    assert(matching(mask("f((a)"), 1) == -1)
    assert(matching(mask("f('('"), 1) == -1)
    assert(matching(mask("a)')'"), 1) == -1)
    assert(matching(m, 0) == -1) // not a bracket
    assert(matching(m, -1) == -1)
  }
}
