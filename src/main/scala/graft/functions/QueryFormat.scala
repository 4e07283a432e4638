package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.sqlfront.SqlText

/** formatQuery / formatQuerySingleLine [OrNull] (reference
  * src/Functions/formatQuery.cpp:184-205; canonical shapes pinned against
  * tests/queries/0_stateless/02882_formatQuery.reference for the dialect
  * subset this engine parses).
  *
  * A tokenizer + recursive-descent parser over the supported query subset
  * — SELECT pipelines with WITH CTEs, FROM subqueries, JOIN chains
  * (ON/USING), UNION [ALL|DISTINCT] stacks, window OVER clauses, CASE,
  * BETWEEN, IS [NOT] NULL; INSERT…VALUES; CREATE TABLE — re-emitted in
  * the reference's canonical style: keywords uppercased, one SELECT item
  * per indented line when there are several, `CAST(x AS T)` ->
  * `CAST(x, 'T')`, case-insensitive alias canonicalization (DATEDIFF ->
  * dateDiff, POSITION -> position, SUBSTRING -> substring), `NOT(x)` ->
  * `NOT x`, AND/OR chains flattened with parenthesized compound operands,
  * INSERT bodies collapsed to `FORMAT Values`. Parser-level desugarings
  * follow the reference's parser: CASE -> multiIf(...), x IS NULL ->
  * isNull(x), BETWEEN -> paired comparisons. Unparseable input yields
  * None (OrNull forms -> NULL, strict forms -> error, the reference's
  * SYNTAX_ERROR contract).
  */
object QueryFormat {

  // ---------------- tokenizer ----------------
  private sealed trait Tok { def text: String }
  private case class TId(text: String) extends Tok
  private case class TNum(text: String) extends Tok
  private case class TStr(text: String) extends Tok // raw body, unescaped
  private case class TBq(text: String) extends Tok  // backquoted ident body
  private case class TP(text: String) extends Tok   // punct / operator

  private def lex(s: String): Option[Vector[Tok]] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '\'' || c == '`') {
        val end = SqlText.literalEnd(s, i)
        if (end < 0) return None
        if (c == '`') out += TBq(s.substring(i + 1, end - 1))
        else {
          val sb = new StringBuilder; var j = i + 1
          while (j < end - 1) {
            val d = s.charAt(j)
            // an escaped char, or the second quote of a doubled one
            if (d == '\\' || d == '\'') { sb.append(s.charAt(j + 1)); j += 2 }
            else { sb.append(d); j += 1 }
          }
          out += TStr(sb.toString)
        }
        i = end
      } else if (c.isDigit || (c == '.' && i + 1 < n && s.charAt(i + 1).isDigit)) {
        val st = i
        while (i < n && (s.charAt(i).isLetterOrDigit || s.charAt(i) == '.' ||
          ((s.charAt(i) == '+' || s.charAt(i) == '-') && i > st &&
            (s.charAt(i - 1) == 'e' || s.charAt(i - 1) == 'E')))) i += 1
        out += TNum(s.substring(st, i))
      } else if (c.isLetter || c == '_') {
        val st = i
        while (i < n && (s.charAt(i).isLetterOrDigit || s.charAt(i) == '_')) i += 1
        out += TId(s.substring(st, i))
      } else {
        val two = if (i + 1 < n) s.substring(i, i + 2) else ""
        if (Set("<=", ">=", "!=", "<>", "==", "||", "->").contains(two)) { out += TP(two); i += 2 }
        else if ("()[],.;*+-/%<>=".indexOf(c) >= 0) { out += TP(c.toString); i += 1 }
        else return None
      }
    }
    Some(out.result())
  }

  // ---------------- AST ----------------
  private sealed trait Expr
  private case class Num(t: String) extends Expr
  private case class Str(t: String) extends Expr
  private case class Id(t: String) extends Expr // possibly qualified / backquoted, pre-rendered
  private case object Star extends Expr
  private case class Call(name: String, args: Seq[Expr]) extends Expr
  private case class Arr(items: Seq[Expr]) extends Expr
  private case class Tup(items: Seq[Expr]) extends Expr
  private case class Bin(op: String, l: Expr, r: Expr) extends Expr
  private case class Un(op: String, e: Expr) extends Expr // NOT, -
  private case class CastAs(e: Expr, tpe: String) extends Expr
  private case class SubE(q: SelectQ) extends Expr // (SELECT ...) in an expression
  private case class OverE(fn: Call, partitionBy: Seq[Expr],
    orderBy: Seq[OrderKey], frame: Option[String]) extends Expr

  private case class OrderKey(e: Expr, desc: Boolean, nulls: Option[String])

  private sealed trait FromItem
  private case class FromTable(name: String, alias: Option[String]) extends FromItem
  private case class FromSub(q: SelectQ, alias: Option[String]) extends FromItem
  private case class JoinItem(kind: String, left: FromItem, right: FromItem,
    on: Option[Expr], using: Seq[String]) extends FromItem

  private case class SelectQ(
    distinct: Boolean, items: Seq[(Expr, Option[String])],
    from: Option[FromItem],
    arrayJoin: Option[(Boolean, Seq[(Expr, Option[String])])], // (isLeft, items)
    prewhere: Option[Expr], where: Option[Expr], groupBy: Seq[Expr],
    having: Option[Expr], qualify: Option[Expr], orderBy: Seq[OrderKey],
    limitBy: Option[(String, Seq[Expr])], limit: Option[String],
    settings: Seq[(String, String)], fmt: Option[String])
  private case class UnionQ(explain: Option[String],
    ctes: Seq[(String, SelectQ)], parts: Seq[SelectQ], ops: Seq[String])
  private case class InsertQ(table: String, cols: Seq[String])
  private case class CreateQ(name: String, cols: Seq[(String, String)], engine: String,
    orderBy: Option[Expr], partitionBy: Option[Expr], settings: Seq[(String, String)])

  // the reference canonicalizes these case-insensitive aliases to the
  // registered function's own casing (02882 reference lines)
  private val canonicalNames = Map(
    "datediff" -> "dateDiff", "position" -> "position", "substring" -> "substring")

  // words that may not serve as a bare (AS-less) alias
  private val reserved = Set(
    "from", "where", "group", "having", "order", "limit", "offset", "settings",
    "format", "as", "asc", "desc", "nulls", "and", "or", "not", "like", "ilike",
    "in", "by", "union", "distinct", "all", "join", "inner", "left", "right",
    "full", "cross", "outer", "on", "using", "over", "between", "is", "case",
    "when", "then", "else", "end", "with", "values", "select", "insert",
    "create", "partition", "prewhere", "qualify", "window", "rows", "range",
    "array")

  // ---------------- parser ----------------
  private final class P(toks: Vector[Tok]) {
    var i = 0
    def peek: Option[Tok] = if (i < toks.length) Some(toks(i)) else None
    def next(): Tok = { val t = toks(i); i += 1; t }
    def isKw(kw: String): Boolean = peek.exists {
      case TId(t) => t.equalsIgnoreCase(kw); case _ => false }
    def takeKw(kw: String): Boolean = if (isKw(kw)) { i += 1; true } else false
    def expectKw(kw: String): Unit = if (!takeKw(kw)) fail(s"expected $kw")
    def isP(p: String): Boolean = peek.exists { case TP(t) => t == p; case _ => false }
    def takeP(p: String): Boolean = if (isP(p)) { i += 1; true } else false
    def expectP(p: String): Unit = if (!takeP(p)) fail(s"expected '$p'")
    def fail(msg: String): Nothing = throw new IllegalArgumentException(
      s"parse error at token $i: $msg")

    def ident(): String = next() match {
      case TId(t) => t
      case TBq(t) => s"`$t`"
      case _ => fail("expected identifier")
    }

    def qualified(): String = {
      val sb = new StringBuilder(ident())
      while (isP(".")) { i += 1; sb.append('.').append(ident()) }
      sb.toString
    }

    /** a bare alias: a plain identifier that is not a reserved word */
    private def bareAlias(): Option[String] = peek match {
      case Some(TId(t)) if !reserved.contains(t.toLowerCase) => i += 1; Some(t)
      case Some(TBq(t)) => i += 1; Some(s"`$t`")
      case _ => None
    }
    private def aliasOpt(): Option[String] =
      if (takeKw("as")) Some(ident()) else bareAlias()

    def expr(): Expr = orE()
    private def orE(): Expr = {
      var l = andE()
      while (takeKw("or")) l = Bin("OR", l, andE())
      l
    }
    private def andE(): Expr = {
      var l = notE()
      while (takeKw("and")) l = Bin("AND", l, notE())
      l
    }
    private def notE(): Expr =
      if (takeKw("not")) Un("NOT", notE()) else cmpE()
    private def cmpE(): Expr = {
      var l = addE()
      var done = false
      while (!done) {
        peek match {
          case Some(TP(op)) if Set("=", "==", "!=", "<>", "<", ">", "<=", ">=").contains(op) =>
            i += 1
            val o = op match { case "==" => "=" case "<>" => "!=" case x => x }
            l = Bin(o, l, addE())
          case Some(TId(t)) if t.equalsIgnoreCase("like") || t.equalsIgnoreCase("ilike") =>
            i += 1; l = Bin(t.toUpperCase, l, addE())
          case Some(TId(t)) if t.equalsIgnoreCase("in") =>
            i += 1; l = Bin("IN", l, addE())
          case Some(TId(t)) if t.equalsIgnoreCase("between") =>
            i += 1
            val lo = addE(); expectKw("and"); val hi = addE()
            // parser-level desugaring, as the reference does
            l = Bin("AND", Bin(">=", l, lo), Bin("<=", l, hi))
          case Some(TId(t)) if t.equalsIgnoreCase("is") =>
            i += 1
            val neg = takeKw("not")
            expectKw("null")
            l = Call(if (neg) "isNotNull" else "isNull", Seq(l))
          case Some(TId(t)) if t.equalsIgnoreCase("not") &&
            i + 1 < toks.length && toks(i + 1).isInstanceOf[TId] &&
            Set("like", "in", "between").contains(toks(i + 1).text.toLowerCase) =>
            i += 1
            val op2 = next().text.toLowerCase
            if (op2 == "between") {
              val lo = addE(); expectKw("and"); val hi = addE()
              l = Bin("OR", Bin("<", l, lo), Bin(">", l, hi))
            } else l = Bin(s"NOT ${op2.toUpperCase}", l, addE())
          case _ => done = true
        }
      }
      l
    }
    private def addE(): Expr = {
      var l = mulE()
      var done = false
      while (!done) {
        if (takeP("+")) l = Bin("+", l, mulE())
        else if (takeP("-")) l = Bin("-", l, mulE())
        else if (takeP("||")) l = Bin("||", l, mulE())
        else done = true
      }
      l
    }
    private def mulE(): Expr = {
      var l = unE()
      var done = false
      while (!done) {
        if (takeP("*")) l = Bin("*", l, unE())
        else if (takeP("/")) l = Bin("/", l, unE())
        else if (takeP("%")) l = Bin("%", l, unE())
        else done = true
      }
      l
    }
    private def unE(): Expr =
      if (takeP("-")) Un("-", unE()) else primary()

    private def typeText(): String = {
      val base = next() match {
        case TId(t) => t
        case TStr(t) => return t
        case _ => fail("expected type")
      }
      if (takeP("(")) {
        val args = scala.collection.mutable.ArrayBuffer[String]()
        if (!isP(")")) {
          args += typeArg()
          while (takeP(",")) args += typeArg()
        }
        expectP(")")
        s"$base(${args.mkString(", ")})"
      } else base
    }
    private def typeArg(): String = peek match {
      case Some(TNum(t)) => i += 1; t
      case Some(TStr(t)) => i += 1; s"'$t'"
      case _ => typeText()
    }

    private def caseE(): Expr = {
      // CASE [operand] WHEN c THEN v ... [ELSE e] END. The reference's
      // parser desugars both forms into multiIf (operand form via
      // operand = cond comparisons), so the canonical print does too.
      val operand = if (isKw("when")) None else Some(expr())
      val branches = scala.collection.mutable.ArrayBuffer[(Expr, Expr)]()
      while (takeKw("when")) {
        val c = expr(); expectKw("then"); val v = expr()
        branches += ((c, v))
      }
      if (branches.isEmpty) fail("CASE needs WHEN")
      val elseE = if (takeKw("else")) Some(expr()) else None
      expectKw("end")
      val conds = operand match {
        case Some(op) => branches.map { case (c, v) => (Bin("=", op, c), v) }
        case None => branches.toSeq
      }
      val flat = conds.flatMap { case (c, v) => Seq(c, v) } :+
        elseE.getOrElse(Id("NULL"))
      Call("multiIf", flat.toSeq)
    }

    private def overTail(fn: Call): Expr = {
      // fn(...) OVER ( [PARTITION BY ...] [ORDER BY ...] [frame] )
      expectP("(")
      val pb = if (takeKw("partition")) {
        expectKw("by")
        val xs = scala.collection.mutable.ArrayBuffer(expr())
        while (takeP(",")) xs += expr()
        xs.toSeq
      } else Nil
      val ob = if (takeKw("order")) {
        expectKw("by")
        def key(): OrderKey = {
          val e = expr()
          val desc = if (takeKw("desc")) true else { takeKw("asc"); false }
          val nulls = if (takeKw("nulls"))
            Some(if (takeKw("first")) "FIRST" else { expectKw("last"); "LAST" })
          else None
          OrderKey(e, desc, nulls)
        }
        val ks = scala.collection.mutable.ArrayBuffer(key())
        while (takeP(",")) ks += key()
        ks.toSeq
      } else Nil
      val frame =
        if (isKw("rows") || isKw("range")) {
          val unit = next().text.toUpperCase
          def bound(): String =
            if (takeKw("unbounded"))
              if (takeKw("preceding")) "UNBOUNDED PRECEDING"
              else { expectKw("following"); "UNBOUNDED FOLLOWING" }
            else if (takeKw("current")) { expectKw("row"); "CURRENT ROW" }
            else {
              val n = next() match { case TNum(t) => t; case _ => fail("frame bound") }
              if (takeKw("preceding")) s"$n PRECEDING"
              else { expectKw("following"); s"$n FOLLOWING" }
            }
          if (takeKw("between")) {
            val a = bound(); expectKw("and"); val b = bound()
            Some(s"$unit BETWEEN $a AND $b")
          } else Some(s"$unit ${bound()}")
        } else None
      expectP(")")
      OverE(fn, pb, ob, frame)
    }

    private def primary(): Expr = next() match {
      case TNum(t) => Num(t)
      case TStr(t) => Str(t)
      case TP("*") => Star
      case TP("(") =>
        if (isKw("select")) {
          val q = selectQuery()
          expectP(")")
          SubE(q)
        } else {
          val first = expr()
          if (takeP(",")) {
            val items = scala.collection.mutable.ArrayBuffer(first)
            items += expr()
            while (takeP(",")) items += expr()
            expectP(")")
            Tup(items.toSeq)
          } else { expectP(")"); first }
        }
      case TP("[") =>
        val items = scala.collection.mutable.ArrayBuffer[Expr]()
        if (!isP("]")) { items += expr(); while (takeP(",")) items += expr() }
        expectP("]")
        Arr(items.toSeq)
      case TBq(t) => qualifiedTail(s"`$t`")
      case TId(t) if t.equalsIgnoreCase("case") => caseE()
      case TId(t) if t.equalsIgnoreCase("cast") && isP("(") =>
        i += 1
        val e = expr()
        if (takeKw("as")) { val tp = typeText(); expectP(")"); CastAs(e, tp) }
        else { expectP(","); val tp = next() match {
          case TStr(x) => x; case _ => fail("CAST type") }; expectP(")"); CastAs(e, tp) }
      case TId(t) if t.equalsIgnoreCase("interval") =>
        val amount = expr()
        val unit = ident()
        Call("__interval", Seq(amount, Id(unit.toUpperCase)))
      case TId(t) =>
        if (isP("(")) {
          i += 1
          val args = scala.collection.mutable.ArrayBuffer[Expr]()
          if (!isP(")")) { args += expr(); while (takeP(",")) args += expr() }
          expectP(")")
          val call = Call(canonicalNames.getOrElse(t.toLowerCase, t), args.toSeq)
          if (takeKw("over")) overTail(call) else call
        } else qualifiedTail(t)
      case other => fail(s"unexpected ${other.text}")
    }

    private def qualifiedTail(first: String): Expr = {
      val sb = new StringBuilder(first)
      while (isP(".") && i + 1 < toks.length &&
        (toks(i + 1).isInstanceOf[TId] || toks(i + 1).isInstanceOf[TBq])) {
        i += 1; sb.append('.').append(ident())
      }
      Id(sb.toString)
    }

    def settingsList(): Seq[(String, String)] = {
      val out = scala.collection.mutable.ArrayBuffer[(String, String)]()
      def one(): Unit = {
        val k = ident(); expectP("=")
        val v = next() match {
          case TNum(t) => t
          case TStr(t) => s"'$t'"
          case TId(t) => t
          case _ => fail("setting value")
        }
        out += ((k, v))
      }
      one(); while (takeP(",")) one()
      out.toSeq
    }

    private def fromAtom(): FromItem =
      if (takeP("(")) {
        val q = selectQuery()
        expectP(")")
        FromSub(q, aliasOpt())
      } else FromTable(qualified(), aliasOpt())

    private def joinKind(): Option[String] = {
      val save = i
      // restore (not fail) when the word is not actually a join head —
      // e.g. LEFT ARRAY JOIN belongs to the ARRAY JOIN clause
      def finish(kind: String): Option[String] =
        if (takeKw("join")) Some(kind) else { i = save; None }
      if (takeKw("inner")) finish("INNER JOIN")
      else if (takeKw("left")) { takeKw("outer"); finish("LEFT JOIN") }
      else if (takeKw("right")) { takeKw("outer"); finish("RIGHT JOIN") }
      else if (takeKw("full")) { takeKw("outer"); finish("FULL JOIN") }
      else if (takeKw("cross")) finish("CROSS JOIN")
      else if (takeKw("join")) Some("INNER JOIN")
      else None
    }

    private def fromClause(): FromItem = {
      var l = fromAtom()
      var done = false
      while (!done) {
        joinKind() match {
          case Some(kind) =>
            val r = fromAtom()
            if (kind != "CROSS JOIN" && takeKw("on"))
              l = JoinItem(kind, l, r, Some(expr()), Nil)
            else if (kind != "CROSS JOIN" && takeKw("using")) {
              val cols = scala.collection.mutable.ArrayBuffer[String]()
              if (takeP("(")) {
                cols += ident(); while (takeP(",")) cols += ident()
                expectP(")")
              } else { cols += ident(); while (takeP(",")) cols += ident() }
              l = JoinItem(kind, l, r, None, cols.toSeq)
            } else if (kind == "CROSS JOIN") l = JoinItem(kind, l, r, None, Nil)
            else fail("JOIN needs ON or USING")
          case None => done = true
        }
      }
      l
    }

    def selectQuery(): SelectQ = {
      expectKw("select")
      val distinct = takeKw("distinct")
      def item(): (Expr, Option[String]) = {
        val e = expr()
        (e, aliasOpt())
      }
      val items = scala.collection.mutable.ArrayBuffer(item())
      while (takeP(",")) items += item()
      val from = if (takeKw("from")) Some(fromClause()) else None
      // [LEFT] ARRAY JOIN arr [AS a], ...
      val arrayJoin = {
        val save = i
        val left = takeKw("left")
        if (takeKw("array")) {
          expectKw("join")
          val xs = scala.collection.mutable.ArrayBuffer(item())
          while (takeP(",")) xs += item()
          Some((left, xs.toSeq))
        } else { i = save; None }
      }
      val prewhere = if (takeKw("prewhere")) Some(expr()) else None
      val where = if (takeKw("where")) Some(expr()) else None
      val groupBy = if (takeKw("group")) {
        expectKw("by")
        val gs = scala.collection.mutable.ArrayBuffer(expr())
        while (takeP(",")) gs += expr()
        gs.toSeq
      } else Nil
      val having = if (takeKw("having")) Some(expr()) else None
      val qualify = if (takeKw("qualify")) Some(expr()) else None
      val orderBy = if (takeKw("order")) {
        expectKw("by")
        def key(): OrderKey = {
          val e = expr()
          val desc = if (takeKw("desc")) true else { takeKw("asc"); false }
          val nulls = if (takeKw("nulls"))
            Some(if (takeKw("first")) "FIRST" else { expectKw("last"); "LAST" })
          else None
          OrderKey(e, desc, nulls)
        }
        val ks = scala.collection.mutable.ArrayBuffer(key())
        while (takeP(",")) ks += key()
        ks.toSeq
      } else Nil
      def num(): String = next() match {
        case TNum(t) => t; case _ => fail("LIMIT count") }
      def limitSpec(): String = {
        val a = num()
        if (takeP(",")) { val b = num(); s"$b OFFSET $a" }
        else if (takeKw("offset")) { val b = num(); s"$a OFFSET $b" }
        else a
      }
      var limitBy: Option[(String, Seq[Expr])] = None
      var limit: Option[String] = None
      if (takeKw("limit")) {
        val spec0 = limitSpec()
        if (takeKw("by")) {
          val xs = scala.collection.mutable.ArrayBuffer(expr())
          while (takeP(",")) xs += expr()
          limitBy = Some((spec0, xs.toSeq))
          if (takeKw("limit")) limit = Some(limitSpec())
        } else limit = Some(spec0)
      }
      val settings = if (takeKw("settings")) settingsList() else Nil
      val fmt = if (takeKw("format")) Some(ident()) else None
      SelectQ(distinct, items.toSeq, from, arrayJoin, prewhere, where,
        groupBy, having, qualify, orderBy, limitBy, limit, settings, fmt)
    }

    def insertQuery(): InsertQ = {
      expectKw("insert"); expectKw("into")
      val table = qualified()
      val cols = if (takeP("(")) {
        val cs = scala.collection.mutable.ArrayBuffer(ident())
        while (takeP(",")) cs += ident()
        expectP(")")
        cs.toSeq
      } else Nil
      expectKw("values")
      // body: one or more parenthesized literal tuples (validated, dropped)
      var sawTuple = false
      while (isP("(")) {
        i += 1
        if (!isP(")")) { expr(); while (takeP(",")) expr() }
        expectP(")")
        sawTuple = true
      }
      if (!sawTuple) fail("INSERT VALUES body")
      InsertQ(table, cols)
    }

    def createQuery(): CreateQ = {
      expectKw("create"); expectKw("table")
      val name = qualified()
      expectP("(")
      def col(): (String, String) = {
        val cn = next() match {
          case TId(t) => t; case TBq(t) => t; case _ => fail("column name") }
        (cn, typeText())
      }
      val cols = scala.collection.mutable.ArrayBuffer(col())
      while (takeP(",")) cols += col()
      expectP(")")
      expectKw("engine"); expectP("=")
      val engineName = ident()
      val engine = if (takeP("(")) {
        val args = scala.collection.mutable.ArrayBuffer[Expr]()
        if (!isP(")")) { args += expr(); while (takeP(",")) args += expr() }
        expectP(")")
        s"$engineName(${args.map(render(_, 0)).mkString(", ")})"
      } else engineName
      var orderBy: Option[Expr] = None
      var partitionBy: Option[Expr] = None
      var settings: Seq[(String, String)] = Nil
      var done = false
      while (!done) {
        if (takeKw("order")) { expectKw("by"); orderBy = Some(expr()) }
        else if (takeKw("partition")) { expectKw("by"); partitionBy = Some(expr()) }
        else if (takeKw("settings")) settings = settingsList()
        else done = true
      }
      CreateQ(name, cols.toSeq, engine, orderBy, partitionBy, settings)
    }

    def statement(): Any = {
      val explain = if (takeKw("explain")) {
        val mode = peek match {
          case Some(TId(t)) if Set("syntax", "ast", "plan", "pipeline")
            .contains(t.toLowerCase) => i += 1; " " + t.toUpperCase
          case _ => ""
        }
        Some("EXPLAIN" + mode)
      } else None
      val st =
        if (explain.isEmpty && isKw("insert")) insertQuery()
        else if (explain.isEmpty && isKw("create")) createQuery()
        else {
          val ctes = if (takeKw("with")) {
            def cte(): (String, SelectQ) = {
              val nm = ident(); expectKw("as"); expectP("(")
              val q = selectQuery(); expectP(")")
              (nm, q)
            }
            val cs = scala.collection.mutable.ArrayBuffer(cte())
            while (takeP(",")) cs += cte()
            cs.toSeq
          } else Nil
          val parts = scala.collection.mutable.ArrayBuffer(selectQuery())
          val ops = scala.collection.mutable.ArrayBuffer[String]()
          while (takeKw("union")) {
            ops += (if (takeKw("all")) "UNION ALL"
              else if (takeKw("distinct")) "UNION DISTINCT" else "UNION ALL")
            parts += selectQuery()
          }
          UnionQ(explain, ctes, parts.toSeq, ops.toSeq)
        }
      takeP(";")
      if (i != toks.length) fail("trailing tokens")
      st
    }
  }

  // ---------------- printer ----------------
  private def prec(op: String): Int = op match {
    case "OR" => 1
    case "AND" => 2
    case "=" | "!=" | "<" | ">" | "<=" | ">=" | "LIKE" | "ILIKE" | "IN" |
         "NOT LIKE" | "NOT IN" => 4
    case "+" | "-" | "||" => 5
    case "*" | "/" | "%" => 6
    case _ => 9
  }
  private def exprPrec(e: Expr): Int = e match {
    case Bin(op, _, _) => prec(op)
    case Un("NOT", _) => 3
    case Un("-", _) => 7
    case _ => 10
  }
  private def escape(s: String): String =
    s.flatMap { case '\'' => "\\'"; case '\\' => "\\\\"; case c => c.toString }

  private def render(e: Expr, parentPrec: Int): String = {
    val s = e match {
      case Num(t) => t
      case Str(t) => s"'${escape(t)}'"
      case Id(t) => t
      case Star => "*"
      case Call("__interval", Seq(amount, Id(unit))) =>
        s"INTERVAL ${render(amount, 0)} $unit"
      case Call(n, args) => s"$n(${args.map(render(_, 0)).mkString(", ")})"
      case Arr(items) => s"[${items.map(render(_, 0)).mkString(", ")}]"
      case Tup(items) => s"(${items.map(render(_, 0)).mkString(", ")})"
      case CastAs(x, tp) => s"CAST(${render(x, 0)}, '$tp')"
      case SubE(q) => s"(${printSelect(q, single = true, indent = 0)})"
      case OverE(fn, pb, ob, frame) =>
        val inner = Seq(
          if (pb.nonEmpty) Some("PARTITION BY " + pb.map(render(_, 0)).mkString(", ")) else None,
          if (ob.nonEmpty) Some("ORDER BY " + ob.map(renderOrderKey).mkString(", ")) else None,
          frame).flatten.mkString(" ")
        s"${render(fn, 0)} OVER ($inner)"
      case Un("NOT", x) => s"NOT ${render(x, 3)}"
      case Un("-", x) => s"-${render(x, 7)}"
      case Bin(op, _, _) if op == "AND" || op == "OR" =>
        // the reference's printer flattens same-op chains and wraps every
        // compound operand in parens: (a < 5) AND (b != 3) AND c
        def operands(x: Expr): Seq[Expr] = x match {
          case Bin(`op`, a, b) => operands(a) ++ operands(b)
          case other => Seq(other)
        }
        operands(e).map {
          case a @ (_: Bin | _: Un) => s"(${render(a, 0)})"
          case a => render(a, 0)
        }.mkString(s" $op ")
      case Bin(op, l, r) =>
        val lp = prec(op)
        s"${render(l, lp)} $op ${render(r, lp + 1)}"
    }
    e match {
      case _: Bin | _: Un if exprPrec(e) < parentPrec => s"($s)"
      case _ => s
    }
  }

  private def renderOrderKey(k: OrderKey): String =
    render(k.e, 0) + (if (k.desc) " DESC" else " ASC") +
      k.nulls.map(x => s" NULLS $x").getOrElse("")

  private def renderItem(it: (Expr, Option[String])): String =
    render(it._1, 0) + it._2.map(a => s" AS $a").getOrElse("")

  private def indentBlock(s: String, by: Int): String =
    s.linesIterator.map(l => " " * by + l).mkString("\n")

  /** FROM operand in single-line mode. */
  private def fromSingle(f: FromItem): String = f match {
    case FromTable(n, a) => n + a.map(x => s" AS $x").getOrElse("")
    case FromSub(q, a) =>
      s"(${printSelect(q, single = true, indent = 0)})" + a.map(x => s" AS $x").getOrElse("")
    case JoinItem(kind, l, r, on, using) =>
      val tail = on.map(e => s" ON ${render(e, 0)}")
        .getOrElse(if (using.nonEmpty) s" USING (${using.mkString(", ")})" else "")
      s"${fromSingle(l)} $kind ${fromSingle(r)}$tail"
  }

  /** FROM clause lines in multiline mode (JOINs on their own lines,
    * subqueries in indented paren blocks, reference style). */
  private def fromLines(f: FromItem, indent: Int): Seq[String] = f match {
    case FromTable(n, a) => Seq(s"FROM $n" + a.map(x => s" AS $x").getOrElse(""))
    case FromSub(q, a) =>
      Seq("FROM", "(") ++
        Seq(indentBlock(printSelect(q, single = false, indent = 0), 4)) ++
        Seq(")" + a.map(x => s" AS $x").getOrElse(""))
    case JoinItem(kind, l, r, on, using) =>
      val tail = on.map(e => s" ON ${render(e, 0)}")
        .getOrElse(if (using.nonEmpty) s" USING (${using.mkString(", ")})" else "")
      val rightLines = r match {
        case FromTable(n, a) =>
          Seq(s"$kind $n" + a.map(x => s" AS $x").getOrElse("") + tail)
        case FromSub(q, a) =>
          Seq(kind, "(") ++
            Seq(indentBlock(printSelect(q, single = false, indent = 0), 4)) ++
            Seq(")" + a.map(x => s" AS $x").getOrElse("") + tail)
        case j: JoinItem => // right-nested join: parenthesized single line
          Seq(s"$kind (${fromSingle(j)})$tail")
      }
      fromLines(l, indent) ++ rightLines
  }

  private def printSelect(q: SelectQ, single: Boolean, indent: Int): String = {
    val parts = scala.collection.mutable.ArrayBuffer[String]()
    val selKw = if (q.distinct) "SELECT DISTINCT" else "SELECT"
    if (q.items.length == 1) parts += s"$selKw ${renderItem(q.items.head)}"
    else if (single) parts += s"$selKw ${q.items.map(renderItem).mkString(", ")}"
    else parts += q.items.map(renderItem).mkString(s"$selKw\n    ", ",\n    ", "")
    q.from.foreach { f =>
      if (single) parts += s"FROM ${fromSingle(f)}"
      else parts ++= fromLines(f, indent)
    }
    q.arrayJoin.foreach { case (left, items) =>
      val kw = if (left) "LEFT ARRAY JOIN" else "ARRAY JOIN"
      parts += s"$kw ${items.map(renderItem).mkString(", ")}"
    }
    q.prewhere.foreach(p => parts += s"PREWHERE ${render(p, 0)}")
    q.where.foreach(w => parts += s"WHERE ${render(w, 0)}")
    if (q.groupBy.nonEmpty) {
      val gs = q.groupBy.map(render(_, 0))
      if (gs.length == 1) parts += s"GROUP BY ${gs.head}"
      else if (single) parts += s"GROUP BY ${gs.mkString(", ")}"
      else parts += gs.mkString("GROUP BY\n    ", ",\n    ", "")
    }
    q.having.foreach(h => parts += s"HAVING ${render(h, 0)}")
    q.qualify.foreach(x => parts += s"QUALIFY ${render(x, 0)}")
    if (q.orderBy.nonEmpty) {
      val ks = q.orderBy.map(renderOrderKey)
      if (ks.length == 1) parts += s"ORDER BY ${ks.head}"
      else if (single) parts += s"ORDER BY ${ks.mkString(", ")}"
      else parts += ks.mkString("ORDER BY\n    ", ",\n    ", "")
    }
    q.limitBy.foreach { case (spec, cols) =>
      parts += s"LIMIT $spec BY ${cols.map(render(_, 0)).mkString(", ")}"
    }
    q.limit.foreach(l => parts += s"LIMIT $l")
    if (q.settings.nonEmpty)
      parts += q.settings.map { case (k, v) => s"$k = $v" }
        .mkString("SETTINGS ", ", ", "")
    q.fmt.foreach(f => parts += s"FORMAT $f")
    parts.mkString(if (single) " " else "\n")
  }

  private def printUnion(u: UnionQ, single: Boolean): String = {
    val sb = new StringBuilder
    u.explain.foreach(e => sb.append(e).append(if (single) " " else "\n"))
    if (u.ctes.nonEmpty) {
      if (single) {
        sb.append(u.ctes.map { case (n, q) =>
          s"$n AS (${printSelect(q, single = true, indent = 0)})"
        }.mkString("WITH ", ", ", " "))
      } else {
        val blocks = u.ctes.map { case (n, q) =>
          s"$n AS\n(\n${indentBlock(printSelect(q, single = false, indent = 0), 4)}\n)"
        }
        sb.append("WITH ").append(blocks.mkString(",\n")).append("\n")
      }
    }
    val sep = if (single) " " else "\n"
    sb.append(printSelect(u.parts.head, single, 0))
    u.ops.zip(u.parts.tail).foreach { case (op, p) =>
      sb.append(sep).append(op).append(sep).append(printSelect(p, single, 0))
    }
    sb.toString
  }

  private def printCreate(q: CreateQ, single: Boolean): String = {
    val cols = q.cols.map { case (n, t) => s"`$n` $t" }
    val sb = new StringBuilder
    if (single) {
      sb.append(s"CREATE TABLE ${q.name} (${cols.mkString(", ")}) ENGINE = ${q.engine}")
      q.partitionBy.foreach(p => sb.append(s" PARTITION BY ${render(p, 0)}"))
      q.orderBy.foreach(o => sb.append(s" ORDER BY ${render(o, 0)}"))
      if (q.settings.nonEmpty)
        sb.append(q.settings.map { case (k, v) => s"$k = $v" }
          .mkString(" SETTINGS ", ", ", ""))
    } else {
      sb.append(s"CREATE TABLE ${q.name}\n(\n    ${cols.mkString(",\n    ")}\n)")
      sb.append(s"\nENGINE = ${q.engine}")
      q.partitionBy.foreach(p => sb.append(s"\nPARTITION BY ${render(p, 0)}"))
      q.orderBy.foreach(o => sb.append(s"\nORDER BY ${render(o, 0)}"))
      if (q.settings.nonEmpty)
        sb.append(q.settings.map { case (k, v) => s"$k = $v" }
          .mkString("\nSETTINGS ", ", ", ""))
    }
    sb.toString
  }

  /** Canonical format, or None on any lex/parse failure. */
  def format(sql: String, singleLine: Boolean): Option[String] =
    try {
      lex(sql).flatMap { toks =>
        if (toks.isEmpty) None
        else new P(toks).statement() match {
          case u: UnionQ => Some(printUnion(u, singleLine))
          case q: InsertQ =>
            val cols = if (q.cols.nonEmpty) s" (${q.cols.mkString(", ")})" else ""
            Some(s"INSERT INTO ${q.table}$cols FORMAT Values")
          case q: CreateQ => Some(printCreate(q, singleLine))
          case _ => None
        }
      }
    } catch { case _: IllegalArgumentException | _: IndexOutOfBoundsException => None }

  case class FormatQueryExpr(child: Expression, singleLine: Boolean, orNull: Boolean)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override def nullable: Boolean = true
    override def nullSafeEval(input: Any): Any =
      format(input.asInstanceOf[UTF8String].toString, singleLine) match {
        case Some(s) => UTF8String.fromString(s)
        case None if orNull => null
        case None => throw new IllegalArgumentException(
          s"SYNTAX_ERROR: cannot format query: ${input.toString.take(120)}")
      }
    override protected def withNewChildInternal(c: Expression): FormatQueryExpr =
      copy(child = c)
  }
}
