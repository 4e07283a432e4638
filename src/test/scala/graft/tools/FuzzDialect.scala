package graft.tools

import org.apache.spark.sql.DataFrame
import scala.util.Random

/** Differential dialect fuzzer (reference src/Client/QueryFuzzer/
  * QueryFuzzer.cpp idea, re-aimed): generate deterministic random TYPED
  * expression trees over the ClickHouse-dialect surface, render each tree
  * twice — once in CH-dialect SQL (evaluated through ChSql on Spark) and
  * once in DuckDB SQL — and diff the results row-by-row. Composition is
  * the residual risk the per-name oracle rows can't see (precedence, null
  * propagation, type coercion across ~600 rewrites); this covers it.
  *
  * Grammar notes (each op's cross-engine semantics pinned before
  * inclusion):
  *  - intDiv: CH truncates toward zero, DuckDB `//` floors — numerators
  *    are wrapped in abs() so the two agree; denominators are `x%7+1`.
  *  - modulo: both engines take the dividend's sign — negatives allowed.
  *  - arrayStringConcat([]) = '' on Spark but array_to_string([]) = NULL
  *    on DuckDB — the duck rendering wraps in coalesce(..., '').
  *  - multiply operands are reduced mod 1000 so deep products stay in
  *    int64.
  *  - No floats in v1: integer/string/array/bool ops only, so compares
  *    are exact (FP rounding/rendering differs across engines).
  */
object FuzzDialect {
  sealed trait Tpe
  case object TInt extends Tpe
  case object TStr extends Tpe
  case object TArr extends Tpe // array<string>
  case object TBool extends Tpe

  /** One generated expression, rendered for both engines. */
  final case class Fz(ch: String, duck: String, tpe: Tpe)

  private val strTokens = Seq("row", "key", "scan", "hash", "the", "zz")
  // string literals also draw one token with an apostrophe, spelled with
  // ClickHouse's backslash escape on the dialect side and with SQL's
  // doubled quote on the DuckDB side
  private val strLits = strTokens :+ "it's"

  final class Gen(seed: Long) {
    private val rnd = new Random(seed)
    private def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.length))

    private def lit(t: Tpe): Fz = t match {
      case TInt =>
        if (rnd.nextInt(10) == 0) {
          // overflow-boundary literals: CH promotes to the next wider
          // type (ChArith); duck mirrors cast to BIGINT before + and -
          val v = pick(Seq("2147483647", "-2147483648", "1000000007",
            "32767", "-32768", "127", "-129"))
          Fz(v, v, TInt)
        } else if (rnd.nextBoolean()) {
          val v = rnd.nextInt(19) - 9
          Fz(v.toString, v.toString, TInt)
        } else pick(Seq(
          Fz("doc_id", "doc_id", TInt),
          Fz("n_chars", "n_chars", TInt)))
      case TStr =>
        if (rnd.nextBoolean()) {
          val v = pick(strLits)
          Fz(s"'${v.replace("'", "\\'")}'", s"'${v.replace("'", "''")}'", TStr)
        } else pick(Seq(
          Fz("substring(text, 1, 16)", "substring(text, 1, 16)", TStr),
          Fz("lang", "lang", TStr),
          Fz("source", "source", TStr)))
      case TArr =>
        val s = gen(TStr, 0)
        Fz(s"splitByChar(' ', ${s.ch})", s"string_split(${s.duck}, ' ')", TArr)
      case TBool => genBool(0)
    }

    private def genInt(d: Int): Fz = {
      val a = gen(TInt, d); val b = gen(TInt, d)
      pick(Seq[() => Fz](
        () => Fz(s"plus(${a.ch}, ${b.ch})",
                 s"(CAST(${a.duck} AS BIGINT) + CAST(${b.duck} AS BIGINT))", TInt),
        () => Fz(s"minus(${a.ch}, ${b.ch})",
                 s"(CAST(${a.duck} AS BIGINT) - CAST(${b.duck} AS BIGINT))", TInt),
        () => Fz(s"multiply(modulo(${a.ch}, 1000), modulo(${b.ch}, 1000))",
                 s"((${a.duck} % 1000) * (${b.duck} % 1000))", TInt),
        () => Fz(s"intDiv(abs(${a.ch}), plus(modulo(abs(${b.ch}), 7), 1))",
                 s"(abs(CAST(${a.duck} AS BIGINT)) // ((abs(CAST(${b.duck} AS BIGINT)) % 7) + 1))", TInt),
        () => Fz(s"modulo(${a.ch}, plus(modulo(abs(${b.ch}), 7), 1))",
                 s"(${a.duck} % ((abs(CAST(${b.duck} AS BIGINT)) % 7) + 1))", TInt),
        () => Fz(s"abs(${a.ch})", s"abs(CAST(${a.duck} AS BIGINT))", TInt),
        () => Fz(s"greatest(${a.ch}, ${b.ch})", s"greatest(${a.duck}, ${b.duck})", TInt),
        () => Fz(s"least(${a.ch}, ${b.ch})", s"least(${a.duck}, ${b.duck})", TInt),
        () => { val s = gen(TStr, d); Fz(s"length(${s.ch})", s"length(${s.duck})", TInt) },
        () => { val r = gen(TArr, d); Fz(s"length(${r.ch})", s"len(${r.duck})", TInt) },
        () => { val s = gen(TStr, d); val t = pick(strTokens)
                Fz(s"position(${s.ch}, '$t')", s"strpos(${s.duck}, '$t')", TInt) },
        () => { val s = gen(TStr, d); val t = pick(strTokens)
                Fz(s"countSubstrings(${s.ch}, '$t')",
                   s"((length(${s.duck}) - length(replace(${s.duck}, '$t', ''))) // ${t.length})", TInt) },
        () => { val s = gen(TStr, d); val t = pick(Seq("Row", "KEY", "The"))
                Fz(s"positionCaseInsensitive(${s.ch}, '$t')",
                   s"strpos(lower(${s.duck}), lower('$t'))", TInt) },
        () => { val s = gen(TStr, d)
                Fz(s"toInt64OrZero(${s.ch})",
                   s"coalesce(CASE WHEN regexp_full_match(${s.duck}, '[+-]?[0-9]+') " +
                     s"THEN try_cast(${s.duck} AS BIGINT) END, 0)", TInt) },
        () => Fz(s"bitAnd(${a.ch}, ${b.ch})", s"(${a.duck} & ${b.duck})", TInt),
        () => Fz(s"bitOr(${a.ch}, ${b.ch})", s"(${a.duck} | ${b.duck})", TInt),
        () => Fz(s"bitXor(${a.ch}, ${b.ch})", s"xor(${a.duck}, ${b.duck})", TInt),
        // DuckDB rejects shifting a negative number; Spark wraps — abs both
        () => { val k = rnd.nextInt(9)
                Fz(s"bitShiftLeft(modulo(abs(${a.ch}), 1000), $k)",
                   s"((abs(CAST(${a.duck} AS BIGINT)) % 1000) << $k)", TInt) },
        () => Fz(s"gcd(${a.ch}, ${b.ch})", s"gcd(${a.duck}, ${b.duck})", TInt),
        () => Fz(s"lcm(modulo(${a.ch}, 100), modulo(${b.ch}, 100))",
                 s"lcm((${a.duck} % 100), (${b.duck} % 100))", TInt),
        () => { val c = genBool(d)
                Fz(s"if(${c.ch}, ${a.ch}, ${b.ch})",
                   s"(CASE WHEN ${c.duck} THEN ${a.duck} ELSE ${b.duck} END)", TInt) }
      ))()
    }

    private def genStr(d: Int): Fz = {
      val a = gen(TStr, d)
      pick(Seq[() => Fz](
        () => Fz(s"lower(${a.ch})", s"lower(${a.duck})", TStr),
        () => Fz(s"upper(${a.ch})", s"upper(${a.duck})", TStr),
        () => Fz(s"reverse(${a.ch})", s"reverse(${a.duck})", TStr),
        () => Fz(s"trim(${a.ch})", s"trim(${a.duck})", TStr),
        () => { val b = gen(TStr, d)
                Fz(s"concat(${a.ch}, ${b.ch})", s"(${a.duck} || ${b.duck})", TStr) },
        () => { val p = rnd.nextInt(5) + 1; val l = rnd.nextInt(9)
                Fz(s"substring(${a.ch}, $p, $l)", s"substring(${a.duck}, $p, $l)", TStr) },
        () => { val n = rnd.nextInt(4)
                Fz(s"repeat(substring(${a.ch}, 1, 4), $n)",
                   s"repeat(substring(${a.duck}, 1, 4), $n)", TStr) },
        () => { val i = gen(TInt, d)
                Fz(s"toString(${i.ch})", s"CAST(${i.duck} AS VARCHAR)", TStr) },
        () => { val r = gen(TArr, d)
                Fz(s"arrayStringConcat(${r.ch}, ',')",
                   s"coalesce(array_to_string(${r.duck}, ','), '')", TStr) },
        () => Fz(s"hex(${a.ch})", s"hex(${a.duck})", TStr),
        () => Fz(s"base64Encode(${a.ch})", s"to_base64(CAST(${a.duck} AS BLOB))", TStr),
        () => Fz(s"base64Decode(base64Encode(${a.ch}))",
                 s"CAST(from_base64(to_base64(CAST(${a.duck} AS BLOB))) AS VARCHAR)", TStr),
        () => { val n = rnd.nextInt(11); val p = pick(Seq(".", "*", "ab"))
                Fz(s"leftPad(${a.ch}, $n, '$p')", s"lpad(${a.duck}, $n, '$p')", TStr) },
        () => { val n = rnd.nextInt(11); val p = pick(Seq(".", "*", "ab"))
                Fz(s"rightPad(${a.ch}, $n, '$p')", s"rpad(${a.duck}, $n, '$p')", TStr) },
        () => { val t = pick(strTokens)
                Fz(s"replaceAll(${a.ch}, '$t', '_')",
                   s"replace(${a.duck}, '$t', '_')", TStr) },
        () => Fz(s"trimLeft(${a.ch})", s"ltrim(${a.duck})", TStr),
        () => Fz(s"trimRight(${a.ch})", s"rtrim(${a.duck})", TStr),
        // equal-length from/to maps only (CH translate requires it;
        // Spark/DuckDB would DELETE chars for a shorter `to`)
        () => Fz(s"translate(${a.ch}, 'aeo', 'xyz')",
                 s"translate(${a.duck}, 'aeo', 'xyz')", TStr),
        () => { val n = rnd.nextInt(3) + 1
                Fz(s"substringIndex(${a.ch}, 'a', $n)",
                   s"array_to_string((string_split(${a.duck}, 'a'))[1:$n], 'a')", TStr) },
        // capture-group patterns only: CH extract returns group 1 when
        // present, which is also Spark regexp_extract's default idx
        () => { val p = pick(Seq("(e.)", "(k.y)", "(r[ow]+)"))
                Fz(s"extract(${a.ch}, '$p')",
                   s"regexp_extract(${a.duck}, '$p', 1)", TStr) },
        () => { val b = gen(TStr, d)
                Fz(s"concatWithSeparator('-', ${a.ch}, ${b.ch})",
                   s"concat_ws('-', ${a.duck}, ${b.duck})", TStr) },
        () => { val n = rnd.nextInt(5)
                Fz(s"left(${a.ch}, $n)", s"left(${a.duck}, $n)", TStr) },
        () => { val n = rnd.nextInt(5)
                Fz(s"right(${a.ch}, $n)", s"right(${a.duck}, $n)", TStr) },
        // UTF8-suffixed aliases are byte-identical on ASCII inputs —
        // covers the alias wiring, not the unicode path
        () => Fz(s"lowerUTF8(upperUTF8(${a.ch}))", s"lower(upper(${a.duck}))", TStr),
        () => Fz(s"reverseUTF8(${a.ch})", s"reverse(${a.duck})", TStr),
        () => { val c = genBool(d); val b = gen(TStr, d)
                Fz(s"if(${c.ch}, ${a.ch}, ${b.ch})",
                   s"(CASE WHEN ${c.duck} THEN ${a.duck} ELSE ${b.duck} END)", TStr) }
      ))()
    }

    private def genArr(d: Int): Fz = {
      val a = gen(TArr, d)
      pick(Seq[() => Fz](
        () => Fz(s"arraySort(${a.ch})", s"list_sort(${a.duck})", TArr),
        () => Fz(s"arrayReverse(${a.ch})", s"list_reverse(${a.duck})", TArr),
        () => Fz(s"arrayDistinct(arraySort(${a.ch}))",
                 s"list_sort(list_distinct(${a.duck}))", TArr),
        () => { val b = gen(TArr, d)
                Fz(s"arrayConcat(${a.ch}, ${b.ch})",
                   s"list_concat(${a.duck}, ${b.duck})", TArr) },
        () => { val o = rnd.nextInt(4) + 1; val l = rnd.nextInt(5)
                Fz(s"arraySlice(${a.ch}, $o, $l)",
                   s"(${a.duck})[$o:${o + l - 1}]", TArr) },
        () => { val s = gen(TStr, d) // CH takes the SEPARATOR first
                Fz(s"splitByString('ab', ${s.ch})",
                   s"string_split(${s.duck}, 'ab')", TArr) }
      ))()
    }

    private def genBool(d: Int): Fz = {
      val cmp = Seq(("=", "="), ("!=", "<>"), ("<", "<"), (">", ">"),
        ("<=", "<="), (">=", ">="))
      pick(Seq[() => Fz](
        () => { val a = gen(TInt, d); val b = gen(TInt, d); val (c1, c2) = pick(cmp)
                Fz(s"(${a.ch} $c1 ${b.ch})", s"(${a.duck} $c2 ${b.duck})", TBool) },
        () => { val a = gen(TStr, d); val b = gen(TStr, d); val (c1, c2) = pick(cmp)
                Fz(s"(${a.ch} $c1 ${b.ch})", s"(${a.duck} $c2 ${b.duck})", TBool) },
        () => { val r = gen(TArr, d); val t = pick(strTokens)
                Fz(s"has(${r.ch}, '$t')", s"list_contains(${r.duck}, '$t')", TBool) },
        () => { val s = gen(TStr, d); val t = pick(strTokens)
                Fz(s"startsWith(${s.ch}, '$t')", s"starts_with(${s.duck}, '$t')", TBool) },
        () => { val s = gen(TStr, d); val t = pick(strTokens)
                Fz(s"endsWith(${s.ch}, '$t')", s"ends_with(${s.duck}, '$t')", TBool) },
        () => { val s = gen(TStr, d); val t = pick(strTokens)
                Fz(s"(${s.ch} LIKE '%$t%')", s"(${s.duck} LIKE '%$t%')", TBool) },
        () => { val s = gen(TStr, d); val t1 = pick(strTokens); val t2 = pick(strTokens)
                Fz(s"multiSearchAny(${s.ch}, ['$t1', '$t2'])",
                   s"((${s.duck} LIKE '%$t1%') OR (${s.duck} LIKE '%$t2%'))", TBool) },
        // simple alternation/anchor patterns valid in both regex dialects
        () => { val s = gen(TStr, d); val p = pick(Seq("ro|zz", "^k", "w$", "[aeo]s"))
                Fz(s"match(${s.ch}, '$p')",
                   s"regexp_matches(${s.duck}, '$p')", TBool) },
        () => { if (d >= 3) { val a = gen(TInt, d); Fz(s"(${a.ch} > 0)", s"(${a.duck} > 0)", TBool) }
                else { val a = genBool(d + 1); val b = genBool(d + 1)
                val op = pick(Seq("AND", "OR"))
                Fz(s"(${a.ch} $op ${b.ch})", s"(${a.duck} $op ${b.duck})", TBool) } },
        () => { if (d >= 3) { val a = gen(TInt, d); Fz(s"(${a.ch} = 0)", s"(${a.duck} = 0)", TBool) }
                else { val a = genBool(d + 1); Fz(s"(NOT ${a.ch})", s"(NOT ${a.duck})", TBool) } }
      ))()
    }

    def gen(t: Tpe, d: Int): Fz =
      if (d >= 3 || rnd.nextInt(10) < 2 + d) lit(t)
      else t match {
        case TInt => genInt(d + 1)
        case TStr => genStr(d + 1)
        case TArr => genArr(d + 1)
        case TBool => genBool(d + 1)
      }

    /** A finished top-level expression: arrays are rendered to strings so
      * both engines emit comparable scalars. */
    def top(): Fz = {
      val t = pick(Seq(TInt, TStr, TArr, TBool))
      val e = gen(t, 0)
      if (e.tpe == TArr)
        Fz(s"arrayStringConcat(${e.ch}, '|')",
           s"coalesce(array_to_string(${e.duck}, '|'), '')", TStr)
      else e
    }
  }

  def exprs(seed: Long, n: Int): Seq[Fz] = {
    val g = new Gen(seed)
    (0 until n).map(_ => g.top())
  }

  /** One fuzzed GROUP BY aggregate: (chAgg, duckAgg) column pairs over
    * generated int expressions with a generated group key. Aggregate
    * names exercise the CH dialect's agg surface (sum/min/max/countIf/
    * sumIf/uniqExact/groupBit*); DuckDB sums are cast back to BIGINT
    * (DuckDB sum(BIGINT) widens to HUGEINT, Spark stays LongType). */
  final case class AggFz(chCols: Seq[String], duckCols: Seq[String],
                         chKey: String, duckKey: String)

  final class AggGen(seed: Long) {
    private val g = new Gen(seed)
    private val rnd = new Random(seed * 31 + 7)
    private def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.length))

    def one(nCols: Int): AggFz = {
      val keys = Seq(
        ("lang", "lang"),
        ("source", "source"),
        ("modulo(doc_id, 7)", "(doc_id % 7)"),
        ("substring(lang, 1, 1)", "substring(lang, 1, 1)"))
      val (chKey, duckKey) = pick(keys)
      val cols = (0 until nCols).map { i =>
        val e = g.gen(TInt, 0)
        val b = g.gen(TBool, 1)
        val alias = s"a$i"
        pick(Seq[() => (String, String)](
          () => (s"sum(${e.ch})", s"CAST(sum(${e.duck}) AS BIGINT)"),
          () => (s"min(${e.ch})", s"min(${e.duck})"),
          () => (s"max(${e.ch})", s"max(${e.duck})"),
          () => (s"count(*)", s"count(*)"),
          () => (s"countIf(${b.ch})", s"CAST(count(*) FILTER (WHERE ${b.duck}) AS BIGINT)"),
          () => (s"sumIf(${e.ch}, ${b.ch})",
                 s"CAST(coalesce(sum(${e.duck}) FILTER (WHERE ${b.duck}), 0) AS BIGINT)"),
          () => (s"uniqExact(${e.ch})", s"CAST(count(DISTINCT ${e.duck}) AS BIGINT)"),
          () => (s"groupBitOr(abs(${e.ch}))", s"bit_or(abs(${e.duck}))"),
          () => (s"groupBitAnd(abs(${e.ch}))", s"bit_and(abs(${e.duck}))"),
          () => (s"groupBitXor(abs(${e.ch}))", s"bit_xor(abs(${e.duck}))"),
          // round-10 batch 29 spellings: the sorted-list index formulas
          // of QuantileExact.h mirrored verbatim on the DuckDB side
          () => (s"medianExactLow(${e.ch})",
                 s"(list_sort(list(${e.duck})))[(CASE WHEN count(*) % 2 = 1 " +
                   s"THEN count(*) // 2 ELSE count(*) // 2 - 1 END) + 1]"),
          () => (s"medianExactHigh(${e.ch})",
                 s"(list_sort(list(${e.duck})))[count(*) // 2 + 1]"),
          () => {
            val lvl = pick(Seq("0.1", "0.25", "0.3", "0.6", "0.75", "0.9"))
            (s"quantileExactLow($lvl)(${e.ch})",
             s"(list_sort(list(${e.duck})))[LEAST(CAST(floor($lvl * count(*)) AS BIGINT), count(*) - 1) + 1]")
          },
          () => {
            val lvl = pick(Seq("0.15", "0.4", "0.8", "0.95"))
            (s"quantileExactHigh($lvl)(${e.ch})",
             s"(list_sort(list(${e.duck})))[LEAST(CAST(floor($lvl * count(*)) AS BIGINT), count(*) - 1) + 1]")
          },
          // CH signature takes a bitmap STATE — build a one-element
          // bitmap per row (the XOR-fold then counts odd-occurring values)
          () => (s"groupBitmapXor(bitmapBuild([${e.ch}]))",
                 s"CAST(length(list_filter(list_distinct(list(${e.duck})), " +
                   s"__fd -> length(list_filter(list(${e.duck}), __fx -> __fx = __fd)) % 2 = 1)) AS BIGINT)"),
          // quantileExactWeighted: threshold ceil(level*W), first sorted
          // value whose cumulative weight reaches it — mirrored as a
          // value-<=-cumulative lambda scan (nested-lambda capture)
          () => {
            val lvl = pick(Seq("0.2", "0.35", "0.5", "0.7", "0.9"))
            val w = g.gen(TInt, 1)
            val pairs = s"list({'x': ${e.duck}, 'w': (abs(${w.duck}) % 9 + 1)})"
            (s"quantileExactWeighted($lvl)(${e.ch}, modulo(abs(${w.ch}), 9) + 1)",
             s"CAST(list_min(list_transform(list_filter($pairs, " +
               s"__qe -> list_sum(list_transform(list_filter($pairs, __q2 -> __q2.x <= __qe.x), __q2 -> __q2.w)) " +
               s">= ceil($lvl * list_sum(list_transform($pairs, __qp -> __qp.w)))), " +
               s"__qe -> __qe.x)) AS DOUBLE)")
          }
        ))() match { case (c, d) => (s"$c AS $alias", s"$d AS $alias") }
      }
      AggFz(cols.map(_._1), cols.map(_._2), chKey, duckKey)
    }
  }

  def aggQueries(seed: Long, n: Int): Seq[AggFz] = {
    val g = new AggGen(seed)
    (0 until n).map(_ => g.one(4))
  }

  /** Date/time expression fuzzing over `orders.o_orderdate` — the classic
    * cross-engine drift area (week-start, diff-boundary, trunc-vs-round).
    * Cross-engine semantics pinned per op:
    *  - addDays routes through Spark date_add which returns DATE (drops
    *    time-of-day) — the DuckDB mirror is CAST(x AS DATE) + k;
    *  - toDayOfWeek is CH ISO Mon=1..Sun=7 — DuckDB isodow;
    *  - dateDiff counts UNIT-BOUNDARY crossings (CH truncs both sides) —
    *    DuckDB date_diff has the same contract;
    *  - date-typed results render as yyyy-MM-dd strings via toDate+
    *    toString both sides (timestamp rendering differs). */
  final class DateGen(seed: Long) {
    private val rnd = new Random(seed * 13 + 5)
    private def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.length))

    def genDate(d: Int): Fz = {
      if (d >= 3 || rnd.nextInt(10) < 3)
        Fz("o_orderdate", "o_orderdate", TStr)
      else pick(Seq[() => Fz](
        () => { val a = genDate(d + 1)
                Fz(s"toStartOfDay(${a.ch})", s"date_trunc('day', ${a.duck})", TStr) },
        () => { val a = genDate(d + 1)
                Fz(s"toStartOfMonth(${a.ch})", s"date_trunc('month', ${a.duck})", TStr) },
        () => { val a = genDate(d + 1)
                Fz(s"toStartOfYear(${a.ch})", s"date_trunc('year', ${a.duck})", TStr) },
        () => { val a = genDate(d + 1); val k = rnd.nextInt(200) - 100
                Fz(s"addDays(${a.ch}, $k)", s"(CAST(${a.duck} AS DATE) + $k)", TStr) },
        // batch-16 (round 9): Sunday of the Mon-Sun week
        () => { val a = genDate(d + 1)
                Fz(s"toLastDayOfWeek(${a.ch})",
                   s"CAST(date_trunc('week', CAST(${a.duck} AS DATE)) + INTERVAL 6 DAY AS DATE)", TStr) },
        // days-since-year-zero roundtrip is the identity on dates
        () => { val a = genDate(d + 1)
                Fz(s"fromDaysSinceYearZero(toDaysSinceYearZero(${a.ch}))",
                   s"CAST(${a.duck} AS DATE)", TStr) }
      ))()
    }

    def genInt(): Fz = {
      val a = genDate(0); val b = genDate(0)
      pick(Seq[() => Fz](
        () => Fz(s"toYear(${a.ch})", s"CAST(year(${a.duck}) AS BIGINT)", TInt),
        () => Fz(s"toMonth(${a.ch})", s"CAST(month(${a.duck}) AS BIGINT)", TInt),
        () => Fz(s"toDayOfMonth(${a.ch})", s"CAST(day(${a.duck}) AS BIGINT)", TInt),
        () => Fz(s"toDayOfWeek(${a.ch})", s"CAST(isodow(${a.duck}) AS BIGINT)", TInt),
        () => Fz(s"toDayOfYear(${a.ch})", s"CAST(dayofyear(${a.duck}) AS BIGINT)", TInt),
        () => Fz(s"toQuarter(${a.ch})", s"CAST(quarter(${a.duck}) AS BIGINT)", TInt),
        () => { val u = pick(Seq("day", "month", "year"))
                Fz(s"dateDiff('$u', ${a.ch}, ${b.ch})",
                   s"CAST(date_diff('$u', CAST(${a.duck} AS TIMESTAMP), CAST(${b.duck} AS TIMESTAMP)) AS BIGINT)", TInt) },
        // batch-16 (round 9) relative-num / since-epoch surface
        () => Fz(s"toISOYear(${a.ch})", s"CAST(isoyear(${a.duck}) AS BIGINT)", TInt),
        () => Fz(s"toRelativeMonthNum(${a.ch})",
                 s"CAST(year(${a.duck}) * 12 + month(${a.duck}) AS BIGINT)", TInt),
        () => Fz(s"toRelativeQuarterNum(${a.ch})",
                 s"CAST(year(${a.duck}) * 4 + (month(${a.duck}) - 1) // 3 AS BIGINT)", TInt),
        () => Fz(s"toRelativeWeekNum(${a.ch})",
                 s"CAST((datediff('day', DATE '1970-01-01', CAST(${a.duck} AS DATE)) + 7 - " +
                   s"(isodow(${a.duck}) - 1)) // 7 AS BIGINT)", TInt),
        () => Fz(s"toDaysSinceYearZero(${a.ch})",
                 s"CAST(datediff('day', DATE '1970-01-01', CAST(${a.duck} AS DATE)) + 719528 AS BIGINT)", TInt),
        () => Fz(s"toMonthNumSinceEpoch(${a.ch})",
                 s"CAST((year(${a.duck}) - 1970) * 12 + month(${a.duck}) - 1 AS BIGINT)", TInt),
        () => Fz(s"toYearNumSinceEpoch(${a.ch})",
                 s"CAST(year(${a.duck}) - 1970 AS BIGINT)", TInt)
      ))()
    }

    /** Top-level: int expression, or a date rendered as yyyy-MM-dd. */
    def top(): Fz =
      if (rnd.nextBoolean()) genInt()
      else { val a = genDate(0)
        Fz(s"toString(toDate(${a.ch}))", s"CAST(CAST(${a.duck} AS DATE) AS VARCHAR)", TStr) }
  }

  def dateExprs(seed: Long, n: Int): Seq[Fz] = {
    val g = new DateGen(seed)
    (0 until n).map(_ => g.top())
  }

  /** Float expression fuzzing — exercises the CH math templates where the
    * engines genuinely diverge and the dialect layer must paper over it:
    *  - CH divide(): x/0 -> ±Inf, 0/0 -> NaN (never error); DuckDB's own
    *    division returns NULL on /0, so the duck mirror spells the CH
    *    contract out with a CASE;
    *  - sqrt(-x) ERRORS in DuckDB (CH: nan) — arguments are abs-guarded;
    *  - ln(0) ERRORS in DuckDB (CH: -inf) — arguments are +1-shifted;
    *  - exp is magnitude-clamped so chains stay finite.
    * Results compare with relative tolerance in fuzz_check.py (1e-9),
    * inf/NaN compare by identity. */
  final class FloatGen(seed: Long) {
    private val rnd = new Random(seed * 19 + 23)
    private def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.length))

    def gen(d: Int): Fz = {
      if (d >= 3 || rnd.nextInt(10) < 2 + d)
        pick(Seq(
          Fz("(n_chars / 7.0)", "(n_chars / 7.0)", TInt),
          Fz("(doc_id / 3.0)", "(doc_id / 3.0)", TInt),
          Fz("2.5", "2.5", TInt), Fz("0.25", "0.25", TInt),
          Fz("-1.5", "-1.5", TInt), Fz("9.75", "9.75", TInt)))
      else {
        val a = gen(d + 1); val b = gen(d + 1)
        pick(Seq[() => Fz](
          () => Fz(s"plus(${a.ch}, ${b.ch})", s"(${a.duck} + ${b.duck})", TInt),
          () => Fz(s"minus(${a.ch}, ${b.ch})", s"(${a.duck} - ${b.duck})", TInt),
          () => Fz(s"multiply(${a.ch}, ${b.ch})", s"(${a.duck} * ${b.duck})", TInt),
          () => Fz(s"divide(${a.ch}, ${b.ch})",
            s"(CASE WHEN CAST(${b.duck} AS DOUBLE) = 0.0 THEN " +
              s"(CASE WHEN CAST(${a.duck} AS DOUBLE) > 0.0 THEN 'infinity'::DOUBLE " +
              s"WHEN CAST(${a.duck} AS DOUBLE) < 0.0 THEN '-infinity'::DOUBLE " +
              s"ELSE 'nan'::DOUBLE END) " +
              s"ELSE CAST(${a.duck} AS DOUBLE) / CAST(${b.duck} AS DOUBLE) END)", TInt),
          () => Fz(s"sqrt(abs(${a.ch}))", s"sqrt(abs(${a.duck}))", TInt),
          () => Fz(s"ln(plus(abs(${a.ch}), 1.0))", s"ln(abs(${a.duck}) + 1.0)", TInt),
          () => Fz(s"log2(plus(abs(${a.ch}), 1.0))", s"log2(abs(${a.duck}) + 1.0)", TInt),
          () => Fz(s"log10(plus(abs(${a.ch}), 1.0))", s"log10(abs(${a.duck}) + 1.0)", TInt),
          () => Fz(s"exp(least(abs(${a.ch}), 20.0))",
                   s"exp(least(abs(${a.duck}), 20.0))", TInt),
          () => Fz(s"pow(plus(abs(${a.ch}), 0.5), least(abs(${b.ch}), 3.0))",
                   s"power(abs(${a.duck}) + 0.5, least(abs(${b.duck}), 3.0))", TInt),
          () => Fz(s"greatest(${a.ch}, ${b.ch})", s"greatest(${a.duck}, ${b.duck})", TInt),
          () => Fz(s"least(${a.ch}, ${b.ch})", s"least(${a.duck}, ${b.duck})", TInt)
        ))()
      }
    }
  }

  def floatExprs(seed: Long, n: Int): Seq[Fz] = {
    val g = new FloatGen(seed)
    (0 until n).map(_ => g.gen(0))
  }

  def chFloatSelect(batch: Seq[Fz], filter: String): String =
    s"SELECT doc_id, ${batch.zipWithIndex.map { case (e, i) => s"CAST(${e.ch} AS DOUBLE) AS c$i" }.mkString(", ")} " +
      s"FROM documents WHERE $filter ORDER BY doc_id"

  def duckFloatSelect(batch: Seq[Fz], filter: String): String =
    s"SELECT doc_id, ${batch.zipWithIndex.map { case (e, i) => s"CAST(${e.duck} AS DOUBLE) AS c$i" }.mkString(", ")} " +
      s"FROM documents WHERE $filter ORDER BY doc_id"

  /** Array / higher-order-function fuzzing over Int64 arrays — the
    * lambda templates are the most restructuring-heavy rewrites in the
    * dialect (CH takes the lambda FIRST, Spark/DuckDB take the array
    * first), and building this mode flushed out six template bugs:
    * arrayCumSum had no template at all, and range(s,e)/arrayEnumerate/
    * arrayResize/arrayShingles/arrayEnumerateUniq all rode Spark's
    * sequence(1, n<=0), which DESCENDS ([1,0]) instead of being empty;
    * arrayPopBack/Front errored on [] (negative slice length) and
    * arrayRotate* NULLed on [] (pmod by zero). Mirrors pinned:
    *  - CH arraySum([]) = 0 — duck list_sum([]) is NULL, coalesced;
    *  - arrayMin/Max are fed a concatenated sentinel so arrays are
    *    never empty (empty-array reduce diverges by engine);
    *  - arrayAll(p, A) mirrored as len(list_filter) = len(A) — sound
    *    because elements are never NULL by construction;
    *  - arrayCumSum mirrored as prefix list_sums over generate_series;
    *  - lambda variables are depth-unique (v0, v1, …) so nested
    *    lambdas never shadow. */
  final class ArrGen(seed: Long) {
    private val rnd = new Random(seed * 43 + 29)
    private def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.length))

    /** (ch, duck) int->int lambda bodies over variable v. */
    private def lam(v: String): (String, String) = {
      val k = rnd.nextInt(5)
      pick(Seq(
        (s"$v -> plus($v, $k)", s"$v -> ($v + $k)"),
        (s"$v -> multiply($v, 2)", s"$v -> ($v * 2)"),
        (s"$v -> abs(minus($v, $k))", s"$v -> abs($v - $k)"),
        (s"$v -> modulo($v, ${k + 2})", s"$v -> ($v % ${k + 2})")))
    }

    /** (ch, duck) int->bool predicate bodies over variable v. */
    private def pred(v: String): (String, String) = {
      val k = rnd.nextInt(4)
      pick(Seq(
        (s"$v -> (modulo($v, ${k + 2}) = ${k % 2})", s"$v -> (($v % ${k + 2}) = ${k % 2})"),
        (s"$v -> ($v > $k)", s"$v -> ($v > $k)"),
        (s"$v -> ($v != $k)", s"$v -> ($v <> $k)")))
    }

    private def leaf(): Fz = pick(Seq(
      Fz("[modulo(doc_id, 5), 3, modulo(n_chars, 7), 1]",
         "[(doc_id % 5), 3, (n_chars % 7), 1]", TArr),
      Fz("range(modulo(doc_id, 6))", "range(doc_id % 6)", TArr),
      Fz("range(modulo(doc_id, 4), modulo(n_chars, 8))",
         "range(doc_id % 4, n_chars % 8)", TArr),
      Fz("arrayMap(v9 -> length(v9), splitByChar(' ', substring(text, 1, 24)))",
         "list_transform(string_split(substring(text, 1, 24), ' '), v9 -> length(v9))",
         TArr)))

    private def genArr(d: Int): Fz = {
      if (d >= 3 || rnd.nextInt(10) < 2 + 2 * d) return leaf()
      val v = s"v$d"
      pick(Seq[() => Fz](
        () => { val a = genArr(d + 1); val (cl, dl) = lam(v)
                Fz(s"arrayMap($cl, ${a.ch})", s"list_transform(${a.duck}, $dl)", TArr) },
        () => { val a = genArr(d + 1); val (cp, dp) = pred(v)
                Fz(s"arrayFilter($cp, ${a.ch})", s"list_filter(${a.duck}, $dp)", TArr) },
        () => { val a = genArr(d + 1)
                Fz(s"arraySort(${a.ch})", s"list_sort(${a.duck})", TArr) },
        () => { val a = genArr(d + 1)
                Fz(s"arrayReverseSort(${a.ch})",
                   s"list_reverse(list_sort(${a.duck}))", TArr) },
        () => { val a = genArr(d + 1)
                Fz(s"arrayReverse(${a.ch})", s"list_reverse(${a.duck})", TArr) },
        () => { val a = genArr(d + 1)
                Fz(s"arraySort(arrayDistinct(${a.ch}))",
                   s"list_sort(list_distinct(${a.duck}))", TArr) },
        () => { val a = genArr(d + 1); val b = genArr(d + 1)
                Fz(s"arrayConcat(${a.ch}, ${b.ch})",
                   s"list_concat(${a.duck}, ${b.duck})", TArr) },
        () => { val a = genArr(d + 1); val o = rnd.nextInt(3) + 1; val l = rnd.nextInt(4)
                Fz(s"arraySlice(${a.ch}, $o, $l)",
                   s"(${a.duck})[$o:${o + l - 1}]", TArr) },
        () => { val a = genArr(d + 1)
                Fz(s"arrayPopBack(${a.ch})",
                   s"(${a.duck})[1:greatest(len(${a.duck}) - 1, 0)]", TArr) },
        () => { val a = genArr(d + 1)
                Fz(s"arrayPopFront(${a.ch})", s"(${a.duck})[2:len(${a.duck})]", TArr) },
        () => { val a = genArr(d + 1)
                Fz(s"arrayCumSum(${a.ch})",
                   s"list_transform(generate_series(1, len(${a.duck})), " +
                     s"__i -> CAST(list_sum((${a.duck})[1:__i]) AS BIGINT))", TArr) },
        () => { val a = genArr(d + 1)
                Fz(s"arrayEnumerate(${a.ch})",
                   s"generate_series(1, len(${a.duck}))", TArr) }
      ))()
    }

    private def genInt(d: Int): Fz = {
      val a = genArr(d); val v = s"v$d"
      pick(Seq[() => Fz](
        () => Fz(s"toInt64(arraySum(${a.ch}))",
                 s"CAST(coalesce(list_sum(${a.duck}), 0) AS BIGINT)", TInt),
        () => Fz(s"length(${a.ch})", s"len(${a.duck})", TInt),
        () => Fz(s"arrayUniq(${a.ch})", s"len(list_distinct(${a.duck}))", TInt),
        () => { val (cp, dp) = pred(v)
                Fz(s"arrayCount($cp, ${a.ch})",
                   s"len(list_filter(${a.duck}, $dp))", TInt) },
        () => { val (cp, dp) = pred(v)
                Fz(s"arrayFirstIndex($cp, ${a.ch})",
                   s"coalesce(list_position(list_transform(${a.duck}, $dp), true), 0)", TInt) },
        () => Fz(s"arrayMin(arrayConcat(${a.ch}, [9]))",
                 s"list_min(list_concat(${a.duck}, [9]))", TInt),
        () => Fz(s"arrayMax(arrayConcat(${a.ch}, [9]))",
                 s"list_max(list_concat(${a.duck}, [9]))", TInt),
        // subscript: out-of-bounds returns the element-type DEFAULT (0)
        () => { val k = pick(Seq(-1, 1, 2, 3, 4, 5))
                Fz(s"(${a.ch})[$k]", s"coalesce((${a.duck})[$k], 0)", TInt) },
        // no-match returns the element-type DEFAULT (0), not NULL
        () => { val (cp, dp) = pred(v)
                Fz(s"arrayFirst($cp, ${a.ch})",
                   s"coalesce((list_filter(${a.duck}, $dp))[1], 0)", TInt) },
        () => { val (cp, dp) = pred(v)
                Fz(s"arrayLast($cp, ${a.ch})",
                   s"coalesce((list_filter(${a.duck}, $dp))[-1], 0)", TInt) }
      ))()
    }

    private def genBool(d: Int): Fz = {
      val a = genArr(d); val v = s"v$d"; val k = rnd.nextInt(5)
      pick(Seq[() => Fz](
        () => Fz(s"has(${a.ch}, $k)", s"list_contains(${a.duck}, $k)", TBool),
        () => { val (cp, dp) = pred(v)
                Fz(s"arrayExists($cp, ${a.ch})",
                   s"(len(list_filter(${a.duck}, $dp)) > 0)", TBool) },
        () => { val (cp, dp) = pred(v)
                Fz(s"arrayAll($cp, ${a.ch})",
                   s"(len(list_filter(${a.duck}, $dp)) = len(${a.duck}))", TBool) },
        () => { val b = genArr(d)
                Fz(s"hasAll(${a.ch}, ${b.ch})",
                   s"(len(list_filter(${b.duck}, v8 -> NOT list_contains(${a.duck}, v8))) = 0)",
                   TBool) }
      ))()
    }

    /** Top level: arrays render as '|'-joined strings via an arrayMap
      * toString (exercising one more lambda), scalars render directly. */
    def top(): Fz = rnd.nextInt(4) match {
      case 0 => genInt(0)
      case 1 => genBool(0)
      case _ =>
        val a = genArr(0)
        Fz(s"arrayStringConcat(arrayMap(v7 -> toString(v7), ${a.ch}), '|')",
           s"coalesce(array_to_string(${a.duck}, '|'), '')", TStr)
    }
  }

  def arrExprs(seed: Long, n: Int): Seq[Fz] = {
    val g = new ArrGen(seed)
    (0 until n).map(_ => g.top())
  }

  /** Map(String, Int64) fuzzing — CH map HOFs take the lambda FIRST and
    * tuple lambdas `(k, v) -> …`; DuckDB has no map lambdas at all, so
    * mirrors go through map_entries/list_* and back via
    * map_from_entries. Key-ORDER is never compared: mapUpdate keeps the
    * collision key at its original position in DuckDB but appends it in
    * our rewrite (both orders are valid — CH hash maps don't promise
    * one), so every rendering sorts keys first. Missing-key access
    * returns the VALUE-TYPE DEFAULT (arrayElement.cpp Zero mode), which
    * ch_element_at implements. */
  final class MapGen(seed: Long) {
    private val rnd = new Random(seed * 53 + 17)
    private def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.length))

    private def leaf(): Fz = pick(Seq(
      Fz("map('l', modulo(doc_id, 5), 's', modulo(n_chars, 7))",
         "MAP {'l': (doc_id % 5), 's': (n_chars % 7)}", TStr),
      Fz("map('a', 1, 'b', modulo(doc_id, 3))",
         "MAP {'a': 1, 'b': (doc_id % 3)}", TStr),
      Fz("mapFromArrays(['x', 'l'], [modulo(n_chars, 4), 2])",
         "map(['x', 'l'], [(n_chars % 4), 2])", TStr)))

    private def genMap(d: Int): Fz = {
      if (d >= 2 || rnd.nextInt(10) < 3 + 2 * d) return leaf()
      pick(Seq[() => Fz](
        () => { val m1 = genMap(d + 1); val m2 = genMap(d + 1)
                Fz(s"mapUpdate(${m1.ch}, ${m2.ch})",
                   s"map_concat(${m1.duck}, ${m2.duck})", TStr) },
        () => { val m = genMap(d + 1); val k = rnd.nextInt(4)
                Fz(s"mapFilter((k, v) -> (v > $k), ${m.ch})",
                   s"map_from_entries(list_filter(map_entries(${m.duck}), __e -> __e.value > $k))",
                   TStr) },
        () => { val m = genMap(d + 1); val k = rnd.nextInt(3) + 1
                Fz(s"mapApply((k, v) -> (k, v * $k), ${m.ch})",
                   s"map_from_entries(list_transform(map_entries(${m.duck}), __e -> row(__e.key, __e.value * $k)))",
                   TStr) }
      ))()
    }

    /** Scalar render: maps always sorted by key first. */
    def top(): Fz = {
      val m = genMap(0)
      rnd.nextInt(5) match {
        case 0 => Fz(s"length(${m.ch})", s"CAST(cardinality(${m.duck}) AS BIGINT)", TInt)
        case 1 => val k = pick(Seq("l", "s", "a", "zz"))
          Fz(s"mapContains(${m.ch}, '$k')",
             s"(len(element_at(${m.duck}, '$k')) > 0)", TBool)
        case 2 => val k = pick(Seq("l", "s", "a", "b", "zz"))
          // missing key -> value-type default (0), not NULL
          Fz(s"(${m.ch})['$k']",
             s"coalesce((element_at(${m.duck}, '$k'))[1], 0)", TInt)
        case 3 =>
          Fz(s"arrayStringConcat(arraySort(mapKeys(${m.ch})), ',')",
             s"coalesce(array_to_string(list_sort(map_keys(${m.duck})), ','), '')", TStr)
        case _ =>
          Fz(s"arrayStringConcat(arrayMap(__k -> concatWithSeparator(':', __k, " +
               s"toString((${m.ch})[__k])), arraySort(mapKeys(${m.ch}))), '|')",
             s"coalesce(array_to_string(list_transform(list_sort(map_keys(${m.duck})), " +
               s"__k -> __k || ':' || CAST((element_at(${m.duck}, __k))[1] AS VARCHAR)), '|'), '')",
             TStr)
      }
    }
  }

  def mapExprs(seed: Long, n: Int): Seq[Fz] = {
    val g = new MapGen(seed)
    (0 until n).map(_ => g.top())
  }

  /** JSON-function fuzzing — CH JSONExtract* and simpleJSON* return the
    * RESULT-TYPE DEFAULT (0 / '' / false) on missing keys or wrong
    * types (FunctionsJSON.cpp:167), never NULL or an error. The JSON
    * documents are assembled identically on both sides from row data
    * (only alphanumeric columns — no quoting hazards); mirrors use
    * DuckDB json_extract/json_extract_string with TRY_CAST (plain CAST
    * of json '"hello"' to BIGINT errors in DuckDB) and coalesce to the
    * CH defaults. */
  final class JsonGen(seed: Long) {
    private val rnd = new Random(seed * 61 + 11)
    private def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.length))

    /** One json document, rendered for both engines. */
    private def doc(): (String, String) = pick(Seq(
      (s"""concat('{"a": ', toString(modulo(doc_id, 5)), ', "s": "', lang, '", "arr": [1, 2, 3], "b": ', if(modulo(doc_id, 2) = 0, 'true', 'false'), '}')""",
       s"""('{"a": ' || CAST((doc_id % 5) AS VARCHAR) || ', "s": "' || lang || '", "arr": [1, 2, 3], "b": ' || (CASE WHEN (doc_id % 2) = 0 THEN 'true' ELSE 'false' END) || '}')"""),
      (s"""concat('{"n": {"x": ', toString(modulo(n_chars, 9)), '}, "s": "', source, '"}')""",
       s"""('{"n": {"x": ' || CAST((n_chars % 9) AS VARCHAR) || '}, "s": "' || source || '"}')""")))

    def top(): Fz = {
      val (cj, dj) = doc()
      val miss = rnd.nextBoolean()
      rnd.nextInt(7) match {
        case 0 => val k = if (miss) "z" else "a"
          Fz(s"JSONExtractInt($cj, '$k')",
             s"coalesce(TRY_CAST(json_extract($dj, '$$.$k') AS BIGINT), 0)", TInt)
        case 1 => val k = if (miss) "z" else "s"
          Fz(s"JSONExtractString($cj, '$k')",
             s"coalesce(json_extract_string($dj, '$$.$k'), '')", TStr)
        case 2 => val k = if (miss) "z" else "b"
          Fz(s"JSONExtractBool($cj, '$k')",
             s"coalesce(TRY_CAST(json_extract($dj, '$$.$k') AS BOOLEAN), false)", TBool)
        case 3 => val k = pick(Seq("a", "s", "z", "arr"))
          Fz(s"JSONHas($cj, '$k')",
             s"(json_extract($dj, '$$.$k') IS NOT NULL)", TBool)
        case 4 =>
          Fz(s"JSONLength($cj, 'arr')",
             s"coalesce(json_array_length($dj, '$$.arr'), 0)", TInt)
        case 5 => val k = if (miss) "z" else "a"
          Fz(s"simpleJSONExtractInt($cj, '$k')",
             s"coalesce(TRY_CAST(json_extract($dj, '$$.$k') AS BIGINT), 0)", TInt)
        case _ => // nested path: CH varargs keys -> $.n.x
          Fz(s"JSONExtractInt($cj, 'n', 'x')",
             s"coalesce(TRY_CAST(json_extract($dj, '$$.n.x') AS BIGINT), 0)", TInt)
      }
    }
  }

  def jsonExprs(seed: Long, n: Int): Seq[Fz] = {
    val g = new JsonGen(seed)
    (0 until n).map(_ => g.top())
  }

  /** UTF-8 byte-semantics fuzzing — the base CH string ops act on BYTES
    * (substring.cpp non-UTF8 path, position.cpp, reverse.cpp,
    * LowerUpperImpl.h ASCII-only fold, length.cpp) while the *UTF8
    * variants measure code points. Literals are precomposed-only (NFC)
    * with 1:1 case maps (no ß/İ) so DuckDB's grapheme-aware reverse and
    * Unicode upper/lower agree with Spark's code-point versions on the
    * UTF8-variant mirrors. Byte-based ops mirror in DuckDB as:
    *  - length -> strlen; position -> strlen of the char prefix + 1;
    *  - upper/lower -> translate over the ASCII alphabet;
    *  - byte substring: the GENERATOR knows each literal's per-char byte
    *    widths and only emits char-boundary-aligned (offset, len) pairs,
    *    mirrored with char-based substring (mid-char cuts are pinned in
    *    ChSqlSpec instead — their results are not valid UTF-8, which
    *    parquet/pandas can't round-trip);
    *  - byte reverse: hex(reverse(lit)) against a hex constant the
    *    generator computes by reversing the literal's UTF-8 bytes. */
  final class Utf8Gen(seed: Long) {
    private val rnd = new Random(seed * 73 + 41)
    private def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.length))

    private val lits = Seq("héllo", "wörld", "日本語テキスト", "naïve",
      "Привет мир", "mix日本ascii", "Ärger im Büro", "café au lait")
    private val needles = Seq("é", "本", "ï", "и", "ll", "ö", "ca", "zz")

    private def leaf(): Fz =
      if (rnd.nextInt(10) < 7) { val v = pick(lits); Fz(s"'$v'", s"'$v'", TStr) }
      else pick(Seq(
        Fz("lang", "lang", TStr),
        Fz("substringUTF8(text, 1, 12)", "substring(text, 1, 12)", TStr)))

    private val az = "abcdefghijklmnopqrstuvwxyz"
    private def duckAsciiLower(x: String) =
      s"translate($x, '${az.toUpperCase}', '$az')"
    private def duckAsciiUpper(x: String) =
      s"translate($x, '$az', '${az.toUpperCase}')"

    private def genStr(d: Int): Fz = {
      if (d >= 2 || rnd.nextInt(10) < 3 + 2 * d) return leaf()
      val a = genStr(d + 1)
      pick(Seq[() => Fz](
        () => { val b = genStr(d + 1)
                Fz(s"concat(${a.ch}, ${b.ch})", s"(${a.duck} || ${b.duck})", TStr) },
        () => Fz(s"lower(${a.ch})", duckAsciiLower(a.duck), TStr),
        () => Fz(s"upper(${a.ch})", duckAsciiUpper(a.duck), TStr),
        () => Fz(s"lowerUTF8(${a.ch})", s"lower(${a.duck})", TStr),
        () => Fz(s"upperUTF8(${a.ch})", s"upper(${a.duck})", TStr),
        () => Fz(s"reverseUTF8(${a.ch})", s"reverse(${a.duck})", TStr),
        () => { val p = rnd.nextInt(3) + 1; val l = rnd.nextInt(5)
                Fz(s"substringUTF8(${a.ch}, $p, $l)",
                   s"substring(${a.duck}, $p, $l)", TStr) },
        () => Fz(s"trim(${a.ch})", s"trim(${a.duck})", TStr)
      ))()
    }

    /** Char-boundary-aligned byte substring / hex byte-reverse over a
      * known literal. */
    private def litByteOp(): Fz = {
      val v = pick(lits)
      // BMP-only literals: one Scala char == one code point
      val widths = v.map(c => c.toString.getBytes("UTF-8").length)
      if (rnd.nextBoolean()) {
        val c1 = rnd.nextInt(v.length) + 1
        val span = rnd.nextInt(v.length - c1 + 2) // 0..len-c1+1
        val byteOff = 1 + widths.take(c1 - 1).sum
        val byteLen = widths.slice(c1 - 1, c1 - 1 + span).sum
        Fz(s"substring('$v', $byteOff, $byteLen)",
           s"substring('$v', $c1, $span)", TStr)
      } else {
        val hexRev = v.getBytes("UTF-8").reverse
          .map(b => f"${b & 0xff}%02X").mkString
        Fz(s"hex(reverse('$v'))", s"'$hexRev'", TStr)
      }
    }

    private def genInt(): Fz = {
      val a = genStr(0)
      pick(Seq[() => Fz](
        () => Fz(s"length(${a.ch})", s"strlen(${a.duck})", TInt),
        () => Fz(s"lengthUTF8(${a.ch})", s"length(${a.duck})", TInt),
        () => { val t = pick(needles)
                Fz(s"positionUTF8(${a.ch}, '$t')", s"strpos(${a.duck}, '$t')", TInt) },
        () => { val t = pick(needles); val at = s"strpos(${a.duck}, '$t')"
                Fz(s"position(${a.ch}, '$t')",
                   s"(CASE WHEN $at = 0 THEN 0 ELSE strlen(substring(${a.duck}, 1, $at - 1)) + 1 END)",
                   TInt) },
        () => { val t = pick(Seq("LL", "CA", "MIX", "AU")) // ASCII-cased needles
                val at = s"strpos(${duckAsciiLower(a.duck)}, ${duckAsciiLower(s"'$t'")})"
                Fz(s"positionCaseInsensitive(${a.ch}, '$t')",
                   s"(CASE WHEN $at = 0 THEN 0 ELSE strlen(substring(${a.duck}, 1, $at - 1)) + 1 END)",
                   TInt) }
      ))()
    }

    private def genBool(): Fz = {
      val a = genStr(0); val t = pick(needles)
      pick(Seq[() => Fz](
        () => Fz(s"startsWith(${a.ch}, '$t')", s"starts_with(${a.duck}, '$t')", TBool),
        () => Fz(s"endsWith(${a.ch}, '$t')", s"ends_with(${a.duck}, '$t')", TBool),
        () => Fz(s"(${a.ch} LIKE '%$t%')", s"(${a.duck} LIKE '%$t%')", TBool),
        () => { val b = genStr(0)
                Fz(s"(${a.ch} = ${b.ch})", s"(${a.duck} = ${b.duck})", TBool) }
      ))()
    }

    def top(): Fz = rnd.nextInt(5) match {
      case 0 => genInt()
      case 1 => genBool()
      case 2 => litByteOp()
      case _ => genStr(0)
    }
  }

  def utf8Exprs(seed: Long, n: Int): Seq[Fz] = {
    val g = new Utf8Gen(seed)
    (0 until n).map(_ => g.top())
  }

  /** Timestamp fuzzing over `events.ts` (microsecond TIMESTAMP) — the
    * sub-day time surface the date mode can't reach: toStartOfHour/
    * Minute/FifteenMinutes/FiveMinutes/TenMinutes/timeSlot bucketing,
    * add/subtract Hours/Minutes/Seconds, toHour/toMinute/toSecond,
    * toUnixTimestamp, toRelativeHour/MinuteNum, sub-day dateDiff, and
    * formatDateTime's MySQL-style format tokens. Both sessions run UTC
    * (Tables.session sets spark.sql.session.timeZone=UTC; DuckDB
    * timestamps are naive). Mirrors pinned:
    *  - epoch-bucket truncs (900/300/600/1800 s) mirror via
    *    make_timestamp(floor(epoch)::BIGINT // k * k * 1e6) — duck CAST
    *    to BIGINT ROUNDS, so floor() first (to_timestamp would return
    *    TIMESTAMPTZ, make_timestamp stays naive);
    *  - toUnixTimestamp truncates the fraction: floor(epoch(t));
    *  - dateDiff counts unit-boundary crossings on both engines;
    *  - renderings go through formatDateTime('%Y-%m-%d %H:%i:%S') vs
    *    strftime, dropping the µs fraction identically on both sides. */
  final class TsGen(seed: Long) {
    private val rnd = new Random(seed * 79 + 37)
    private def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.length))

    private def bucket(ch: String, secs: Long, a: Fz): Fz =
      Fz(s"$ch(${a.ch})",
         s"make_timestamp(((CAST(floor(epoch(${a.duck})) AS BIGINT) // $secs) * $secs) * 1000000)",
         TStr)

    def genTs(d: Int): Fz = {
      if (d >= 3 || rnd.nextInt(10) < 3) return Fz("ts", "ts", TStr)
      val a = genTs(d + 1)
      pick(Seq[() => Fz](
        () => Fz(s"toStartOfDay(${a.ch})", s"date_trunc('day', ${a.duck})", TStr),
        () => Fz(s"toStartOfHour(${a.ch})", s"date_trunc('hour', ${a.duck})", TStr),
        () => bucket("toStartOfMinute", 60L, a),
        () => bucket("toStartOfFiveMinutes", 300L, a),
        () => bucket("toStartOfTenMinutes", 600L, a),
        () => bucket("toStartOfFifteenMinutes", 900L, a),
        () => bucket("timeSlot", 1800L, a),
        () => { val k = rnd.nextInt(200) - 100
                Fz(s"addHours(${a.ch}, $k)", s"(${a.duck} + to_hours(CAST($k AS BIGINT)))", TStr) },
        () => { val k = rnd.nextInt(2000) - 1000
                Fz(s"addMinutes(${a.ch}, $k)", s"(${a.duck} + to_minutes(CAST($k AS BIGINT)))", TStr) },
        () => { val k = rnd.nextInt(20000) - 10000
                Fz(s"addSeconds(${a.ch}, $k)", s"(${a.duck} + to_seconds(CAST($k AS BIGINT)))", TStr) },
        () => { val k = rnd.nextInt(200) - 100
                Fz(s"subtractHours(${a.ch}, $k)", s"(${a.duck} - to_hours(CAST($k AS BIGINT)))", TStr) },
        () => { val k = rnd.nextInt(2000) - 1000
                Fz(s"subtractMinutes(${a.ch}, $k)", s"(${a.duck} - to_minutes(CAST($k AS BIGINT)))", TStr) },
        () => { val k = rnd.nextInt(20000) - 10000
                Fz(s"subtractSeconds(${a.ch}, $k)", s"(${a.duck} - to_seconds(CAST($k AS BIGINT)))", TStr) }
      ))()
    }

    def genInt(): Fz = {
      val a = genTs(0); val b = genTs(0)
      pick(Seq[() => Fz](
        () => Fz(s"toHour(${a.ch})", s"CAST(hour(${a.duck}) AS BIGINT)", TInt),
        () => Fz(s"toMinute(${a.ch})", s"CAST(minute(${a.duck}) AS BIGINT)", TInt),
        () => Fz(s"toSecond(${a.ch})", s"CAST(second(${a.duck}) AS BIGINT)", TInt),
        () => Fz(s"toUnixTimestamp(${a.ch})",
                 s"CAST(floor(epoch(${a.duck})) AS BIGINT)", TInt),
        () => Fz(s"toRelativeHourNum(${a.ch})",
                 s"(CAST(floor(epoch(${a.duck})) AS BIGINT) // 3600)", TInt),
        () => Fz(s"toRelativeMinuteNum(${a.ch})",
                 s"(CAST(floor(epoch(${a.duck})) AS BIGINT) // 60)", TInt),
        () => { val u = pick(Seq("hour", "minute", "second", "day"))
                Fz(s"dateDiff('$u', ${a.ch}, ${b.ch})",
                   s"CAST(date_diff('$u', ${a.duck}, ${b.duck}) AS BIGINT)", TInt) }
      ))()
    }

    def top(): Fz =
      if (rnd.nextBoolean()) genInt()
      else { val a = genTs(0)
        Fz(s"formatDateTime(${a.ch}, '%Y-%m-%d %H:%i:%S')",
           s"strftime(${a.duck}, '%Y-%m-%d %H:%M:%S')", TStr) }
  }

  def tsExprs(seed: Long, n: Int): Seq[Fz] = {
    val g = new TsGen(seed)
    (0 until n).map(_ => g.top())
  }

  def chTsSelect(batch: Seq[Fz], filter: String): String =
    s"SELECT event_id, ${batch.zipWithIndex.map { case (e, i) => s"${e.ch} AS c$i" }.mkString(", ")} " +
      s"FROM events WHERE $filter ORDER BY event_id"

  def duckTsSelect(batch: Seq[Fz], filter: String): String =
    s"SELECT event_id, ${batch.zipWithIndex.map { case (e, i) => s"${e.duck} AS c$i" }.mkString(", ")} " +
      s"FROM events WHERE $filter ORDER BY event_id"

  /** String->number parsing fuzzing — the to*OrZero/OrNull/OrDefault
    * family (reference FunctionsConversion.h ConvertThroughParsing:
    * full-consumption, no whitespace skip, single sign, checked
    * overflow; readFloatText.h exponents + case-insensitive inf/nan).
    * The pool is adversarial: partial parses ('42abc', '12.5' for
    * ints), whitespace, double signs, per-width overflow boundaries,
    * Java-isms CH rejects ('1.5d', '0x10'), inf/nan casings, non-ASCII
    * digits. The DuckDB mirror re-implements the CH contract with
    * regexp_full_match + TRY_CAST — independently of the Spark
    * template, so a bug in either side's guard shows as drift. NaN
    * results conflate with NULL in the exact comparator (both render
    * \\N) — the nan-pool rows are covered by ChSqlSpec instead. */
  final class ConvGen(seed: Long) {
    private val rnd = new Random(seed * 89 + 53)
    private def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.length))

    private val pool = Seq(
      "42", "+42", "-42", "0042", "-0042", "", " 42", "42 ", "4 2",
      "12.5", "-12.5", "12.", ".5", "-.5", "+-3", "--3", "3-", "42abc", "abc",
      "127", "128", "-128", "-129", "255", "256", "65535", "65536",
      "2147483647", "2147483648", "4294967295", "4294967296",
      "9223372036854775807", "9223372036854775808", "-9223372036854775808",
      "99999999999999999999", "1e3", "-1.5E2", "1e", "1e309", "1e-309",
      "inf", "INF", "Infinity", "-infinity", "+inf",
      "0x10", "1.5d", "1.5f", "½", "٤٢")

    private def strE(): (String, String) = rnd.nextInt(10) match {
      case 0 => ("toString(doc_id)", "CAST(doc_id AS VARCHAR)")
      case 1 =>
        val sfx = pick(Seq("", "", ".5", "e2", "abc", " "))
        (s"concat(toString(doc_id), '$sfx')",
         s"(CAST(doc_id AS VARCHAR) || '$sfx')")
      case 2 => ("toString(doc_id * -7)", "CAST(doc_id * -7 AS VARCHAR)")
      case _ => val v = pick(pool); (s"'$v'", s"'$v'")
    }

    private val intRe = "[+-]?[0-9]+"
    private val uintRe = "[+]?[0-9]+"
    private val fltRe = "[+-]?([0-9]+([.][0-9]*)?|[.][0-9]+)([eE][+-]?[0-9]+)?"
    private def dInt(s: String, t: String) =
      s"(CASE WHEN regexp_full_match($s, '$intRe') THEN TRY_CAST($s AS $t) END)"
    private def dUInt(s: String, mx: Long) =
      s"(CASE WHEN regexp_full_match($s, '$uintRe') AND TRY_CAST($s AS BIGINT) <= $mx " +
        s"THEN TRY_CAST($s AS BIGINT) END)"
    private def dFlt(s: String, t: String) =
      s"(CASE WHEN regexp_full_match($s, '[+-]?(?i)inf(inity)?') THEN " +
        s"(CASE WHEN $s LIKE '-%' THEN CAST('-inf' AS $t) ELSE CAST('inf' AS $t) END) " +
        s"WHEN regexp_full_match($s, '$fltRe') THEN TRY_CAST($s AS $t) END)"

    private val orNulls: Seq[(String, String => String)] = Seq(
      "toInt8OrNull" -> (dInt(_, "TINYINT")),
      "toInt16OrNull" -> (dInt(_, "SMALLINT")),
      "toInt32OrNull" -> (dInt(_, "INTEGER")),
      "toInt64OrNull" -> (dInt(_, "BIGINT")),
      "toUInt8OrNull" -> (dUInt(_, 255L)),
      "toUInt16OrNull" -> (dUInt(_, 65535L)),
      "toUInt32OrNull" -> (dUInt(_, 4294967295L)),
      "toUInt64OrNull" -> (dUInt(_, Long.MaxValue)),
      "toFloat32OrNull" -> (dFlt(_, "REAL")),
      "toFloat64OrNull" -> (dFlt(_, "DOUBLE")))
    // OrZero result keeps the target width on both sides
    private val zeroType = Map(
      "toInt8" -> "TINYINT", "toInt16" -> "SMALLINT", "toInt32" -> "INTEGER",
      "toInt64" -> "BIGINT", "toUInt8" -> "BIGINT", "toUInt16" -> "BIGINT",
      "toUInt32" -> "BIGINT", "toUInt64" -> "BIGINT",
      "toFloat32" -> "REAL", "toFloat64" -> "DOUBLE")

    def top(): Fz = {
      val (cs, ds) = strE()
      val (name, dk) = pick(orNulls)
      val base = name.stripSuffix("OrNull")
      rnd.nextInt(4) match {
        case 0 => Fz(s"$name($cs)", dk(ds), TInt)
        case 1 =>
          Fz(s"${base}OrZero($cs)",
             s"CAST(coalesce(${dk(ds)}, 0) AS ${zeroType(base)})", TInt)
        case 2 if Seq("toInt32", "toInt64", "toUInt64", "toFloat64").contains(base) =>
          Fz(s"${base}OrDefault($cs, ${if (base == "toFloat64") "2.5" else "doc_id"})",
             s"coalesce(${dk(ds)}, ${if (base == "toFloat64") "2.5" else "doc_id"})", TInt)
        case _ if !base.startsWith("toFloat") =>
          // int-only round-trip: float-to-string rendering differs by
          // engine ('Infinity' vs 'inf')
          Fz(s"toString(${base}OrZero($cs))",
             s"CAST(CAST(coalesce(${dk(ds)}, 0) AS ${zeroType(base)}) AS VARCHAR)", TStr)
        case _ => Fz(s"$name($cs)", dk(ds), TInt)
      }
    }
  }

  def convExprs(seed: Long, n: Int): Seq[Fz] = {
    val g = new ConvGen(seed)
    (0 until n).map(_ => g.top())
  }

  /** Round-10 conversion-tail fuzzing: the UUID/IPv4/Bool/Decimal/
    * wide-integer/accurateCast spellings added in batch 19. Every DuckDB
    * mirror re-implements the CH contract independently of the Spark
    * template (regexp_full_match + TRY_CAST + canonicalization), so
    * drift on either side shows up as a row diff. */
  final class Conv2Gen(seed: Long) {
    private val rnd = new Random(seed * 167 + 29)
    private def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.length))

    private val uuidPool = Seq(
      "a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11",
      "A0EEBC99-9C0B-4EF8-BB6D-6BB9BD380A11",
      "A0EEBC99-9C0B-4EF8-BB6D-6BB9BD380A1", // short
      "a0eebc999c0b4ef8bb6d6bb9bd380a11",    // no dashes
      "g0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11", // bad hex
      "", "not-a-uuid")
    private val ipPool = Seq(
      "1.2.3.4", "192.168.001.1", "255.255.255.255", "256.1.1.1",
      "1.2.3", "1.2.3.4.5", "01.2.3.4", "x.y.z.w", "", "10.0.0.999")
    private val boolPool = Seq(
      "true", "TRUE", "t", "yes", "on", "enable", "1",
      "false", "f", "no", "off", "disabled", "0",
      "2", "-3.5", "junk", "")
    private val decPool = Seq(
      "12.345", "-12.345", "0.005", "42", "1e2", "abc", "", "12.",
      "99999999999999999999", "170141183460469231731687303715884105727",
      "-99999999999999999999999999999999999999", "+7", " 7", "7 ")

    private val uuidRe =
      "[0-9A-Fa-f]{8}-[0-9A-Fa-f]{4}-[0-9A-Fa-f]{4}-[0-9A-Fa-f]{4}-[0-9A-Fa-f]{12}"
    private val zeroUuid = "00000000-0000-0000-0000-000000000000"

    def top(): Fz = rnd.nextInt(8) match {
      case 0 =>
        val v = pick(uuidPool)
        val duck = s"(CASE WHEN regexp_full_match('$v', '$uuidRe') THEN lower('$v') END)"
        if (rnd.nextBoolean()) Fz(s"toUUIDOrNull('$v')", duck, TStr)
        else Fz(s"toUUIDOrZero('$v')", s"coalesce($duck, '$zeroUuid')", TStr)
      case 1 =>
        val v = pick(ipPool)
        val oct = (i: Int) => s"TRY_CAST(string_split('$v', '.')[$i] AS INTEGER)"
        val duck = s"(CASE WHEN regexp_full_match('$v', '([0-9]{1,3}\\.){3}[0-9]{1,3}') " +
          s"AND ${oct(1)} <= 255 AND ${oct(2)} <= 255 AND ${oct(3)} <= 255 AND ${oct(4)} <= 255 " +
          s"THEN (${oct(1)} || '.' || ${oct(2)} || '.' || ${oct(3)} || '.' || ${oct(4)}) END)"
        if (rnd.nextBoolean()) Fz(s"toIPv4OrNull('$v')", duck, TStr)
        else Fz(s"toIPv4OrZero('$v')", s"coalesce($duck, '0.0.0.0')", TStr)
      case 2 =>
        val v = pick(boolPool)
        val duck = s"(CASE WHEN lower('$v') IN ('true','t','yes','y','on','enable','enabled','1') THEN true " +
          s"WHEN lower('$v') IN ('false','f','no','n','off','disable','disabled','0') THEN false " +
          s"WHEN TRY_CAST('$v' AS DOUBLE) IS NOT NULL THEN TRY_CAST('$v' AS DOUBLE) <> 0.0 END)"
        Fz(s"toBool('$v')", duck, TBool)
      case 3 =>
        val v = pick(decPool)
        val scale = rnd.nextInt(4)
        val (p, nm) = pick(Seq((9, "toDecimal32"), (18, "toDecimal64"), (38, "toDecimal128")))
        // toString both sides: decimal rendering is digit-exact
        Fz(s"toString(${nm}OrNull('$v', $scale))",
           s"CAST(TRY_CAST('$v' AS DECIMAL($p, $scale)) AS VARCHAR)", TStr)
      case 4 =>
        val v = pick(decPool)
        val unsigned = rnd.nextBoolean()
        val nm = if (unsigned) pick(Seq("toUInt128", "toUInt256")) else pick(Seq("toInt128", "toInt256"))
        val re = if (unsigned) "[+]?[0-9]+" else "[+-]?[0-9]+"
        Fz(s"toString(${nm}OrNull('$v'))",
           s"CAST(CASE WHEN regexp_full_match('$v', '$re') " +
             s"THEN TRY_CAST('$v' AS DECIMAL(38, 0)) END AS VARCHAR)", TStr)
      case 5 =>
        val (t, lo, hi) = pick(Seq(("UInt8", 0L, 255L), ("UInt16", 0L, 65535L),
          ("UInt32", 0L, 4294967295L)))
        val x = pick(Seq("doc_id", "(doc_id * 9)", "(doc_id - 70)", "(doc_id * 700001)"))
        Fz(s"accurateCastOrNull($x, '$t')",
           s"(CASE WHEN $x BETWEEN $lo AND $hi THEN CAST($x AS BIGINT) END)", TInt)
      case 6 =>
        val v = pick(Seq("42", "-1", "300", "70000", "abc", ""))
        val (nm, mx) = pick(Seq(("toUInt8", 255L), ("toUInt16", 65535L), ("toUInt32", 4294967295L)))
        val duck = s"(CASE WHEN regexp_full_match('$v', '[+]?[0-9]+') " +
          s"AND TRY_CAST('$v' AS BIGINT) <= $mx THEN TRY_CAST('$v' AS BIGINT) END)"
        Fz(s"${nm}OrDefault('$v', doc_id)", s"coalesce($duck, doc_id)", TInt)
      case _ =>
        // saturating date parse
        val v = pick(Seq("2020-06-15", "2500-01-01", "1800-01-01", "2020-13-40",
          "junk", "", "2020-06-15 10:00:00"))
        val duck = s"(CASE WHEN regexp_full_match('$v', '[0-9]{4}-[0-9]{2}-[0-9]{2}') " +
          s"THEN least(greatest(TRY_CAST('$v' AS DATE), DATE '1970-01-01'), DATE '2149-06-06') END)"
        if (rnd.nextBoolean())
          Fz(s"toString(toDateOrNull('$v'))", s"CAST($duck AS VARCHAR)", TStr)
        else
          Fz(s"toString(toDateOrZero('$v'))",
             s"CAST(coalesce($duck, DATE '1970-01-01') AS VARCHAR)", TStr)
    }
  }

  def conv2Exprs(seed: Long, n: Int): Seq[Fz] = {
    val g = new Conv2Gen(seed)
    (0 until n).map(_ => g.top())
  }

  /** Rounding-family fuzzing — round/roundBankers/floor/ceil/trunc with
    * positive and negative scales (reference FunctionsRound.h: floats
    * scale in BINARY FP — multiply, hardware-round with ties-to-even,
    * divide; integers use exact arithmetic with truncating division,
    * `round` ties away from zero, `roundBankers` ties to even). The
    * DuckDB mirror does NOT use round()/round_even() — it spells out the
    * same IEEE/integer arithmetic (floor-based ties-to-even CASE, `//`
    * truncating division, `& -2` parity), so both engines compute
    * bit-identical operation sequences and any drift is a template bug,
    * not FP noise. Pool is adversarial: representable ties (2.5, 0.125),
    * near-tie decimals whose binary scaling crosses the tie either way
    * (2.675*100 -> exactly 267.5, 0.29*100 -> 28.999...), magnitudes
    * beyond 2^52, integer ties at every width. */
  final class RoundGen(seed: Long) {
    private val rnd = new Random(seed * 131 + 17)
    private def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.length))
    private val fg = new FloatGen(seed * 131 + 18)

    private val dblPool = Seq(
      "2.5", "-2.5", "3.5", "0.5", "1.5", "4.5", "2.675", "1.005", "0.125",
      "0.135", "0.285", "0.29", "-2.31", "2.31", "99.995", "0.045", "-0.045",
      "1.335", "123456789.987654", "0.0", "1e15", "-1e15", "1e-7", "7.0")

    private def dblE(): (String, String) = rnd.nextInt(6) match {
      case 0 | 1 => val v = pick(dblPool); (v, s"CAST($v AS DOUBLE)")
      case 2 => ("(doc_id / 7.0)", "(doc_id / 7.0)")
      case 3 => ("(n_chars / 9.0)", "(n_chars / 9.0)")
      case 4 => ("(doc_id * 1.25 - 40.5)", "(CAST(doc_id AS DOUBLE) * 1.25 - 40.5)")
      case _ => val t = fg.gen(1); (t.ch, s"CAST(${t.duck} AS DOUBLE)")
    }

    private def p10(k: Int): String = "1" + "0" * k + ".0"
    // y scaled per CH FloatRoundingComputation: *s then op then /s (n>0),
    // /s then op then *s (n<0)
    private def scaled(x: String, n: Int, op: String => String): String =
      if (n == 0) op(x)
      else if (n > 0) s"(${op(s"($x * ${p10(n)})")} / ${p10(n)})"
      else s"(${op(s"($x / ${p10(-n)})")} * ${p10(-n)})"
    // IEEE ties-to-even integral rounding, spelled out (floor + parity)
    private def rint(y: String): String =
      s"(CASE WHEN ($y) - floor($y) > 0.5 THEN floor($y) + 1 " +
        s"WHEN ($y) - floor($y) < 0.5 THEN floor($y) " +
        s"WHEN (floor($y) % 2.0) = 0 THEN floor($y) ELSE floor($y) + 1 END)"

    private val intPool = Seq("25", "-25", "35", "-35", "45", "55", "1250",
      "12345", "99999", "123456789", "5", "-5", "0", "7", "-1050")
    private def intE(): (String, String) = rnd.nextInt(4) match {
      case 0 | 1 => val v = pick(intPool); (v, v)
      case 2 => ("(doc_id * 37)", "(doc_id * 37)")
      case _ => ("(doc_id - 50)", "(doc_id - 50)")
    }

    private def intMirror(x: String, s: Long, mode: String): String = {
      val h = s / 2
      def y = s"(CASE WHEN ($x) < 0 THEN ($x) - $s ELSE ($x) END)"
      mode match {
        case "trunc" => s"((($x) // $s) * $s)"
        case "floor" =>
          s"(((CASE WHEN ($x) < 0 THEN ($x) - ${s - 1} ELSE ($x) END) // $s) * $s)"
        case "ceil" =>
          s"(((CASE WHEN ($x) >= 0 THEN ($x) + ${s - 1} ELSE ($x) END) // $s) * $s)"
        case "round" => s"(((($y) + $h) // $s) * $s)"
        case _ => // bankers: q = (y+h)//s; tie -> (q + (y<0)) & ~1
          val q = s"((($y) + $h) // $s)"
          s"(CASE WHEN ($q) * $s = ($y) + $h THEN " +
            s"((($q) + (CASE WHEN ($y) < 0 THEN 1 ELSE 0 END)) & CAST(-2 AS BIGINT)) * $s " +
            s"ELSE ($q) * $s END)"
      }
    }

    def top(): Fz = rnd.nextInt(10) match {
      case 0 | 1 | 2 | 3 => // float path
        val (cx, dx) = dblE()
        val n = rnd.nextInt(11) - 4 // -4..6
        val scaleArg = if (n == 0 && rnd.nextBoolean()) "" else s", $n"
        rnd.nextInt(5) match {
          case 0 => Fz(s"round($cx$scaleArg)", scaled(dx, n, rint), TInt)
          case 1 => Fz(s"roundBankers($cx$scaleArg)", scaled(dx, n, rint), TInt)
          case 2 => Fz(s"floor($cx$scaleArg)", scaled(dx, n, y => s"floor($y)"), TInt)
          case 3 => Fz(s"ceil($cx$scaleArg)", scaled(dx, n, y => s"ceil($y)"), TInt)
          case _ => Fz(s"trunc($cx$scaleArg)", scaled(dx, n, y => s"trunc($y)"), TInt)
        }
      case 4 | 5 | 6 | 7 => // integer negative-scale path (BIGINT-safe pool)
        val (cx, dx) = intE()
        val k = rnd.nextInt(4) + 1 // scale -1..-4
        val s = math.pow(10, k).toLong
        val mode = pick(Seq("round", "bankers", "floor", "ceil", "trunc"))
        val chName = mode match {
          case "bankers" => "roundBankers"
          case "round" => "round"
          case m => m
        }
        Fz(s"$chName($cx, -$k)", intMirror(dx, s, mode), TInt)
      case 8 => // integer positive/zero scale = identity
        val (cx, dx) = intE()
        val n = rnd.nextInt(3)
        Fz(s"round($cx, $n)", s"($dx)", TInt)
      case _ => // roundDown
        val arr = Seq("0, 5, 17, 30", "2, 40, 41", "10, 100, 1000")(rnd.nextInt(3))
        val (cx, dx) = ("(doc_id % 77)", "(doc_id % 77)")
        Fz(s"roundDown($cx, [$arr])",
          s"coalesce(list_max(list_filter([$arr], __e -> __e <= $dx)), " +
            s"list_min([$arr]))", TInt)
    }
  }

  def roundExprs(seed: Long, n: Int): Seq[Fz] = {
    val g = new RoundGen(seed)
    (0 until n).map(_ => g.top())
  }

  /** NULL-propagation fuzzing — nullable leaves (`nullIf` over real
    * columns, conditional NULL injection) flow through the dialect
    * templates. Any template that papers over a function-name difference
    * with a CASE/coalesce rewrite can silently change NULL behavior;
    * this mode is aimed exactly there. Cross-engine semantics pinned:
    *  - modern CH least/greatest IGNORE row-level NULLs
    *    (LeastGreatestGeneric.h:72 skips onlyNull args, and the
    *    null_direction_hint in compareAt makes NULL rows lose), same as
    *    Spark's greatest/least and DuckDB/Postgres — direct mapping;
    *  - CH if()/multiIf treat a NULL condition as false (else branch) —
    *    identical to CASE WHEN in both engines;
    *  - ordinary functions (arithmetic, string ops, comparisons)
    *    NULL-propagate identically in all three engines;
    *  - AND/OR are three-valued identically;
    *  - DuckDB concat() SKIPS NULLs, so the duck mirror uses `||`
    *    (NULL-propagating, matching CH concat). */
  final class NullGen(seed: Long) {
    private val rnd = new Random(seed * 37 + 3)
    private def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.length))

    private def intLeaf(): Fz = pick(Seq(
      Fz("nullIf(modulo(doc_id, 5), 2)", "nullif((doc_id % 5), 2)", TInt),
      Fz("nullIf(modulo(n_chars, 7), 0)", "nullif((n_chars % 7), 0)", TInt),
      Fz("doc_id", "doc_id", TInt),
      Fz("if(modulo(doc_id, 3) = 0, NULL, doc_id)",
         "(CASE WHEN (doc_id % 3) = 0 THEN NULL ELSE doc_id END)", TInt)))

    private def strLeaf(): Fz = pick(Seq(
      Fz("nullIf(lang, 'en')", "nullif(lang, 'en')", TStr),
      Fz("nullIf(source, 'src3')", "nullif(source, 'src3')", TStr),
      Fz("lang", "lang", TStr),
      Fz("if(modulo(doc_id, 4) = 1, NULL, substring(text, 1, 8))",
         "(CASE WHEN (doc_id % 4) = 1 THEN NULL ELSE substring(text, 1, 8) END)", TStr)))

    private def genInt(d: Int): Fz = {
      val a = gen(TInt, d); val b = gen(TInt, d)
      pick(Seq[() => Fz](
        () => Fz(s"plus(${a.ch}, ${b.ch})",
                 s"(CAST(${a.duck} AS BIGINT) + CAST(${b.duck} AS BIGINT))", TInt),
        () => Fz(s"minus(${a.ch}, ${b.ch})",
                 s"(CAST(${a.duck} AS BIGINT) - CAST(${b.duck} AS BIGINT))", TInt),
        () => Fz(s"multiply(modulo(${a.ch}, 1000), modulo(${b.ch}, 1000))",
                 s"((${a.duck} % 1000) * (${b.duck} % 1000))", TInt),
        () => Fz(s"intDiv(abs(${a.ch}), plus(modulo(abs(${b.ch}), 7), 1))",
                 s"(abs(${a.duck}) // ((abs(${b.duck}) % 7) + 1))", TInt),
        () => Fz(s"abs(${a.ch})", s"abs(${a.duck})", TInt),
        () => Fz(s"greatest(${a.ch}, ${b.ch})", s"greatest(${a.duck}, ${b.duck})", TInt),
        () => Fz(s"least(${a.ch}, ${b.ch})", s"least(${a.duck}, ${b.duck})", TInt),
        () => Fz(s"ifNull(${a.ch}, ${b.ch})", s"coalesce(${a.duck}, ${b.duck})", TInt),
        () => Fz(s"nullIf(${a.ch}, ${b.ch})", s"nullif(${a.duck}, ${b.duck})", TInt),
        () => { val s = gen(TStr, d); Fz(s"length(${s.ch})", s"length(${s.duck})", TInt) },
        () => { val s = gen(TStr, d); val t = pick(strTokens)
                Fz(s"position(${s.ch}, '$t')", s"strpos(${s.duck}, '$t')", TInt) },
        () => { val c = genBool(d)
                Fz(s"if(${c.ch}, ${a.ch}, ${b.ch})",
                   s"(CASE WHEN ${c.duck} THEN ${a.duck} ELSE ${b.duck} END)", TInt) }
      ))()
    }

    private def genStr(d: Int): Fz = {
      val a = gen(TStr, d)
      pick(Seq[() => Fz](
        () => Fz(s"lower(${a.ch})", s"lower(${a.duck})", TStr),
        () => Fz(s"upper(${a.ch})", s"upper(${a.duck})", TStr),
        () => Fz(s"reverse(${a.ch})", s"reverse(${a.duck})", TStr),
        () => Fz(s"trim(${a.ch})", s"trim(${a.duck})", TStr),
        () => { val b = gen(TStr, d)
                Fz(s"concat(${a.ch}, ${b.ch})", s"(${a.duck} || ${b.duck})", TStr) },
        () => { val p = rnd.nextInt(5) + 1; val l = rnd.nextInt(9)
                Fz(s"substring(${a.ch}, $p, $l)", s"substring(${a.duck}, $p, $l)", TStr) },
        () => { val b = gen(TStr, d)
                Fz(s"ifNull(${a.ch}, ${b.ch})", s"coalesce(${a.duck}, ${b.duck})", TStr) },
        () => { val b = gen(TStr, d)
                Fz(s"nullIf(${a.ch}, ${b.ch})", s"nullif(${a.duck}, ${b.duck})", TStr) },
        () => { val i = gen(TInt, d)
                Fz(s"toString(${i.ch})", s"CAST(${i.duck} AS VARCHAR)", TStr) },
        () => { val c = genBool(d); val b = gen(TStr, d)
                Fz(s"if(${c.ch}, ${a.ch}, ${b.ch})",
                   s"(CASE WHEN ${c.duck} THEN ${a.duck} ELSE ${b.duck} END)", TStr) }
      ))()
    }

    private def genBool(d: Int): Fz = {
      val cmp = Seq(("=", "="), ("!=", "<>"), ("<", "<"), (">", ">"))
      pick(Seq[() => Fz](
        () => { val a = gen(TInt, d); val b = gen(TInt, d); val (c1, c2) = pick(cmp)
                Fz(s"(${a.ch} $c1 ${b.ch})", s"(${a.duck} $c2 ${b.duck})", TBool) },
        () => { val a = gen(TStr, d); val b = gen(TStr, d); val (c1, c2) = pick(cmp)
                Fz(s"(${a.ch} $c1 ${b.ch})", s"(${a.duck} $c2 ${b.duck})", TBool) },
        () => { val a = gen(TInt, d)
                Fz(s"isNull(${a.ch})", s"(${a.duck} IS NULL)", TBool) },
        () => { val a = gen(TStr, d)
                Fz(s"isNotNull(${a.ch})", s"(${a.duck} IS NOT NULL)", TBool) },
        () => { val s = gen(TStr, d); val t = pick(strTokens)
                Fz(s"startsWith(${s.ch}, '$t')", s"starts_with(${s.duck}, '$t')", TBool) },
        () => { val s = gen(TStr, d); val t = pick(strTokens)
                Fz(s"endsWith(${s.ch}, '$t')", s"ends_with(${s.duck}, '$t')", TBool) },
        () => { val s = gen(TStr, d); val t = pick(strTokens)
                Fz(s"(${s.ch} LIKE '%$t%')", s"(${s.duck} LIKE '%$t%')", TBool) },
        () => { if (d >= 3) { val a = gen(TInt, d); Fz(s"(${a.ch} > 0)", s"(${a.duck} > 0)", TBool) }
                else { val a = genBool(d + 1); val b = genBool(d + 1)
                val op = pick(Seq("AND", "OR"))
                Fz(s"(${a.ch} $op ${b.ch})", s"(${a.duck} $op ${b.duck})", TBool) } },
        () => { if (d >= 3) { val a = gen(TInt, d); Fz(s"(${a.ch} = 0)", s"(${a.duck} = 0)", TBool) }
                else { val a = genBool(d + 1); Fz(s"(NOT ${a.ch})", s"(NOT ${a.duck})", TBool) } }
      ))()
    }

    def gen(t: Tpe, d: Int): Fz =
      if (d >= 3 || rnd.nextInt(10) < 2 + d) (t match {
        case TInt => intLeaf()
        case TStr => strLeaf()
        case _ => genBool(3)
      })
      else t match {
        case TInt => genInt(d + 1)
        case TStr => genStr(d + 1)
        case _ => genBool(d + 1)
      }

    def top(): Fz = gen(pick(Seq(TInt, TStr, TBool)), 0)
  }

  def nullExprs(seed: Long, n: Int): Seq[Fz] = {
    val g = new NullGen(seed)
    (0 until n).map(_ => g.top())
  }

  /** CH truthiness / C-ternary / map-literal / Float32-vs-literal fuzzing
    * over the round-12 dialect surface: numeric-as-boolean through
    * if()/AND/OR/NOT (ChBooleanCoercion), `cond ? a : b` with conditions
    * that include IN-lists (ternary binds loosest — reference
    * ParserTernaryOperatorExpression), map literals `{k: v}` with
    * duplicate keys (first-match lookup, reference arrayElement.cpp) and
    * missing-key value-type defaults, and Float32 = Float64-literal
    * comparisons narrowed to Float32 (the reference's #58680 fix). The
    * DuckDB mirror spells every coercion explicitly (`<>0`, CASE WHEN,
    * CAST AS REAL). Inputs are the fixture's NON-NULL int columns so the
    * truthiness mirror never meets three-valued logic. */
  final class CondGen(seed: Long) {
    private val rnd = new Random(seed * 101 + 37)
    private def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.length))

    private def num(): Fz = rnd.nextInt(4) match {
      case 0 => val m = rnd.nextInt(6) + 2
        Fz(s"(doc_id % $m)", s"(doc_id % $m)", TInt)
      case 1 => val m = rnd.nextInt(6) + 2
        Fz(s"(n_chars % $m)", s"(n_chars % $m)", TInt)
      case 2 => val v = rnd.nextInt(5) - 2
        Fz(v.toString, v.toString, TInt)
      case _ => val m = rnd.nextInt(5) + 2
        Fz(s"(doc_id % $m - 1)", s"(doc_id % $m - 1)", TInt)
    }

    private def cmp(): (String, String) = {
      val a = num(); val b = num()
      val op = pick(Seq("=", "<", ">", "<=", ">=", "!="))
      (s"(${a.ch} $op ${b.ch})",
        s"(${a.duck} ${if (op == "!=") "<>" else op} ${b.duck})")
    }

    /** A CH condition (numeric operands are truthy) and its explicit
      * duck boolean mirror. */
    private def cond(depth: Int): (String, String) =
      rnd.nextInt(if (depth >= 1) 4 else 6) match {
        case 0 => val x = num(); (x.ch, s"((${x.duck}) <> 0)")
        case 1 => cmp()
        case 2 =>
          val x = num()
          val set = (0 to rnd.nextInt(3)).map(_ => rnd.nextInt(7))
            .distinct.mkString(", ")
          (s"${x.ch} IN ($set)", s"(${x.duck} IN ($set))")
        case 3 => val x = num(); (s"NOT ${x.ch}", s"(NOT ((${x.duck}) <> 0))")
        case 4 =>
          val (c1, d1) = cond(depth + 1); val (c2, d2) = cond(depth + 1)
          (s"($c1 AND $c2)", s"($d1 AND $d2)")
        case _ =>
          val (c1, d1) = cond(depth + 1); val (c2, d2) = cond(depth + 1)
          (s"($c1 OR $c2)", s"($d1 OR $d2)")
      }

    private val fracs = Seq("0.1", "0.2", "0.3", "0.7", "0.9")

    def top(): Fz = rnd.nextInt(7) match {
      case 0 => // if() with a truthy condition
        val (c, d) = cond(0); val a = num(); val b = num()
        Fz(s"if($c, ${a.ch}, ${b.ch})",
          s"(CASE WHEN $d THEN ${a.duck} ELSE ${b.duck} END)", TInt)
      case 1 => // C-ternary; cond binds loosest (incl. IN-list conds)
        val (c, d) = cond(0); val a = num(); val b = num()
        Fz(s"($c ? ${a.ch} : ${b.ch})",
          s"(CASE WHEN $d THEN ${a.duck} ELSE ${b.duck} END)", TInt)
      case 2 => // nested ternary in the THEN arm
        val (c1, d1) = cond(0); val (c2, d2) = cond(1)
        val a = num(); val b = num(); val e = num()
        Fz(s"($c1 ? (${c2} ? ${a.ch} : ${b.ch}) : ${e.ch})",
          s"(CASE WHEN $d1 THEN (CASE WHEN $d2 THEN ${a.duck} ELSE ${b.duck} END) ELSE ${e.duck} END)",
          TInt)
      case 3 => // bare logical over numerics returns a boolean column
        val x = num(); val y = num()
        val (chE, duE) =
          if (rnd.nextBoolean())
            (s"(${x.ch} AND ${y.ch})",
              s"(((${x.duck}) <> 0) AND ((${y.duck}) <> 0))")
          else
            (s"(${x.ch} OR ${y.ch})",
              s"(((${x.duck}) <> 0) OR ((${y.duck}) <> 0))")
        Fz(chE, duE, TBool)
      case 4 => // string-valued map literal lookup, maybe duplicate keys
        val nEnt = rnd.nextInt(2) + 2
        val ks = (0 until nEnt).map(_ => rnd.nextInt(4)).distinct
        val vs = ks.map(_ => pick(strTokens))
        val dup = rnd.nextBoolean() // duplicate of the FIRST key loses
        val entries = ks.zip(vs) ++
          (if (dup) Seq(ks.head -> pick(strTokens)) else Nil)
        val m = rnd.nextInt(5) + 2
        val keyCh = s"(n_chars % $m)"
        val chMap = entries.map { case (k, v) => s"$k: '$v'" }.mkString(", ")
        val duckCases = ks.zip(vs)
          .map { case (k, v) => s"WHEN $k THEN '$v'" }.mkString(" ")
        Fz(s"{$chMap}[$keyCh]",
          s"(CASE (n_chars % $m) $duckCases ELSE '' END)", TStr)
      case 5 => // int-valued map literal lookup; missing key -> 0 default
        val ks = (0 until rnd.nextInt(2) + 2).map(_ => rnd.nextInt(4)).distinct
        val vs = ks.map(_ => rnd.nextInt(90) + 10)
        val m = rnd.nextInt(5) + 2
        val chMap = ks.zip(vs).map { case (k, v) => s"$k: $v" }.mkString(", ")
        val duckCases = ks.zip(vs)
          .map { case (k, v) => s"WHEN $k THEN $v" }.mkString(" ")
        Fz(s"{$chMap}[(doc_id % $m)]",
          s"(CASE (doc_id % $m) $duckCases ELSE 0 END)", TInt)
      case _ => // Float32 column vs Float64 query literal: CH narrows the
        // LITERAL to Float32 (#58680); duck mirrors with CAST AS REAL
        val m = rnd.nextInt(7) + 2
        val frac = pick(fracs)
        val lit = s"${rnd.nextInt(m)}$frac".replace("0.", ".")
        val op = pick(Seq("=", "!=", "<", ">="))
        Fz(s"(toFloat32(n_chars % $m + $frac) $op $lit)",
          s"(CAST(n_chars % $m + $frac AS REAL) ${if (op == "!=") "<>" else op} CAST($lit AS REAL))",
          TBool)
    }
  }

  def condExprs(seed: Long, n: Int): Seq[Fz] = {
    val g = new CondGen(seed)
    (0 until n).map(_ => g.top())
  }

  def chDateSelect(batch: Seq[Fz], filter: String): String =
    s"SELECT o_orderkey, ${batch.zipWithIndex.map { case (e, i) => s"${e.ch} AS c$i" }.mkString(", ")} " +
      s"FROM orders WHERE $filter ORDER BY o_orderkey"

  def duckDateSelect(batch: Seq[Fz], filter: String): String =
    s"SELECT o_orderkey, ${batch.zipWithIndex.map { case (e, i) => s"${e.duck} AS c$i" }.mkString(", ")} " +
      s"FROM orders WHERE $filter ORDER BY o_orderkey"

  def chAggSelect(a: AggFz): String =
    s"SELECT ${a.chKey} AS k, ${a.chCols.mkString(", ")} FROM documents GROUP BY ${a.chKey} ORDER BY k"

  def duckAggSelect(a: AggFz): String =
    s"SELECT ${a.duckKey} AS k, ${a.duckCols.mkString(", ")} FROM documents GROUP BY ${a.duckKey} ORDER BY k"

  /** Batch k expressions into one SELECT (c0..c{k-1}) over documents. */
  def chSelect(batch: Seq[Fz], filter: String): String =
    s"SELECT doc_id, ${batch.zipWithIndex.map { case (e, i) => s"${e.ch} AS c$i" }.mkString(", ")} " +
      s"FROM documents WHERE $filter ORDER BY doc_id"

  def duckSelect(batch: Seq[Fz], filter: String): String =
    s"SELECT doc_id, ${batch.zipWithIndex.map { case (e, i) => s"${e.duck} AS c$i" }.mkString(", ")} " +
      s"FROM documents WHERE $filter ORDER BY doc_id"

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** One fuzzed SELECT of `FuzzDialectSpec`: its tag (`batch 3`), the
    * dialect and DuckDB texts, the key column its rows are matched on,
    * and whether its values compare with a float tolerance. */
  final case class SpecCase(tag: String, ch: String, duck: String, key: String, float: Boolean)

  /** FuzzDialectSpec's own seed-8 queries over sf0.001. Their DuckDB
    * values are recorded in src/test/resources/fuzz_seed8_values.tsv
    * (`FuzzDialect --spec-cases` writes the manifest that
    * `tools/fuzz_check.py --record` replays). */
  def specCases: Seq[SpecCase] = {
    def scalar(kind: String, fzs: Seq[Fz], size: Int): Seq[SpecCase] =
      fzs.grouped(size).zipWithIndex.map { case (b, i) =>
        SpecCase(s"$kind $i", chSelect(b, "doc_id < 20"), duckSelect(b, "doc_id < 20"), "doc_id", float = false)
      }.toSeq
    scalar("batch", exprs(8L, 1000), 50) ++
      aggQueries(8L, 20).take(5).zipWithIndex.map { case (a, i) =>
        SpecCase(s"agg $i", chAggSelect(a), duckAggSelect(a), "k", float = false)
      } ++
      dateExprs(8L, 100).grouped(25).zipWithIndex.map { case (b, i) =>
        SpecCase(s"date $i", chDateSelect(b, "o_orderkey < 50"),
          duckDateSelect(b, "o_orderkey < 50"), "o_orderkey", float = false)
      } ++
      floatExprs(8L, 100).grouped(25).zipWithIndex.map { case (b, i) =>
        SpecCase(s"float $i", chFloatSelect(b, "doc_id < 20"),
          duckFloatSelect(b, "doc_id < 20"), "doc_id", float = true)
      } ++
      scalar("null", nullExprs(8L, 100), 25) ++ scalar("arr", arrExprs(8L, 100), 25) ++
      scalar("map", mapExprs(8L, 100), 25) ++ scalar("json", jsonExprs(8L, 100), 25) ++
      scalar("utf8", utf8Exprs(8L, 100), 25) ++
      tsExprs(8L, 100).grouped(25).zipWithIndex.map { case (b, i) =>
        SpecCase(s"ts $i", chTsSelect(b, "event_id < 50"),
          duckTsSelect(b, "event_id < 50"), "event_id", float = false)
      } ++
      scalar("rnd", roundExprs(8L, 100), 25) ++ scalar("conv", convExprs(8L, 100), 25)
  }

  /** main: evaluate `n` expressions through ChSql/Spark in batches of 25,
    * write each batch's result parquet + a manifest with the DuckDB SQL
    * for tools/fuzz_check.py to replay. Args: [seed] [n] [sfDir] [outDir]. */
  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--spec-cases")) {
      // the manifest of FuzzDialectSpec's queries, for fuzz_check.py --record
      val cases = specCases.map(c =>
        s"""{"tag":${jsonStr(c.tag)},"duck":${jsonStr(c.duck)},"key":${jsonStr(c.key)},"float":${c.float}}""")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(args(1)), cases.mkString("[", ",\n", "]"))
      println(s"[fuzz] ${cases.size} spec cases -> ${args(1)}")
      return
    }
    val seed = args.headOption.map(_.toLong).getOrElse(8L)
    val n = args.lift(1).map(_.toInt).getOrElse(1000)
    val sfDir = args.lift(2).getOrElse("/root/testdata/sf0.01")
    val outDir = args.lift(3).getOrElse("/tmp/fuzz_out")
    val filter = "doc_id < 100"
    val spark = graft.core.Tables.session("local[8]", 8)
    val all = exprs(seed, n)
    val batches = all.grouped(25).toSeq
    val manifest = new StringBuilder("[")
    batches.zipWithIndex.foreach { case (b, i) =>
      val df: DataFrame =
        try graft.sqlfront.ChSql.sql(spark, sfDir, chSelect(b, filter))
        catch { case e: Throwable =>
          System.err.println(s"[fuzz] batch $i FAILED translating/analyzing:")
          b.foreach(f => System.err.println(s"  CH: ${f.ch}"))
          throw e
        }
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/batch_$i")
      if (i > 0) manifest.append(",")
      manifest.append(s"""{"batch":$i,"duck":${jsonStr(duckSelect(b, filter))},"ch":${jsonStr(chSelect(b, filter))}}""")
      println(s"[fuzz] batch $i: ${b.length} exprs evaluated")
    }
    // GROUP BY aggregate fuzzing: n/10 queries, 4 agg columns each, over
    // the dialect agg surface (sum/min/max/countIf/sumIf/uniqExact/
    // groupBit*) — order-independent aggregates only, so compares are
    // exact. Scalar-expression arguments come from the same generator.
    val aggs = aggQueries(seed * 17 + 3, math.max(1, n / 10))
    aggs.zipWithIndex.foreach { case (a, i) =>
      val df =
        try graft.sqlfront.ChSql.sql(spark, sfDir, chAggSelect(a))
        catch { case e: Throwable =>
          System.err.println(s"[fuzz] agg $i FAILED: ${chAggSelect(a)}")
          throw e
        }
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/agg_$i")
      manifest.append(",")
      manifest.append(s"""{"agg":$i,"duck":${jsonStr(duckAggSelect(a))},"ch":${jsonStr(chAggSelect(a))}}""")
    }
    println(s"[fuzz] ${aggs.size} agg queries evaluated")
    // date/time expression fuzzing over orders (n/4 exprs, batches of 25)
    val dates = dateExprs(seed * 7 + 11, math.max(1, n / 4)).grouped(25).toSeq
    val dateFilter = "o_orderkey < 400"
    dates.zipWithIndex.foreach { case (b, i) =>
      val df =
        try graft.sqlfront.ChSql.sql(spark, sfDir, chDateSelect(b, dateFilter))
        catch { case e: Throwable =>
          System.err.println(s"[fuzz] date batch $i FAILED:")
          b.foreach(f => System.err.println(s"  CH: ${f.ch}"))
          throw e
        }
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/date_$i")
      manifest.append(",")
      manifest.append(s"""{"date":$i,"duck":${jsonStr(duckDateSelect(b, dateFilter))},"ch":${jsonStr(chDateSelect(b, dateFilter))}}""")
    }
    println(s"[fuzz] ${dates.map(_.size).sum} date exprs evaluated")
    // float expression fuzzing (n/4 exprs, tolerance-compared)
    val floats = floatExprs(seed * 29 + 1, math.max(1, n / 4)).grouped(25).toSeq
    floats.zipWithIndex.foreach { case (b, i) =>
      val df =
        try graft.sqlfront.ChSql.sql(spark, sfDir, chFloatSelect(b, filter))
        catch { case e: Throwable =>
          System.err.println(s"[fuzz] float batch $i FAILED:")
          b.foreach(f => System.err.println(s"  CH: ${f.ch}"))
          throw e
        }
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/float_$i")
      manifest.append(",")
      manifest.append(s"""{"float":$i,"duck":${jsonStr(duckFloatSelect(b, filter))},"ch":${jsonStr(chFloatSelect(b, filter))}}""")
    }
    println(s"[fuzz] ${floats.map(_.size).sum} float exprs evaluated")
    // NULL-propagation fuzzing (n/4 exprs, exact-compared)
    val nulls = nullExprs(seed * 41 + 13, math.max(1, n / 4)).grouped(25).toSeq
    nulls.zipWithIndex.foreach { case (b, i) =>
      val df =
        try graft.sqlfront.ChSql.sql(spark, sfDir, chSelect(b, filter))
        catch { case e: Throwable =>
          System.err.println(s"[fuzz] null batch $i FAILED:")
          b.foreach(f => System.err.println(s"  CH: ${f.ch}"))
          throw e
        }
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/null_$i")
      manifest.append(",")
      manifest.append(s"""{"null":$i,"duck":${jsonStr(duckSelect(b, filter))},"ch":${jsonStr(chSelect(b, filter))}}""")
    }
    println(s"[fuzz] ${nulls.map(_.size).sum} null exprs evaluated")
    // array / higher-order-function fuzzing (n/4 exprs, exact-compared)
    val arrs = arrExprs(seed * 47 + 5, math.max(1, n / 4)).grouped(25).toSeq
    arrs.zipWithIndex.foreach { case (b, i) =>
      val df =
        try graft.sqlfront.ChSql.sql(spark, sfDir, chSelect(b, filter))
        catch { case e: Throwable =>
          System.err.println(s"[fuzz] arr batch $i FAILED:")
          b.foreach(f => System.err.println(s"  CH: ${f.ch}"))
          throw e
        }
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/arr_$i")
      manifest.append(",")
      manifest.append(s"""{"arr":$i,"duck":${jsonStr(duckSelect(b, filter))},"ch":${jsonStr(chSelect(b, filter))}}""")
    }
    println(s"[fuzz] ${arrs.map(_.size).sum} array exprs evaluated")
    // map fuzzing (n/4 exprs, exact-compared, key-sorted renderings)
    val maps = mapExprs(seed * 59 + 7, math.max(1, n / 4)).grouped(25).toSeq
    maps.zipWithIndex.foreach { case (b, i) =>
      val df =
        try graft.sqlfront.ChSql.sql(spark, sfDir, chSelect(b, filter))
        catch { case e: Throwable =>
          System.err.println(s"[fuzz] map batch $i FAILED:")
          b.foreach(f => System.err.println(s"  CH: ${f.ch}"))
          throw e
        }
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/map_$i")
      manifest.append(",")
      manifest.append(s"""{"map":$i,"duck":${jsonStr(duckSelect(b, filter))},"ch":${jsonStr(chSelect(b, filter))}}""")
    }
    println(s"[fuzz] ${maps.map(_.size).sum} map exprs evaluated")
    // JSON-function fuzzing (n/4 exprs, exact-compared)
    val jsons = jsonExprs(seed * 67 + 19, math.max(1, n / 4)).grouped(25).toSeq
    jsons.zipWithIndex.foreach { case (b, i) =>
      val df =
        try graft.sqlfront.ChSql.sql(spark, sfDir, chSelect(b, filter))
        catch { case e: Throwable =>
          System.err.println(s"[fuzz] json batch $i FAILED:")
          b.foreach(f => System.err.println(s"  CH: ${f.ch}"))
          throw e
        }
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/json_$i")
      manifest.append(",")
      manifest.append(s"""{"json":$i,"duck":${jsonStr(duckSelect(b, filter))},"ch":${jsonStr(chSelect(b, filter))}}""")
    }
    println(s"[fuzz] ${jsons.map(_.size).sum} json exprs evaluated")
    // UTF-8 byte-semantics fuzzing (n/4 exprs, exact-compared)
    val utf8s = utf8Exprs(seed * 71 + 23, math.max(1, n / 4)).grouped(25).toSeq
    utf8s.zipWithIndex.foreach { case (b, i) =>
      val df =
        try graft.sqlfront.ChSql.sql(spark, sfDir, chSelect(b, filter))
        catch { case e: Throwable =>
          System.err.println(s"[fuzz] utf8 batch $i FAILED:")
          b.foreach(f => System.err.println(s"  CH: ${f.ch}"))
          throw e
        }
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/utf8_$i")
      manifest.append(",")
      manifest.append(s"""{"utf8":$i,"duck":${jsonStr(duckSelect(b, filter))},"ch":${jsonStr(chSelect(b, filter))}}""")
    }
    println(s"[fuzz] ${utf8s.map(_.size).sum} utf8 exprs evaluated")
    // timestamp fuzzing over events (n/4 exprs, exact-compared)
    val tss = tsExprs(seed * 83 + 29, math.max(1, n / 4)).grouped(25).toSeq
    val tsFilter = "event_id < 400"
    tss.zipWithIndex.foreach { case (b, i) =>
      val df =
        try graft.sqlfront.ChSql.sql(spark, sfDir, chTsSelect(b, tsFilter))
        catch { case e: Throwable =>
          System.err.println(s"[fuzz] ts batch $i FAILED:")
          b.foreach(f => System.err.println(s"  CH: ${f.ch}"))
          throw e
        }
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/ts_$i")
      manifest.append(",")
      manifest.append(s"""{"ts":$i,"duck":${jsonStr(duckTsSelect(b, tsFilter))},"ch":${jsonStr(chTsSelect(b, tsFilter))}}""")
    }
    println(s"[fuzz] ${tss.map(_.size).sum} ts exprs evaluated")
    // string->number conversion-parsing fuzzing (n/4 exprs, exact-compared)
    val convs = convExprs(seed * 91 + 31, math.max(1, n / 4)).grouped(25).toSeq
    convs.zipWithIndex.foreach { case (b, i) =>
      val df =
        try graft.sqlfront.ChSql.sql(spark, sfDir, chSelect(b, filter))
        catch { case e: Throwable =>
          System.err.println(s"[fuzz] conv batch $i FAILED:")
          b.foreach(f => System.err.println(s"  CH: ${f.ch}"))
          throw e
        }
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/conv_$i")
      manifest.append(",")
      manifest.append(s"""{"conv":$i,"duck":${jsonStr(duckSelect(b, filter))},"ch":${jsonStr(chSelect(b, filter))}}""")
    }
    println(s"[fuzz] ${convs.map(_.size).sum} conv exprs evaluated")
    // round-10 conversion-tail fuzzing (UUID/IPv4/Bool/Decimal/wide-int/
    // accurateCast/saturating-date; n/4 exprs, exact-compared)
    val conv2s = conv2Exprs(seed * 193 + 41, math.max(1, n / 4)).grouped(25).toSeq
    conv2s.zipWithIndex.foreach { case (b, i) =>
      val df =
        try graft.sqlfront.ChSql.sql(spark, sfDir, chSelect(b, filter))
        catch { case e: Throwable =>
          System.err.println(s"[fuzz] conv2 batch $i FAILED:")
          b.foreach(f => System.err.println(s"  CH: ${f.ch}"))
          throw e
        }
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/conv2_$i")
      manifest.append(",")
      manifest.append(s"""{"conv2":$i,"duck":${jsonStr(duckSelect(b, filter))},"ch":${jsonStr(chSelect(b, filter))}}""")
    }
    println(s"[fuzz] ${conv2s.map(_.size).sum} conv2 exprs evaluated")
    // rounding-family fuzzing (n/4 exprs, exact-compared)
    val rnds = roundExprs(seed * 113 + 59, math.max(1, n / 4)).grouped(25).toSeq
    rnds.zipWithIndex.foreach { case (b, i) =>
      val df =
        try graft.sqlfront.ChSql.sql(spark, sfDir, chSelect(b, filter))
        catch { case e: Throwable =>
          System.err.println(s"[fuzz] rnd batch $i FAILED:")
          b.foreach(f => System.err.println(s"  CH: ${f.ch}"))
          throw e
        }
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/rnd_$i")
      manifest.append(",")
      manifest.append(s"""{"rnd":$i,"duck":${jsonStr(duckSelect(b, filter))},"ch":${jsonStr(chSelect(b, filter))}}""")
    }
    println(s"[fuzz] ${rnds.map(_.size).sum} rnd exprs evaluated")
    // CH-truthiness / ternary / map-literal / Float32-compare fuzzing
    // (n/4 exprs, exact-compared)
    val conds = condExprs(seed * 131 + 71, math.max(1, n / 4)).grouped(25).toSeq
    conds.zipWithIndex.foreach { case (b, i) =>
      val df =
        try graft.sqlfront.ChSql.sql(spark, sfDir, chSelect(b, filter))
        catch { case e: Throwable =>
          System.err.println(s"[fuzz] cond batch $i FAILED:")
          b.foreach(f => System.err.println(s"  CH: ${f.ch}"))
          throw e
        }
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/cond_$i")
      manifest.append(",")
      manifest.append(s"""{"cond":$i,"duck":${jsonStr(duckSelect(b, filter))},"ch":${jsonStr(chSelect(b, filter))}}""")
    }
    println(s"[fuzz] ${conds.map(_.size).sum} cond exprs evaluated")
    manifest.append("]")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/manifest.json"), manifest.toString)
    println(s"[fuzz] wrote $outDir/manifest.json (${batches.size} scalar batches + ${aggs.size} agg queries, $n exprs)")
    spark.stop()
  }
}
