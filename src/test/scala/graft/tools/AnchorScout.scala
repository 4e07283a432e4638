package graft.tools

import org.apache.spark.sql.SparkSession

/** Bulk-scout reference stateless tests through the anchor runner logic;
  * prints PASS/FAIL so passing tests can be curated into
  * ReferenceAnchorSpec (which calls the SAME `runTest` — one runner, two
  * entry points).
  *
  * Usage:
  *   Test/runMain graft.tools.AnchorScout <names...>      explicit tests
  *   Test/runMain graft.tools.AnchorScout 03000-03099     bounded prefix range
  *   Test/runMain graft.tools.AnchorScout                  default 003xx-009xx
  *
  * Environment-class tests (memory-limit must-fails, sleeps, filesystem
  * probes, multi-threaded zeros scans) are REJECTED before execution:
  * 01586-class tests intentionally OOM and would kill the shared JVM,
  * so the blocklist is enforced mechanically here, not by convention.
  */
object AnchorScout {

  val base = sys.env.getOrElse("ANCHOR_BASE",
    "/root/reference/tests/queries/0_stateless")

  /** Markers whose presence makes a stateless test environment-bound or
    * actively dangerous to run inside a shared JVM. Kept in sync with the
    * curation rule: never curate env-class tests. */
  private val envMarkers: Seq[String] = Seq(
    "max_memory_usage", "memory_limit_exceeded",
    "sleep(", "sleepeachrow", "remerge", "filesystem", "zeros_mt",
    "system.zeros", "max_execution_time")

  /** Tests whose expected failure is reached only AFTER gigabytes of
    * allocation in this engine (01661-class): they may pass in isolation
    * but poison a long shared JVM non-deterministically. The denylist is
    * consulted mechanically by every sweep and by runTest itself. */
  private val denylist: Set[String] = Set(
    "01661_extract_all_groups_throw_fast",
    // expects a row-budget abort (max_rows_to_read) this engine's
    // absorbed-settings model cannot produce
    "02155_read_in_order_max_rows_to_read")

  /** True when the test is environment-class and must never be curated or
    * even executed by a sweep (crash/hang class: intentional OOMs, sleeps,
    * unbounded scans, wall-clock assumptions). Pure so the spec pins it. */
  def isEnvClass(name: String, sqlText: String): Boolean = {
    val lower = sqlText.toLowerCase
    // markers are scanned on executable text only (comments often cite
    // dangerous queries without running them); tags live IN comments
    val t = lower.linesIterator
      .filterNot(_.trim.startsWith("--")).mkString("\n")
    denylist.contains(name) ||
    envMarkers.exists(t.contains) ||
      // unbounded system.numbers scans hang a collect()-based runner —
      // unless the statement is a declared must-fail (it errors first).
      // Checked per ';'-statement: LIMIT anywhere in the statement bounds it.
      lower.replaceAll("(?m);\\s*--\\s*\\{\\s*servererror[^\\n]*", "@@mf@@;")
        .split(";").map(_.linesIterator.filterNot(_.trim.startsWith("--"))
          .mkString("\n"))
        .filterNot(_.trim.endsWith("@@mf@@")).exists(st =>
          st.contains("system.numbers") && !st.contains("limit")) ||
      // generative calls with >=8-digit size literals: CH rejects them with
      // TOO_LARGE_ARRAY_SIZE, an engine without that cap OOMs instead
      (Seq("arraywithconstant", "repeat(", "randomstring", "randomprintable",
        "randomfixedstring", "arrayresize", "range(")
        .exists(t.contains) && "(?<![.\\d])\\d{8,}\\b".r.findFirstIn(t).isDefined) ||
      // scheduling-sensitive tag classes
      "(?m)^--\\s*tags:.*(long|race|deadlock)".r.findFirstIn(lower).isDefined
  }

  // ------------------------------------------------------- TSV renderer

  /** CH TabSeparated string escaping (reference
    * src/IO/WriteHelpers.h writeEscapedString): backslash and control
    * characters render as two-character escapes — a FixedString's NUL
    * padding appears as literal \0 in the .reference bytes. */
  private def tsvEscape(s: String): String =
    if (!s.exists(c => c == '\\' || c == '\'' || c < ' ')) s
    else {
      val sb = new StringBuilder
      s.foreach {
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\t' => sb.append("\\t")
        case '\r' => sb.append("\\r")
        case '\u0000' => sb.append("\\0")
        case '\b' => sb.append("\\b")
        case '\f' => sb.append("\\f")
        case '\'' => sb.append("\\'") // writeEscapedString escapes ' too
        case c => sb.append(c)
      }
      sb.toString
    }

  def render(v: Any): String = v match {
    case null => "\\N"
    case s: String => tsvEscape(s)
    case a: scala.collection.Seq[_] => a.map(renderNested).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => // CH Map TSV: {k:v,...}
      m.map { case (k, w) => s"${renderNested(k)}:${renderNested(w)}" }
        .mkString("{", ",", "}")
    case r: org.apache.spark.sql.Row =>
      (0 until r.length).map(i => renderNested(r.get(i))).mkString("(", ",", ")")
    case b: Boolean => if (b) "1" else "0"
    // the reference's TSV trims trailing decimal zeros (0.00 -> 0)
    case d: java.math.BigDecimal =>
      val t = d.stripTrailingZeros
      if (t.scale < 0) t.setScale(0).toPlainString else t.toPlainString
    case d: scala.math.BigDecimal =>
      val t = d.underlying.stripTrailingZeros
      if (t.scale < 0) t.setScale(0).toPlainString else t.toPlainString
    // CH DateTime prints no fraction; DateTime64 pads to its scale
    // (default 3, micros when finer). Timestamp.toString always emits at
    // least ".0", so trim/pad to the CH shape.
    case t: java.sql.Timestamp =>
      val s = t.toString
      val dot = s.lastIndexOf('.')
      val frac = s.substring(dot + 1)
      if (frac == "0") s.substring(0, dot)
      else {
        val f6 = (frac + "000000").take(6)
        if (f6.drop(3) == "000") s.substring(0, dot + 1) + f6.take(3)
        else s.substring(0, dot + 1) + f6
      }
    case t: java.time.LocalDateTime =>
      render(java.sql.Timestamp.valueOf(t))
    case t: java.time.Instant => render(java.sql.Timestamp.from(t))
    // CH formats floats shortest (1.0 -> 1) and nan/inf lowercase
    case d: Double =>
      if (d.isNaN) "nan"
      else if (d.isPosInfinity) "inf" else if (d.isNegInfinity) "-inf"
      // the reference prints negative zero as -0 (sign bit preserved)
      else if (d == 0.0 && 1.0 / d < 0) "-0"
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else d.toString
    case f: Float =>
      if (f.isNaN) "nan"
      else if (f.isPosInfinity) "inf" else if (f.isNegInfinity) "-inf"
      else if (f == 0.0f && 1.0f / f < 0) "-0"
      else if (f == math.rint(f) && math.abs(f) < 1e15f) f.toLong.toString
      else f.toString
    case x => x.toString
  }
  private def renderNested(v: Any): String = v match {
    // inside composites the reference spells NULL out ([NULL], (NULL));
    // only top-level TSV cells use \N
    case null => "NULL"
    // quoted form escapes like the TSV cell (incl. the quote itself)
    case s: String => "'" + tsvEscape(s) + "'"
    // dates/times quote in nested contexts (CH Map/Array/Tuple text)
    case d: java.sql.Date => "'" + d + "'"
    case d: java.time.LocalDate => "'" + d + "'"
    case t: java.sql.Timestamp => "'" + render(t) + "'"
    case t: java.time.LocalDateTime => "'" + render(t) + "'"
    case other => render(other)
  }

  /** CH JSON string quoting (reference WriteHelpers writeJSONString with
    * output_format_json_escape_forward_slashes=1, the default): '"' '\'
    * '/' and control chars escape; everything else passes through. */
  private def jsonQuote(s: String, escapeSlash: Boolean = true): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '/' if escapeSlash => sb.append("\\/")
      case '/' => sb.append('/')
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case '\b' => sb.append("\\b")
      case '\f' => sb.append("\\f")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** One JSON value in CH's JSON output convention: 64-bit integers
    * QUOTED (output_format_json_quote_64bit_integers=1 default),
    * narrower ints bare, dates/times quoted, arrays/tuples as JSON
    * arrays, maps as objects. */
  private def jsonCell(v: Any, escapeSlash: Boolean = true,
                       quote64: Boolean = true): String = v match {
    case null => "null"
    case s: String => jsonQuote(s, escapeSlash)
    case b: Boolean => if (b) "true" else "false"
    case l: Long => if (quote64) "\"" + l + "\"" else l.toString
    case bd: java.math.BigDecimal =>
      if (quote64) "\"" + render(bd) + "\"" else render(bd)
    case bd: scala.math.BigDecimal =>
      if (quote64) "\"" + render(bd) + "\"" else render(bd)
    case i: Int => i.toString
    case sh: Short => sh.toString
    case by: Byte => by.toString
    case d: Double => render(d)
    case f: Float => render(f)
    case d: java.sql.Date => "\"" + d + "\""
    case d: java.time.LocalDate => "\"" + d + "\""
    case t: java.sql.Timestamp => "\"" + render(t) + "\""
    case t: java.time.LocalDateTime => "\"" + render(t) + "\""
    case a: scala.collection.Seq[_] =>
      a.map(jsonCell(_, escapeSlash, quote64)).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, w) => jsonQuote(String.valueOf(k), escapeSlash) + ":" +
        jsonCell(w, escapeSlash, quote64) }
        .mkString("{", ",", "}")
    case r: org.apache.spark.sql.Row =>
      (0 until r.length).map(i => jsonCell(r.get(i), escapeSlash, quote64))
        .mkString("[", ",", "]")
    case x => jsonQuote(x.toString, escapeSlash)
  }

  /** One row as a CH CSV record: strings always double-quoted with ""
    * escapes, containers rendered in CH text form inside quotes,
    * numbers/dates bare (reference CSVRowOutputFormat). */
  private def renderCsv(row: org.apache.spark.sql.Row): String =
    renderCsv(row, 0 until row.length)

  private def renderCsv(row: org.apache.spark.sql.Row,
                        cols: Seq[Int]): String =
    cols.flatMap(i => csvCells(row.get(i))).mkString(",")

  private def csvCells(v: Any): Seq[String] = v match {
    case null => Seq("\\N")
    case s: String => Seq("\"" + s.replace("\"", "\"\"") + "\"")
    // tuples flatten to adjacent CSV columns (observed in the
    // reference's 00300_csv expected bytes)
    case r: org.apache.spark.sql.Row =>
      (0 until r.length).flatMap(i => csvCells(r.get(i)))
    case a: scala.collection.Seq[_] =>
      Seq("\"" + render(a).replace("\"", "\"\"") + "\"")
    case m: scala.collection.Map[_, _] =>
      Seq("\"" + render(m).replace("\"", "\"\"") + "\"")
    case d: java.sql.Date => Seq("\"" + d + "\"")
    case d: java.time.LocalDate => Seq("\"" + d + "\"")
    case t: java.sql.Timestamp => Seq("\"" + render(t) + "\"")
    case other => Seq(render(other))
  }

  // ------------------------------------------------------ shared runner

  /** Deliberate test-level failure raised from inside statement closures —
    * a plain `return` there compiles to NonLocalReturnControl, which the
    * outer catch-Throwable would misreport. */
  private final case class AnchorFail(msg: String) extends RuntimeException(msg)

  /** Run one reference stateless test by name; Right(()) iff the rendered
    * TSV matches the in-tree .reference bytes and every `{ serverError }`
    * statement raised. The single runner both the sweep main and
    * ReferenceAnchorSpec use. */
  def runTest(spark: SparkSession, sf: String, name: String): Either[String, Unit] = try {
    val sqlPath = java.nio.file.Paths.get(s"$base/$name.sql")
    if (!java.nio.file.Files.exists(sqlPath)) return Left("no .sql")
    val sql = new String(java.nio.file.Files.readAllBytes(sqlPath), "UTF-8")
    if (isEnvClass(name, sql)) return Left("ENV-CLASS (blocklisted)")
    // every stateless test gets a FRESH database in clickhouse-test —
    // reset the dialect session registries and views to match
    graft.sqlfront.ChSql.resetSessionState(spark)
    // identify WITH TOTALS rows by grouping() flag, not NULL-key guess
    graft.sqlfront.ChSql.emitTotalsMarker = true
    // the stateless suite runs with join_use_nulls=0 (outer-join misses
    // carry type defaults) unless the test opts into 1. Scoped to this
    // runner only (cleared in the finally) — the oracle surface keeps
    // ANSI NULLs.
    val wantsNulls = "(?i)join_use_nulls\\s*=\\s*1".r.findFirstIn(sql).isDefined
    spark.conf.set("spark.graft.chJoinDefaults", (!wantsNulls).toString)
    val expected = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$base/$name.reference")), "UTF-8").stripLineEnd
    val tagged = sql.replaceAll(
      "(?m);\\s*--\\s*\\{\\s*serverError[^\\n]*", " @@MUST_FAIL@@;")
    // `-- { echo }` / `-- { echoOn }` / `-- { echoOff }` (clickhouse-test
    // echo hints): from the chunk carrying an ON tag, every executed
    // statement's RAW text (leading comments included, as trimmed chunk
    // + ';') is emitted before its result lines. SET statements and
    // must-fail statements are NOT echoed (observed in the reference's
    // own .reference bytes: 00173 set lines absent, 02016 serverError
    // lines absent).
    var echoActive = false
    val units: Seq[(Option[String], Seq[String])] =
      tagged.split(";").toSeq.map { raw =>
        if ("(?i)--\\s*\\{\\s*echo(On)?\\s*\\}".r.findFirstIn(raw).isDefined)
          echoActive = true
        if ("(?i)--\\s*\\{\\s*echoOff\\s*\\}".r.findFirstIn(raw).isDefined)
          echoActive = false
        val st0 = raw.trim.linesIterator.filterNot(_.trim.startsWith("--"))
          .mkString("\n").trim
        val sts: Seq[String] =
          // recognized semantic settings take effect IN STATEMENT ORDER
          // (session-scoped, reset per test) via a marker the execution
          // loop intercepts; everything else stays absorbed
          if (st0.toUpperCase.startsWith("SET ")) Seq("@@SET@@" + st0.drop(4))
          else if (st0.isEmpty) Seq.empty
          // INSERT ... FORMAT <fmt> inline data ends at the first blank
          // line; the ';'-split may have glued the NEXT statement on
          else {
            val m = "(?is)^\\s*INSERT\\s+INTO\\b.*?\\bFORMAT\\s+(CSV\\w*|TSV|TabSeparated|JSONEachRow)\\b"
              .r.findFirstIn(st0)
            if (m.isEmpty) Seq(st0)
            else st0.split("\n\\s*\n", 2) match {
              case Array(ins, rest) => Seq(ins.trim, rest.trim).filter(_.nonEmpty)
              case _ => Seq(st0)
            }
          }
        val echo =
          if (echoActive && sts.nonEmpty && !st0.endsWith("@@MUST_FAIL@@") &&
              !sts.head.startsWith("@@SET@@"))
            Some(raw.trim + ";")
          else None
        (echo, sts)
      }
    val statements = units.flatMap(_._2)
    // the grouping() totals marker fails analysis when the GROUP BY key
    // is a select-list alias (lateralAliasReference is not a grouping
    // column) — retry those statements with the marker off (NULL-key
    // inference fallback, the pre-r15 behavior)
    def chSql(st: String): org.apache.spark.sql.DataFrame =
      try graft.sqlfront.ChSql.sql(spark, sf, st)
      catch {
        case _: Throwable if graft.sqlfront.ChSql.emitTotalsMarker &&
            "(?i)WITH\\s+TOTALS".r.findFirstIn(st).isDefined =>
          graft.sqlfront.ChSql.emitTotalsMarker = false
          try graft.sqlfront.ChSql.sql(spark, sf, st)
          finally graft.sqlfront.ChSql.emitTotalsMarker = true
      }
    val fmtRe = "(?is)^(.*?)\\bFORMAT\\s+(\\w+)\\s*$".r
    // each statement's rendered lines + whether its row order is
    // UNSPECIFIED (no ORDER BY anywhere in the statement): such blocks
    // compare as a line MULTISET below — Spark's partition-dependent
    // output order for ORDER-BY-less queries (02733_distinct) is not an
    // operator defect and must not flake the suite
    def stmtBlock(st0: String): (Seq[String], Boolean) = {
      if (st0.startsWith("@@SET@@")) {
        for (kv <- st0.drop(7).split(",")) {
          val eq = kv.indexOf('=')
          if (eq > 0) {
            val k = kv.substring(0, eq).trim
            val v0 = kv.substring(eq + 1).trim.stripSuffix(";").trim
            if (v0.endsWith("@@MUST_FAIL@@")) {
              // a SET tagged `-- { serverError }` must throw
              val v = v0.stripSuffix("@@MUST_FAIL@@").trim
              val threw =
                try { graft.sqlfront.ChSql.applyAnchorSetting(spark, k, v); false }
                catch { case _: Throwable => true }
              if (!threw)
                throw AnchorFail(s"expected failure did not fail: SET $k")
            } else graft.sqlfront.ChSql.applyAnchorSetting(spark, k, v0)
          }
        }
        return (Seq.empty, false)
      }
      val mustFail = st0.endsWith("@@MUST_FAIL@@")
      val st1 = st0.stripSuffix("@@MUST_FAIL@@").trim
      // trailing FORMAT clause (clickhouse-test runs TSV by default):
      // Null suppresses output; TabSeparated/TSV ARE the default render;
      // anything else changes bytes we can't reproduce -> keep the clause
      // so the statement fails loudly rather than diffing confusingly.
      // mode: 0 = TSV (default), 1 = suppressed (FORMAT Null),
      // 2 = Values (single line of comma-joined row tuples)
      val (st, mode) = st1 match {
        case fmtRe(body, fmt) if fmt.equalsIgnoreCase("Null") => (body.trim, 1)
        case fmtRe(body, fmt)
            if fmt.equalsIgnoreCase("TabSeparated") || fmt.equalsIgnoreCase("TSV") =>
          (body.trim, 0)
        case fmtRe(body, fmt) if fmt.equalsIgnoreCase("Values") => (body.trim, 2)
        case fmtRe(body, fmt) if fmt.equalsIgnoreCase("CSV") &&
            !"(?is)^\\s*INSERT\\b".r.findFirstIn(body).isDefined => (body.trim, 3)
        case fmtRe(body, fmt) if fmt.equalsIgnoreCase("CSVWithNames") &&
            !"(?is)^\\s*INSERT\\b".r.findFirstIn(body).isDefined => (body.trim, 4)
        case fmtRe(body, fmt) if fmt.equalsIgnoreCase("JSONEachRow") &&
            !"(?is)^\\s*INSERT\\b".r.findFirstIn(body).isDefined => (body.trim, 5)
        case fmtRe(body, fmt) if fmt.equalsIgnoreCase("LineAsString") &&
            !"(?is)^\\s*INSERT\\b".r.findFirstIn(body).isDefined => (body.trim, 6)
        case fmtRe(body, fmt) if (fmt.equalsIgnoreCase("TSVRaw") ||
            fmt.equalsIgnoreCase("TabSeparatedRaw") || fmt.equalsIgnoreCase("Raw")) &&
            !"(?is)^\\s*INSERT\\b".r.findFirstIn(body).isDefined => (body.trim, 6)
        case _ => (st1, 0)
      }
      val suppress = mode == 1
      val lines: Seq[String] = if (mustFail) {
        // NOTE: AnchorFail is thrown OUTSIDE the inner try — a `return`
        // here would be NonLocalReturnControl from a closure
        val failed =
          // foreach, NOT collect: a must-fail statement that our engine
          // wrongly accepts may be an unbounded scan — evaluating it
          // executor-side surfaces the expected error (if any) without
          // accumulating rows on the driver (00198-class JVM poisoning)
          try { chSql(st).foreach(_ => ()); false }
          catch { case _: AnchorFail => false
                  case _: Throwable => true } // incl. OOM from absent size caps
        if (!failed)
          throw AnchorFail(s"expected failure did not fail: ${st.take(60)}")
        Seq.empty[String]
      } else {
        val df = chSql(st)
        // WITH TOTALS: the reference renders a SEPARATE totals block —
        // data rows, blank line, then the totals row with the GROUP-BY
        // key columns as their TYPE DEFAULTS (TotalsHavingTransform).
        // The dialect appends a grouping() marker column (__totals_mark)
        // when it can, so the totals row is identified by the grouping
        // flag, not by all-NULL-keys inference (a nullable grouping key
        // has a genuine NULL-key group that would be indistinguishable).
        val totalsKeys = graft.sqlfront.ChSql.lastTotalsKeys
          .filter(ks => ks.nonEmpty && ks.forall(df.columns.contains))
        val markIdx = df.columns.indexOf("__totals_mark")
        val cols: Seq[Int] = (0 until df.schema.length).filter(_ != markIdx)
        val rows = df.collect().toSeq
        // DateTime64 columns render with their DECLARED number of
        // fractional digits (.000 for scale 3 even on whole seconds)
        val dtScale: Map[Int, Int] = cols.flatMap { i =>
          df.schema(i).dataType match {
            case org.apache.spark.sql.types.TimestampType |
                 org.apache.spark.sql.types.TimestampNTZType =>
              graft.sqlfront.ChSql.dt64ScaleHint(df.columns(i), st)
                .map(i -> _)
            case _ => None
          }
        }.toMap
        // DECLARED Bool columns render true/false (computed predicates
        // stay CH's 1/0)
        val boolText: Set[Int] = cols.filter { i =>
          df.schema(i).dataType == org.apache.spark.sql.types.BooleanType &&
            graft.sqlfront.ChSql.boolColHint(df.columns(i), st)
        }.toSet
        def cell(row: org.apache.spark.sql.Row, i: Int): String =
          (row.get(i), dtScale.get(i)) match {
            case (b: Boolean, _) if boolText(i) =>
              if (b) "true" else "false"
            case (t: java.sql.Timestamp, Some(n)) =>
              val s = t.toString
              val dot = s.lastIndexOf('.')
              if (n == 0) s.substring(0, dot)
              else s.substring(0, dot) + "." +
                (s.substring(dot + 1) + "0" * 9).take(n)
            case (v, _) => render(v)
          }
        if (suppress) Seq.empty[String]
        else if (mode == 2) // FORMAT Values: (a,b),(c,d) on one line
          Seq(rows.map { row =>
            cols.map(i => renderNested(row.get(i)))
              .mkString("(", ",", ")")
          }.mkString(","))
        else if (mode == 3) rows.map(renderCsv(_, cols)) // FORMAT CSV
        else if (mode == 4) { // FORMAT CSVWithNames: header of names
          val hdr = cols.map(df.columns)
            .map(c => "\"" + c.replace("\"", "\"\"") + "\"").mkString(",")
          hdr +: rows.map(renderCsv(_, cols))
        }
        else if (mode == 6) rows.map { row => // FORMAT LineAsString: raw
          cols.map(i => String.valueOf(row.get(i))).mkString("\t")
        }
        else if (mode == 5) { // FORMAT JSONEachRow
          val esc = spark.conf.get("spark.graft.jsonEscapeSlash", "true").toBoolean
          val q64 = spark.conf.get("spark.graft.jsonQuote64", "true").toBoolean
          // quote_64bit_integers quotes only GENUINE 64-bit integers:
          // a UInt32 column arrives as LongType but the reference leaves
          // it bare — consult the declared CH type when one is known
          val qTables = "(?i)\\b(?:FROM|JOIN)\\s+`?([\\w.]+)`?".r
            .findAllMatchIn(st).map(_.group(1).stripPrefix("default.")).toSeq
          val colQ64: Seq[Boolean] = cols.map { i =>
            graft.sqlfront.ChSql.declaredTypeOf(qTables, df.columns(i)) match {
              case Some(t) =>
                val b = t.replaceAll("^(?:Nullable|LowCardinality)\\(", "")
                // only the INTEGER width is decided here; non-integer
                // declared types keep the session default
                if (b.matches("U?Int(8|16|32)\\b.*")) false else q64
              case None => q64
            }
          }
          rows.map { row =>
            cols.zip(colQ64).map { case (i, q) =>
              jsonQuote(df.columns(i), esc) + ":" +
                jsonCell(row.get(i), esc, q) }.mkString("{", ",", "}")
          }
        }
        else totalsKeys match {
          case Some(ks) =>
            val kIdx = ks.map(df.schema.fieldIndex)
            val (tot, data) =
              if (markIdx >= 0)
                rows.partition(r => !r.isNullAt(markIdx) &&
                  String.valueOf(r.get(markIdx)) == "1")
              else rows.partition(r => kIdx.forall(r.isNullAt))
            def defText(dt: org.apache.spark.sql.types.DataType): String = {
              import org.apache.spark.sql.types._
              dt match {
                case _: NumericType => "0"
                case BooleanType => "false"
                case DateType => "1970-01-01"
                case _: TimestampType | TimestampNTZType => "1970-01-01 00:00:00"
                case _: ArrayType => "[]"
                case _ => ""
              }
            }
            val kDef = kIdx.map(i => i -> defText(df.schema(i).dataType)).toMap
            val dataLines = data.map(row =>
              cols.map(i => cell(row, i)).mkString("\t"))
            val totLines = tot.map(row =>
              cols.map(i =>
                if (row.isNullAt(i) && kDef.contains(i)) kDef(i)
                else cell(row, i)).mkString("\t"))
            if (totLines.isEmpty) dataLines
            else dataLines ++ ("" +: totLines)
          case None => rows.map { row =>
            cols.map(i => cell(row, i)).mkString("\t")
          }
        }
      }
      (lines.flatMap(_.split("\n", -1).toSeq),
        "(?i)\\bORDER\\s+BY\\b".r.findFirstIn(st).isEmpty)
    }
    val blocks: Seq[(Seq[String], Boolean)] = units.flatMap { case (echo, sts) =>
      echo.map(e => (e.split("\n", -1).toSeq, false)).toSeq ++ sts.map(stmtBlock)
    }
    val out = blocks.flatMap(_._1).mkString("\n")
    spark.catalog.clearCache()
    if (out == expected) Right(())
    else {
      val gl = blocks.flatMap(_._1).toVector
      val wl = expected.linesIterator.toVector
      // block-aligned lenient compare: a statement with NO ORDER BY has
      // UNSPECIFIED row order (the reference itself documents these as
      // order-unstable), so its block matches as a line multiset; any
      // statement WITH an ORDER BY still compares positionally
      def lenientOk: Boolean = {
        if (gl.length != wl.length) return false
        var off = 0; var ok = true
        for ((ls, unordered) <- blocks if ok) {
          val want = wl.slice(off, off + ls.length)
          ok = if (unordered) ls.sorted == want.sorted else ls == want
          off += ls.length
        }
        ok && off == wl.length
      }
      if (blocks.exists(b => b._2 && b._1.length > 1) && lenientOk) Right(())
      // same multiset of lines in a different order is its own diff
      // class (sort-stability / ties), called out for the histogram
      else if (gl.sorted == wl.sorted)
        Left(s"diff: ROW ORDER only (${gl.length} lines)")
      else {
        val i = math.max(0, gl.zipAll(wl, "<eof>", "<eof>")
          .indexWhere { case (a, b) => a != b })
        val w = sys.env.get("ANCHOR_DIFF_WIDTH").map(_.toInt).getOrElse(80)
        Left(s"diff at line ${i + 1}: got " +
          gl.lift(i).getOrElse("<eof>").take(w) + " want " +
          wl.lift(i).getOrElse("<eof>").take(w))
      }
    }
  } catch {
    case AnchorFail(m) => Left(m)
    case e: Throwable => // a sweep must survive stray OOMs
      Left(Option(e.getMessage).getOrElse(e.getClass.getName)
        .linesIterator.map(_.trim).filter(_.nonEmpty)
        .take(4).mkString(" | ").take(320))
  } finally spark.conf.set("spark.graft.chJoinDefaults", "false")

  def main(args: Array[String]): Unit = {
    var spark = graft.core.Tables.session("local[8]", 8)
    spark.sparkContext.setLogLevel("ERROR")
    val sf = "/root/testdata/sf0.001"

    // One bad test can kill the shared SparkContext (task OOM, stop()
    // from a failing eager command); every later test then reports
    // INTERNAL_ERROR and the sweep's tail is garbage (the recurring
    // "sick-JVM range" in rounds 15/16). Recover: on an INTERNAL_ERROR
    // verdict, rebuild the session and retry the test once.
    def revive(): Unit = {
      try spark.stop() catch { case _: Throwable => }
      org.apache.spark.sql.SparkSession.clearActiveSession()
      org.apache.spark.sql.SparkSession.clearDefaultSession()
      spark = graft.core.Tables.session("local[8]", 8)
      spark.sparkContext.setLogLevel("ERROR")
    }

    val rangeRe = "^(\\d{5})-(\\d{5})$".r
    val names: Seq[String] = args.toSeq match {
      case Seq(rangeRe(lo, hi)) =>
        val dir = new java.io.File(base)
        dir.listFiles().map(_.getName).filter(_.endsWith(".sql"))
          .map(_.stripSuffix(".sql"))
          .filter { n =>
            val num = n.takeWhile(_.isDigit)
            num.length == 5 && num >= lo && num <= hi
          }.sorted.toSeq
      case s if s.nonEmpty => s
      case _ =>
        val dir = new java.io.File(base)
        dir.listFiles().map(_.getName).filter(_.endsWith(".sql"))
          .map(_.stripSuffix(".sql"))
          .filter(_.matches("00[3-9]\\d\\d_.*")).sorted.toSeq
    }
    var pass = 0
    names.foreach { n =>
      if (spark.sparkContext.isStopped) { println(s"REVIVE before $n"); revive() }
      val first = runTest(spark, sf, n)
      val res = first match {
        case Left(why) if why.contains("INTERNAL_ERROR") =>
          println(s"REVIVE after $n"); revive(); runTest(spark, sf, n)
        case r => r
      }
      res match {
        case Right(_) => pass += 1; println(s"PASS $n")
        case Left(why) => println(s"FAIL $n :: $why")
      }
    }
    println(s"== $pass / ${names.length} pass ==")
    spark.stop()
  }
}
