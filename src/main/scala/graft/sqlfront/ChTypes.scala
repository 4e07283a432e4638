package graft.sqlfront

import org.apache.spark.sql.types._

/** ClickHouse declared-type names -> Spark types, for the bare
  * `CREATE TABLE t (col Type, ...) ENGINE = ...` DDL surface (reference
  * src/DataTypes/DataTypeFactory.cpp; used throughout the stateless
  * tests). Unsigned widths widen to the next signed Spark type that
  * holds them (UInt64 -> DECIMAL(20,0), the engine-wide convention). */
object ChTypes {
  import ChSql.splitArgs

  private def inner(t: String): String =
    t.substring(t.indexOf('(') + 1, t.lastIndexOf(')'))

  private val simple: Map[String, DataType] = Map(
    "int8" -> ByteType, "int16" -> ShortType, "int32" -> IntegerType,
    "int64" -> LongType, "uint8" -> IntegerType, "uint16" -> IntegerType,
    "uint32" -> LongType, "uint64" -> DecimalType(20, 0),
    "int128" -> DecimalType(38, 0), "int256" -> DecimalType(38, 0),
    "uint128" -> DecimalType(38, 0), "uint256" -> DecimalType(38, 0),
    "float32" -> FloatType, "float64" -> DoubleType,
    "bfloat16" -> FloatType,
    "string" -> StringType, "uuid" -> StringType,
    "ipv4" -> StringType, "ipv6" -> StringType,
    "date" -> DateType, "date32" -> DateType,
    "datetime" -> TimestampType,
    "bool" -> BooleanType, "boolean" -> BooleanType,
    "json" -> StringType, "dynamic" -> StringType, "variant" -> StringType,
    "nothing" -> NullType,
    // SQL-compat aliases (reference DataTypeFactory registerAlias calls)
    "tinyint" -> ByteType, "int1" -> ByteType, "byte" -> ByteType,
    "smallint" -> ShortType, "int2" -> ShortType,
    "int" -> IntegerType, "integer" -> IntegerType, "int4" -> IntegerType,
    "mediumint" -> IntegerType,
    "bigint" -> LongType,
    "float" -> FloatType, "real" -> FloatType, "single" -> FloatType,
    "double" -> DoubleType, "double precision" -> DoubleType,
    "text" -> StringType, "tinytext" -> StringType,
    "mediumtext" -> StringType, "longtext" -> StringType,
    "blob" -> StringType, "tinyblob" -> StringType,
    "mediumblob" -> StringType, "longblob" -> StringType,
    "char" -> StringType, "nchar" -> StringType, "clob" -> StringType,
    "varchar" -> StringType, "binary" -> StringType, "varbinary" -> StringType,
    "geometry" -> StringType, "year" -> ShortType, "time" -> TimestampType)

  /** True when `s` parses as a CH type (used to tell `name Type` tuple
    * elements from positional ones). */
  def isChType(s: String): Boolean =
    try { toSpark(s); true } catch { case _: IllegalArgumentException => false }

  /** A declared scale that exceeded Spark's cap (Decimal256(75)) clamps
    * to 30, not 38: sums over such columns need integer headroom —
    * Spark types sum(DECIMAL(38, s)) at precision 38, so a 38-scale
    * column overflows on the very first non-fractional carry
    * (avg_weighted.xml avg over 10^5 sub-1 values). Scales the user
    * could legally declare (<= the width's precision) pass through. */
  private def clampedScale(s: Int, p: Int): Int =
    if (s > 38) math.min(p, 30) else math.min(s, p)

  def toSpark(t0: String): DataType = {
    // `Array (UInt8)` is legal CH spelling (whitespace before the paren,
    // has_all.xml); `Dynamic(max_types=N)` parameterizes a simple type
    val t = t0.trim.replaceAll("^([A-Za-z_][A-Za-z_0-9]*)\\s+\\(", "$1(") match {
      case s if s.toLowerCase.startsWith("dynamic(") => "Dynamic"
      case s => s
    }
    val lower = t.toLowerCase
    val head = lower.takeWhile(c => c.isLetterOrDigit || c == '_')
    simple.get(lower).getOrElse {
      head match {
        case "nullable" | "lowcardinality" | "simpleaggregatefunction"
            if t.contains('(') =>
          val args = splitArgs(inner(t))
          // SimpleAggregateFunction(f, T): the stored type is T
          toSpark(args.last)
        case "aggregatefunction" if t.contains('(') =>
          // AggregateFunction(f, T...): the stored type is whatever this
          // engine's -State template for f produces (ChSql combinators),
          // so stored states INSERT and -Merge back without casts
          val args = splitArgs(inner(t))
          // an explicit -State spelling (AggregateFunction(avgState, …),
          // aggregate_functions_deserialization.xml) names the same state
          val f = args.head.trim.toLowerCase
            .takeWhile(c => c.isLetterOrDigit || c == '_')
            .stripSuffix("state")
          f match {
            case "uniq" | "uniqtheta" | "uniqhll12" | "uniqcombined" =>
              ArrayType(LongType) // KMV buffer (uniq_theta_state)
            case "count" => LongType
            case "sum" | "min" | "max" | "any" | "anylast" => toSpark(args.last)
            case "argmax" | "argmin" if args.length >= 2 => toSpark(args(1))
            case "avg" => StructType(Seq(
              StructField("s", DoubleType), StructField("c", LongType)))
            case "grouparray" | "groupuniqarray" | "uniqexact" =>
              ArrayType(toSpark(args.last))
            case _ => ArrayType(LongType)
          }
        case "array" if t.contains('(') => ArrayType(toSpark(inner(t)))
        case "map" if t.contains('(') =>
          val args = splitArgs(inner(t))
          MapType(toSpark(args(0)), toSpark(args(1)))
        case "tuple" if t.contains('(') =>
          val parts = splitArgs(inner(t)).map(_.trim)
          StructType(parts.zipWithIndex.map { case (p, i) =>
            "^(`[^`]+`|[A-Za-z_]\\w*)\\s+(.+)$".r.findFirstMatchIn(p) match {
              case Some(m) if isChType(m.group(2)) =>
                StructField(m.group(1).stripPrefix("`").stripSuffix("`"),
                  toSpark(m.group(2)))
              case _ => StructField(s"_${i + 1}", toSpark(p))
            }
          }.toArray)
        case "fixedstring" | "varchar" | "char" | "nchar" | "binary" |
             "varbinary" | "bit" => StringType
        case "datetime" | "datetime32" => TimestampType   // DateTime('tz')
        case "datetime64" => TimestampType
        case "decimal" if t.contains('(') =>
          // Decimal128/256 declarations (precision up to 76) clamp to
          // Spark's 38-digit maximum, like the conversion grid does
          val args = splitArgs(inner(t)).map(_.trim.toInt)
          val p = math.min(args(0), 38)
          if (args.length == 2) DecimalType(p, clampedScale(args(1), p))
          else DecimalType(p, 0)
        // scales above Spark's 38-digit cap clamp WITH the precision
        // (Decimal256(75) in avg_weighted.xml)
        case "decimal32" => DecimalType(9, clampedScale(inner(t).trim.toInt, 9))
        case "decimal64" => DecimalType(18, clampedScale(inner(t).trim.toInt, 18))
        case "decimal128" => DecimalType(38, clampedScale(inner(t).trim.toInt, 38))
        case "decimal256" => DecimalType(38, clampedScale(inner(t).trim.toInt, 38))
        case "enum" | "enum8" | "enum16" => StringType
        case "aggregatefunction" => BinaryType
        case "interval" => LongType
        case _ =>
          throw new IllegalArgumentException(s"unknown ClickHouse type: $t0")
      }
    }
  }

  /** One parsed column of a bare CREATE TABLE: name, Spark type, and the
    * DEFAULT/MATERIALIZED/ALIAS expression if declared (computed at
    * insert time for unlisted columns). */
  final case class ColumnDef(name: String, dataType: DataType,
                             defaultExpr: Option[String],
                             chNullable: Boolean = false,
                             defaultKind: String = "",
                             chTz: Option[String] = None,
                             chType: String = "",
                             comment: Option[String] = None,
                             codec: Option[String] = None,
                             colTtl: Option[String] = None)

  /** The timezone literal of a DateTime('tz') / DateTime64(p, 'tz')
    * declaration — needed to render type-default (epoch) fills as the
    * column's WALL CLOCK, matching how inserted literals are stored. */
  private def tzOf(typeStr: String): Option[String] =
    "(?is)DateTime(?:64)?\\s*\\(\\s*(?:\\d+\\s*,\\s*)?'([\\w/+-]+)'".r
      .findFirstMatchIn(typeStr).map(_.group(1))

  private val modifierKeywords = Set("default", "materialized", "alias",
    "ephemeral", "comment", "codec", "ttl", "primary", "settings")

  /** SQL-compat type aliases -> the CH-native name DESCRIBE/SHOW CREATE
    * render (reference DataTypeFactory::registerAlias). */
  private val typeAliases: Map[String, String] = Map(
    "int" -> "Int32", "integer" -> "Int32", "int4" -> "Int32",
    "tinyint" -> "Int8", "int1" -> "Int8", "byte" -> "Int8",
    "smallint" -> "Int16", "int2" -> "Int16",
    "bigint" -> "Int64",
    "float" -> "Float32", "real" -> "Float32", "single" -> "Float32",
    "double" -> "Float64", "double precision" -> "Float64",
    "varchar" -> "String", "char" -> "String", "text" -> "String",
    "blob" -> "String", "clob" -> "String", "longtext" -> "String",
    "mediumtext" -> "String", "tinytext" -> "String", "binary" -> "String",
    "bytea" -> "String", "boolean" -> "Bool")

  /** Canonical declared-type text: whole-name aliases mapped, everything
    * else (already CH spelling) unchanged. */
  def canonicalType(t: String): String =
    typeAliases.getOrElse(t.trim.toLowerCase, t.trim)

  /** Parse a CREATE TABLE column list (INDEX/PROJECTION/CONSTRAINT/
    * PRIMARY KEY entries are storage hints, skipped). */
  def parseColumns(colList: String): Seq[ColumnDef] =
    splitArgs(colList).map(_.trim).filter(_.nonEmpty).flatMap { item =>
      val head = item.takeWhile(!_.isWhitespace)
      if (Set("index", "projection", "constraint", "primary")
          .contains(head.toLowerCase)) None
      else {
        val name = head.stripPrefix("`").stripSuffix("`")
        val rest = item.drop(head.length).trim
        // every top-level modifier keyword position (quote/paren-aware);
        // the type runs to the first one, each clause to the next
        val marks = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
        val masked = SqlText.mask(rest)
        var i = 0; var depth = 0
        while (i < rest.length) {
          val c = masked.charAt(i)
          if (c == '(') depth += 1
          else if (c == ')') depth -= 1
          else if (depth == 0 && (i == 0 || {
            val p = masked.charAt(i - 1)
            !p.isLetterOrDigit && p != '_' && p != '`'
          })) {
            val word = masked.drop(i).takeWhile(ch => ch.isLetter).toLowerCase
            val nxt = i + word.length
            val nextOk = nxt >= rest.length || {
              val c2 = masked.charAt(nxt)
              !c2.isLetterOrDigit && c2 != '_'
            }
            if (modifierKeywords.contains(word) && word.nonEmpty && nextOk)
              marks += ((i, word))
          }
          i += 1
        }
        val typeEnd = marks.headOption.map(_._1).getOrElse(rest.length)
        val typeStr = rest.take(typeEnd).trim
        // clause text of modifier `word`: from after the keyword to the
        // next top-level modifier (or end)
        def clause(word: String): Option[String] =
          marks.zipWithIndex.collectFirst { case ((p, w), idx) if w == word =>
            val from = p + w.length
            val to = marks.lift(idx + 1).map(_._1).getOrElse(rest.length)
            rest.substring(from, to).trim
          }.filter(_.nonEmpty)
        val defaultKind = marks.collectFirst {
          case (_, w) if Set("default", "materialized", "alias").contains(w) => w
        }.getOrElse("")
        val dflt = if (defaultKind.isEmpty) None else clause(defaultKind)
        val commentTxt = clause("comment")
          .map(_.stripPrefix("'").stripSuffix("'"))
        val codecTxt = clause("codec")
          .map(_.trim.stripPrefix("(").stripSuffix(")").trim).filter(_.nonEmpty)
        val ttlTxt = clause("ttl")
        if (typeStr.isEmpty && dflt.isDefined)
          // typeless `col DEFAULT expr`: type inferred from the expression
          Some(ColumnDef(name, NullType, dflt, defaultKind = defaultKind,
            comment = commentTxt, codec = codecTxt, colTtl = ttlTxt))
        else if (typeStr.trim.toLowerCase.startsWith("nested")) {
          // CH `name Nested(a T1, b T2)` is sugar for the parallel-array
          // columns `name.a Array(T1)`, `name.b Array(T2)` (reference
          // DataTypeNested / NestedUtils::flatten)
          val inner = typeStr.trim.drop("nested".length).trim
            .stripPrefix("(").stripSuffix(")")
          parseColumns(inner).map(sub =>
            ColumnDef(s"$name.${sub.name}", ArrayType(sub.dataType), None,
              chType = s"Array(${sub.chType})"))
        } else
          Some(ColumnDef(name, toSpark(typeStr), dflt,
            typeStr.trim.toLowerCase.startsWith("nullable"), defaultKind,
            tzOf(typeStr), canonicalType(typeStr),
            comment = commentTxt, codec = codecTxt, colTtl = ttlTxt))
      }
    }
}
