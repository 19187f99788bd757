package graft.filter

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's metadata-filter mini-language, compiled to a Catalyst
  * `Column` predicate instead of a post-search row filter.
  *
  * Grammar (per `MetadataFilter::parse`, ref `src/index/filter.rs:52-316`):
  *   - ` OR ` splits first (lower precedence, no parentheses);
  *   - ` AND ` or top-level commas (bracket-aware) split conjuncts;
  *   - single conditions: `f?` (exists), `f in [a,b]`, `f not_in [a,b]`,
  *     `f~v` (contains), `f^v` (starts-with), `f$v` (ends-with),
  *     `f!=v`, `f>=v`, `f<=v`, `f>v`, `f<v`, `f=v`, `f:v`;
  *   - glob values rewrite: `f:*v*` → contains, `f:v*` → starts-with,
  *     `f:*v` → ends-with;
  *   - values parse as Long → Double → Bool → String;
  *   - dotted fields (`a.b.c`) descend into struct columns.
  *
  * Semantics parity (ref `:319-418`): `!=` and `not_in` are TRUE when the
  * field is missing/null; all other operators are FALSE on missing. In
  * the JSON world "missing" means the key is absent; on a typed table the
  * closest analog is NULL, so NULL drives the missing-field branches.
  * Because the output is a plain `Column`, Catalyst pushes these
  * predicates into the scan — the reference instead post-filters after
  * ANN search with a 5x over-fetch (`src/index/searcher.rs:129-133`).
  *
  * Grammar quirks kept bug-for-bug from the reference: when a string
  * mixes ` AND ` with commas, only the ` AND ` split happens and the
  * comma-joined part is handed to the single-condition parser whole
  * (ref :95-99 maps AND-parts through parse_single, never re-splitting
  * commas); and an unparseable string yields None, which callers treat
  * as "no filter" — the same fail-open the reference's search path has.
  */
object MetadataFilterDsl {

  sealed trait Value
  final case class VNum(v: Double) extends Value
  final case class VBool(v: Boolean) extends Value
  final case class VStr(v: String) extends Value

  sealed trait Node
  final case class Cond(field: String, op: String, value: Value, list: Seq[Value] = Nil) extends Node
  final case class And(children: Seq[Node]) extends Node
  final case class Or(children: Seq[Node]) extends Node

  /** Literal coercion order of `parse_value` (ref filter.rs:420-439). */
  def parseValue(s: String): Value = {
    val t = s
    t.toLongOption.map(v => VNum(v.toDouble))
      .orElse(t.toDoubleOption.map(VNum))
      .getOrElse(t match {
        case "true"  => VBool(true)
        case "false" => VBool(false)
        case other   => VStr(other)
      })
  }

  /** Split on top-level commas only (commas inside [...] stay). */
  private def splitCommas(s: String): Seq[String] = {
    val parts = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    s.foreach {
      case '[' => depth += 1; cur += '['
      case ']' => depth -= 1; cur += ']'
      case ',' if depth == 0 => parts += cur.result(); cur.clear()
      case c => cur += c
    }
    if (cur.nonEmpty) parts += cur.result()
    parts.result()
  }

  def parse(input: String): Option[Node] = {
    val s = input.trim
    if (s.contains(" OR ")) {
      val children = s.split(" OR ").toSeq.flatMap(p => parse(p.trim))
      return children match {
        case Seq()  => None
        case Seq(c) => Some(c)
        case cs     => Some(Or(cs))
      }
    }
    val hasAnd = s.contains(" AND ")
    val commaParts = splitCommas(s)
    if (hasAnd || commaParts.length > 1) {
      val raw = if (hasAnd) s.split(" AND ").toSeq else commaParts
      val children = raw.flatMap(p => parseSingle(p.trim))
      return children match {
        case Seq()  => None
        case Seq(c) => Some(c)
        case cs     => Some(And(cs))
      }
    }
    parseSingle(s)
  }

  private def parseList(rest: String): Option[Seq[Value]] = {
    val end = rest.indexOf(']')
    if (end < 0) None
    else Some(rest.take(end).split(',').toSeq.map(v => parseValue(v.trim)))
  }

  def parseSingle(input: String): Option[Node] = {
    val s = input.trim
    if (s.endsWith("?"))
      return Some(Cond(s.dropRight(1), "exists", VStr("")))
    val inIdx = s.indexOf(" in [")
    if (inIdx >= 0)
      return parseList(s.substring(inIdx + 5)).map(vs =>
        Cond(s.take(inIdx).trim, "in", VStr(""), vs))
    val notInIdx = s.indexOf(" not_in [")
    if (notInIdx >= 0)
      return parseList(s.substring(notInIdx + 9)).map(vs =>
        Cond(s.take(notInIdx).trim, "not_in", VStr(""), vs))

    def binary(sep: String, op: String, str: Boolean): Option[Node] = {
      val i = s.indexOf(sep)
      if (i < 0) None
      else {
        val (f, v) = (s.take(i), s.substring(i + sep.length))
        Some(Cond(f, op, if (str) VStr(v) else parseValue(v)))
      }
    }
    if (s.contains('~')) return binary("~", "contains", str = true)
    if (s.contains('^') && !s.contains(">=")) return binary("^", "starts_with", str = true)
    if (s.contains('$')) return binary("$", "ends_with", str = true)
    if (s.contains("!=")) return binary("!=", "ne", str = false)
    if (s.contains(">=")) return binary(">=", "gte", str = false)
    if (s.contains("<=")) return binary("<=", "lte", str = false)
    if (s.contains('>')) return binary(">", "gt", str = false)
    if (s.contains('<')) return binary("<", "lt", str = false)

    val eqIdx = if (s.contains('=')) s.indexOf('=') else s.indexOf(':')
    if (eqIdx < 0) return None
    val field = s.take(eqIdx)
    val v = s.substring(eqIdx + 1)
    // Glob-value rewrite (ref filter.rs:289-309)
    if (v.contains('*')) {
      if (v.startsWith("*") && v.endsWith("*") && v.length > 2)
        return Some(Cond(field, "contains", VStr(v.substring(1, v.length - 1))))
      if (v.startsWith("*"))
        return Some(Cond(field, "ends_with", VStr(v.drop(1))))
      if (v.endsWith("*"))
        return Some(Cond(field, "starts_with", VStr(v.dropRight(1))))
    }
    Some(Cond(field, "eq", parseValue(v)))
  }

  /** Resolve a dotted field path against the DataFrame schema; None when
    * any path segment does not exist (→ missing-field semantics). */
  private def resolve(df: DataFrame, path: String): Option[(Column, DataType)] = {
    val parts = path.split('.')
    val top = df.schema.fields.find(_.name == parts.head)
    top.flatMap { f =>
      parts.tail.foldLeft(Option((col(f.name), f.dataType))) {
        case (Some((c, StructType(fields))), seg) =>
          fields.find(_.name == seg).map(sf => (c.getField(seg), sf.dataType))
        case _ => None
      }
    }
  }

  private def isNumeric(dt: DataType): Boolean = dt.isInstanceOf[NumericType]

  private def isIntegral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** Whole-number literal representable as Long. */
  private def asWholeLong(d: Double): Option[Long] =
    if (d == math.rint(d) && d >= Long.MinValue.toDouble && d <= Long.MaxValue.toDouble)
      Some(d.toLong)
    else None

  /** Numeric comparison operands. Integral column + whole-number literal
    * compares in Long (same result as the reference's f64 compare for
    * the int64 range, and — unlike a lossy long→double cast, which
    * Catalyst refuses to unwrap — eligible for Parquet filter pushdown).
    * Anything else compares in Double per the reference. */
  private def numOperands(c: Column, dt: DataType, d: Double): (Column, Column) =
    if (isIntegral(dt)) asWholeLong(d) match {
      case Some(l) => (c, lit(l))
      case None    => (c.cast("double"), lit(d))
    } else (c.cast("double"), lit(d))

  /** Typed equality per `values_equal` (ref filter.rs:390-400): numbers
    * compare as doubles; cross-type comparisons are false. */
  private def eqCol(c: Column, dt: DataType, v: Value): Column = (dt, v) match {
    case (t, VNum(d)) if isNumeric(t) =>
      val (a, b) = numOperands(c, t, d)
      a === b
    case (BooleanType, VBool(b)) => c === lit(b)
    case (StringType, VStr(s))   => c === lit(s)
    case _                       => lit(false)
  }

  /** Ordering per `compare_values` (ref filter.rs:402-418): numeric when
    * both sides are numbers, else string comparison, else no match. */
  private def cmpCols(c: Column, dt: DataType, v: Value): Option[(Column, Column)] = (dt, v) match {
    case (t, VNum(d)) if isNumeric(t) => Some(numOperands(c, t, d))
    case (StringType, VStr(s))        => Some((c, lit(s)))
    case _                            => None
  }

  /** Compile to a predicate over `df`'s schema. Missing columns compile
    * to the constant the reference evaluates for absent fields. */
  def compile(node: Node, df: DataFrame): Column = node match {
    case And(cs) => cs.map(compile(_, df)).reduce(_ && _)
    case Or(cs)  => cs.map(compile(_, df)).reduce(_ || _)
    case Cond(field, op, value, list) =>
      resolve(df, field) match {
        case None =>
          // Absent field: ne/not_in are vacuously true (ref :335,:347-353)
          if (op == "ne" || op == "not_in") lit(true) else lit(false)
        case Some((c, dt)) =>
          val missing = c.isNull
          op match {
            case "exists" => c.isNotNull
            case "eq"     => !missing && eqCol(c, dt, value)
            case "ne"     => missing || !eqCol(c, dt, value)
            case "in"     => !missing && list.map(v => eqCol(c, dt, v)).reduceOption(_ || _).getOrElse(lit(false))
            case "not_in" => missing || !list.map(v => eqCol(c, dt, v)).reduceOption(_ || _).getOrElse(lit(false))
            case "contains" =>
              if (dt != StringType) lit(false)
              else !missing && c.contains(value.asInstanceOf[VStr].v)
            case "starts_with" =>
              if (dt != StringType) lit(false)
              else !missing && c.startsWith(value.asInstanceOf[VStr].v)
            case "ends_with" =>
              if (dt != StringType) lit(false)
              else !missing && c.endsWith(value.asInstanceOf[VStr].v)
            case cmp =>
              cmpCols(c, dt, value) match {
                case None => lit(false)
                case Some((a, b)) =>
                  val p = cmp match {
                    case "gt"  => a > b
                    case "gte" => a >= b
                    case "lt"  => a < b
                    case "lte" => a <= b
                  }
                  !missing && p
              }
          }
      }
  }

  /** Parse + compile; None when the filter string is unparseable. */
  def toColumn(filterStr: String, df: DataFrame): Option[Column] =
    parse(filterStr).map(compile(_, df))

  // ---------- driver-side (Column-free) evaluation ----------
  //
  // The warm serving tier filters its RESIDENT passage metadata without
  // a Spark plan: same parse, same AST, and an interpreter whose every
  // branch mirrors [[compile]]'s. The two "missing" shapes the compiler
  // distinguishes (field absent from the schema → constant; field
  // present but NULL → missing branch) evaluate to the same truth value
  // for every operator, so the interpreter folds them into one
  // `lookup(path) == None` case. FilterDslSpec pins eval == compile
  // over the full grammar on the same rows.

  /** Evaluate against one row's field lookup: `lookup(path)` resolves a
    * dotted path to Some(value) (Long/Int/Double/Float/Boolean/String,
    * or nested Map for structs) or None when absent/null. */
  def eval(node: Node, lookup: String => Option[Any]): Boolean = node match {
    case And(cs) => cs.forall(eval(_, lookup))
    case Or(cs)  => cs.exists(eval(_, lookup))
    case Cond(field, op, value, list) =>
      lookup(field) match {
        case None => op == "ne" || op == "not_in"
        case Some(x) => op match {
          case "exists" => true
          case "eq"     => eqVal(x, value)
          case "ne"     => !eqVal(x, value)
          case "in"     => list.exists(eqVal(x, _))
          case "not_in" => !list.exists(eqVal(x, _))
          case "contains" => x match {
            case s: String => s.contains(value.asInstanceOf[VStr].v)
            case _ => false
          }
          case "starts_with" => x match {
            case s: String => s.startsWith(value.asInstanceOf[VStr].v)
            case _ => false
          }
          case "ends_with" => x match {
            case s: String => s.endsWith(value.asInstanceOf[VStr].v)
            case _ => false
          }
          case cmp => cmpVal(x, value).exists { c =>
            cmp match {
              case "gt"  => c > 0
              case "gte" => c >= 0
              case "lt"  => c < 0
              case "lte" => c <= 0
            }
          }
        }
      }
  }

  private def asIntegral(x: Any): Option[Long] = x match {
    case b: Byte  => Some(b.toLong)
    case s: Short => Some(s.toLong)
    case i: Int   => Some(i.toLong)
    case l: Long  => Some(l)
    case _        => None
  }

  private def asNum(x: Any): Option[Double] = x match {
    case b: Byte   => Some(b.toDouble)
    case s: Short  => Some(s.toDouble)
    case i: Int    => Some(i.toDouble)
    case l: Long   => Some(l.toDouble)
    case f: Float  => Some(f.toDouble)
    case d: Double => Some(d)
    case d: java.math.BigDecimal => Some(d.doubleValue())
    case d: BigDecimal => Some(d.toDouble)
    case _         => None
  }

  /** [[eqCol]]'s semantics on runtime values: integral field + whole
    * literal compares in Long (the pushdown-exact branch), any other
    * numeric pairing in Double, bool/string typed, cross-type false. */
  private def eqVal(x: Any, v: Value): Boolean = (x, v) match {
    case (_, VNum(d)) if asNum(x).isDefined =>
      (asIntegral(x), asWholeLong(d)) match {
        case (Some(l), Some(lw)) => l == lw
        case _                   => asNum(x).get == d
      }
    case (b: Boolean, VBool(bv)) => b == bv
    case (s: String, VStr(sv))   => s == sv
    case _                       => false
  }

  /** UTF-8 binary string order — Spark's UTF8String comparison, which
    * differs from Java's UTF-16 code-unit order above the BMP. */
  private def utf8Cmp(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  /** [[cmpCols]]'s semantics on runtime values: Some(sign) when the
    * pairing is comparable, None otherwise (→ false upstream). */
  private def cmpVal(x: Any, v: Value): Option[Int] = (x, v) match {
    case (_, VNum(d)) if asNum(x).isDefined =>
      (asIntegral(x), asWholeLong(d)) match {
        case (Some(l), Some(lw)) => Some(java.lang.Long.compare(l, lw))
        case _ => Some(java.lang.Double.compare(asNum(x).get, d))
      }
    case (s: String, VStr(sv)) => Some(utf8Cmp(s, sv))
    case _                     => None
  }

  /** Dotted-path lookup over a nested Map[String, Any] row (structs as
    * nested Maps); absent keys and null values are both None. */
  def lookupIn(row: Map[String, Any])(path: String): Option[Any] = {
    val parts = path.split('.')
    parts.foldLeft(Option[Any](row)) {
      case (Some(m: Map[String, Any] @unchecked), seg) =>
        m.get(seg).filter(_ != null)
      case _ => None
    } match {
      case Some(m: Map[_, _]) if parts.nonEmpty =>
        // a struct itself: exists-able, but never eq/cmp-comparable —
        // matches compile(), where a struct column fails every typed
        // branch except isNotNull
        Some(m)
      case other => other
    }
  }
}
