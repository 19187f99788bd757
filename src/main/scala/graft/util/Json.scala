package graft.util

/** Minimal JSON parser/writer for the serving layer: the HTTP search
  * body, MCP's nested JSON-RPC frames (`params.arguments.query`), and
  * the JSON both servers write back. Values map to plain Scala types:
  * `Map[String, Any]`, `List[Any]`, `String`, `Long` (integral numbers,
  * so JSON-RPC ids round-trip exactly), `Double`, `Boolean`, `null`.
  * No dependencies; objects preserve insertion order via `VectorMap`.
  */
object Json {

  def parse(s: String): Any = {
    val p = new Parser(s)
    val v = p.value()
    p.skipWs()
    require(p.eof, s"trailing content at offset ${p.pos}")
    v
  }

  def parseObject(s: String): Map[String, Any] = parse(s) match {
    case m: Map[String, Any] @unchecked => m
    case _ => throw new IllegalArgumentException("expected a JSON object")
  }

  def write(v: Any): String = {
    val b = new StringBuilder
    writeTo(v, b)
    b.result()
  }

  private def writeTo(v: Any, b: StringBuilder): Unit = v match {
    case null => b ++= "null"
    case s: String => writeString(s, b)
    case m: scala.collection.Map[_, _] =>
      b += '{'
      var first = true
      m.foreach { case (k, x) =>
        if (!first) b += ','
        first = false
        writeString(String.valueOf(k), b); b += ':'; writeTo(x, b)
      }
      b += '}'
    case xs: Iterable[_] =>
      b += '['
      var first = true
      xs.foreach { x =>
        if (!first) b += ','
        first = false
        writeTo(x, b)
      }
      b += ']'
    // Non-finite numbers have no JSON representation — emit null rather
    // than an unparseable bare NaN/Infinity in a protocol frame.
    case d: Double if d.isNaN || d.isInfinite => b ++= "null"
    case d: Double => b ++= (if (d.isWhole && math.abs(d) < 1e15) d.toLong.toString else d.toString)
    case f: Float if f.isNaN || f.isInfinite => b ++= "null"
    case other => b ++= String.valueOf(other) // Long, Int, Float, Boolean
  }

  private def writeString(s: String, b: StringBuilder): Unit = {
    b += '"'
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
  }

  private final class Parser(s: String) {
    var pos = 0
    def eof: Boolean = pos >= s.length
    def skipWs(): Unit =
      while (!eof && (s.charAt(pos) == ' ' || s.charAt(pos) == '\t' ||
        s.charAt(pos) == '\n' || s.charAt(pos) == '\r')) pos += 1

    private def expect(c: Char): Unit = {
      require(!eof && s.charAt(pos) == c, s"expected '$c' at offset $pos")
      pos += 1
    }

    def value(): Any = {
      skipWs()
      require(!eof, "unexpected end of input")
      s.charAt(pos) match {
        case '{' => obj()
        case '[' => arr()
        case '"' => str()
        case 't' => lit("true", true)
        case 'f' => lit("false", false)
        case 'n' => lit("null", null)
        case _ => num()
      }
    }

    private def lit(word: String, v: Any): Any = {
      require(s.regionMatches(pos, word, 0, word.length), s"bad literal at $pos")
      pos += word.length
      v
    }

    private def obj(): Map[String, Any] = {
      expect('{'); skipWs()
      // VectorMap, not ListMap: both preserve insertion order, but
      // ListMap's O(n) insert made a 30k-key object (a real
      // tokenizer.json vocab) take seconds to parse
      var m = scala.collection.immutable.VectorMap.empty[String, Any]
      if (!eof && s.charAt(pos) == '}') { pos += 1; return m }
      var done = false
      while (!done) {
        skipWs()
        val k = str()
        skipWs(); expect(':')
        m += (k -> value())
        skipWs()
        if (!eof && s.charAt(pos) == ',') pos += 1
        else { expect('}'); done = true }
      }
      m
    }

    private def arr(): List[Any] = {
      expect('['); skipWs()
      val buf = List.newBuilder[Any]
      if (!eof && s.charAt(pos) == ']') { pos += 1; return buf.result() }
      var done = false
      while (!done) {
        buf += value()
        skipWs()
        if (!eof && s.charAt(pos) == ',') pos += 1
        else { expect(']'); done = true }
      }
      buf.result()
    }

    private def str(): String = {
      expect('"')
      val b = new StringBuilder
      while (!eof && s.charAt(pos) != '"') {
        val c = s.charAt(pos)
        if (c == '\\') {
          require(pos + 1 < s.length, "bad escape")
          s.charAt(pos + 1) match {
            case 'n' => b += '\n'; pos += 2
            case 'r' => b += '\r'; pos += 2
            case 't' => b += '\t'; pos += 2
            case 'b' => b += '\b'; pos += 2
            case 'f' => b += '\f'; pos += 2
            case 'u' =>
              require(pos + 5 < s.length, "bad \\u escape")
              b += Integer.parseInt(s.substring(pos + 2, pos + 6), 16).toChar
              pos += 6
            case other => b += other; pos += 2
          }
        } else { b += c; pos += 1 }
      }
      expect('"')
      b.result()
    }

    private def num(): Any = {
      val start = pos
      if (!eof && s.charAt(pos) == '-') pos += 1
      while (!eof && (s.charAt(pos).isDigit || "+-.eE".contains(s.charAt(pos)))) pos += 1
      val raw = s.substring(start, pos)
      require(raw.nonEmpty, s"bad number at $start")
      if (raw.exists(c => c == '.' || c == 'e' || c == 'E')) raw.toDouble else raw.toLong
    }
  }
}
