package graft.sources.dynamo

import java.util.Base64

/** DynamoDB-style attribute value ADT — the item model of the
  * reference connector's store (S/N/BOOL/NULL/B/L/M wire types,
  * SURVEY.md §1.2). Numbers carry arbitrary precision (`BigDecimal`)
  * like DynamoDB's `N`; sets (SS/NS/BS) are represented as `L` since
  * Spark has no set type [REF: datasource/TypeConversion.scala].
  */
sealed trait AttrVal
object AttrVal {
  final case class S(v: String) extends AttrVal
  final case class N(v: BigDecimal) extends AttrVal
  final case class Bool(v: Boolean) extends AttrVal
  case object Null extends AttrVal
  final case class B(v: Array[Byte]) extends AttrVal
  final case class L(v: Vector[AttrVal]) extends AttrVal
  final case class M(v: Map[String, AttrVal]) extends AttrVal
}

/** Hand-rolled JSON codec for items, using the DynamoDB wire shape
  * (`{"attr": {"S": "x"}, "n": {"N": "1.5"}}`). One item per line in
  * store shard files. No external JSON dependency — the library must
  * not add classpath requirements beyond Spark's own jars.
  */
object ItemJson {

  type Item = Map[String, AttrVal]

  // ---- writing ----

  def write(item: Item): String = {
    val sb = new java.lang.StringBuilder(128)
    writeObj(sb, item)(writeAttr)
    sb.toString()
  }

  private def writeObj[V](sb: java.lang.StringBuilder, m: Map[String, V])(
      f: (java.lang.StringBuilder, V) => Unit): Unit = {
    sb.append('{')
    // sorted keys → byte-identical store files across runs (determinism)
    val keys = new Array[String](m.size)
    var n = 0
    m.foreachEntry((k, _) => { keys(n) = k; n += 1 })
    java.util.Arrays.sort(keys.asInstanceOf[Array[AnyRef]])
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(',')
      writeString(sb, keys(i)); sb.append(':'); f(sb, m(keys(i)))
      i += 1
    }
    sb.append('}')
  }

  private def writeAttr(sb: java.lang.StringBuilder, a: AttrVal): Unit = a match {
    case AttrVal.S(v)    => sb.append("{\"S\":"); writeString(sb, v); sb.append('}')
    case AttrVal.N(v)    => sb.append("{\"N\":\""); sb.append(v.bigDecimal.toPlainString); sb.append("\"}")
    case AttrVal.Bool(v) => sb.append("{\"BOOL\":"); sb.append(v); sb.append('}')
    case AttrVal.Null    => sb.append("{\"NULL\":true}")
    case AttrVal.B(v)    => sb.append("{\"B\":"); writeString(sb, Base64.getEncoder.encodeToString(v)); sb.append('}')
    case AttrVal.L(v) =>
      sb.append("{\"L\":[")
      var first = true
      v.foreach { e => if (!first) sb.append(','); first = false; writeAttr(sb, e) }
      sb.append("]}")
    case AttrVal.M(v) =>
      sb.append("{\"M\":"); writeObj(sb, v)(writeAttr); sb.append('}')
  }

  private def writeString(sb: java.lang.StringBuilder, s: String): Unit = {
    sb.append('"')
    // runs of chars that need no escape are appended whole
    var from = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '"' || c == '\\' || c < ' ') {
        sb.append(s, from, i)
        c match {
          case '"'  => sb.append("\\\"")
          case '\\' => sb.append("\\\\")
          case '\n' => sb.append("\\n")
          case '\r' => sb.append("\\r")
          case '\t' => sb.append("\\t")
          case _ => sb.append(f"\\u${c.toInt}%04x")
        }
        from = i + 1
      }
      i += 1
    }
    sb.append(s, from, s.length)
    sb.append('"')
  }

  // ---- parsing (minimal recursive descent over the wire shape) ----

  def parse(line: String): Item = {
    val p = new Parser(line)
    val item = p.parseItemObj()
    p.skipWs()
    require(p.eof, s"trailing content in item line at ${p.pos}")
    item
  }

  /** `[{"S":"a"},{"N":"1"},...]` — an ExecuteStatement-style parameter
    * list in the wire value shape (each element one attr-typed value).
    */
  def parseAttrVector(line: String): Vector[AttrVal] = {
    val p = new Parser(line)
    val vs = p.parseAttrVec()
    p.skipWs()
    require(p.eof, s"trailing content in attr list at ${p.pos}")
    vs
  }

  /** One line of a DynamoDB S3 table export: `{"Item": {<item>}}` —
    * the service's DYNAMODB_JSON export line shape (the wrapper key
    * is literal). Set tags (SS/NS/BS) in real exports decode as `L`.
    */
  def parseExportLine(line: String): Item = {
    val p = new Parser(line)
    val item = p.parseExportObj()
    p.skipWs()
    require(p.eof, s"trailing content in export line at ${p.pos}")
    item
  }

  private final class Parser(s: String) {
    var pos = 0
    def eof: Boolean = pos >= s.length
    def skipWs(): Unit = while (!eof && s.charAt(pos).isWhitespace) pos += 1
    private def expect(c: Char): Unit = {
      skipWs()
      require(!eof && s.charAt(pos) == c, s"expected '$c' at $pos in: $s")
      pos += 1
    }
    private def peek: Char = { skipWs(); s.charAt(pos) }

    def parseItemObj(): Item = parseObjWith(() => parseAttr())

    def parseAttrVec(): Vector[AttrVal] = {
      expect('[')
      val b = Vector.newBuilder[AttrVal]
      if (peek == ']') { pos += 1; return b.result() }
      var done = false
      while (!done) {
        b += parseAttr()
        if (peek == ',') pos += 1 else { expect(']'); done = true }
      }
      b.result()
    }

    def parseExportObj(): Item = {
      expect('{')
      val k = parseStr()
      require(k == "Item", s"""export line must be {"Item": ...}, got key '$k'""")
      expect(':')
      val item = parseItemObj()
      expect('}')
      item
    }

    private def parseObjWith[V](pv: () => V): Map[String, V] = {
      expect('{')
      val b = Map.newBuilder[String, V]
      if (peek == '}') { pos += 1; return b.result() }
      var done = false
      while (!done) {
        val k = parseStr()
        expect(':')
        b += k -> pv()
        if (peek == ',') pos += 1 else { expect('}'); done = true }
      }
      b.result()
    }

    def parseAttr(): AttrVal = {
      expect('{')
      val tag = parseStr()
      expect(':')
      val v: AttrVal = tag match {
        case "S"    => AttrVal.S(parseStr())
        case "N"    => AttrVal.N(numOf(parseStr()))
        case "BOOL" => AttrVal.Bool(parseBool())
        case "NULL" => parseBool(); AttrVal.Null
        case "B"    => AttrVal.B(Base64.getDecoder.decode(parseStr()))
        case "L" =>
          expect('[')
          val b = Vector.newBuilder[AttrVal]
          if (peek == ']') pos += 1
          else {
            var done = false
            while (!done) {
              b += parseAttr()
              if (peek == ',') pos += 1 else { expect(']'); done = true }
            }
          }
          AttrVal.L(b.result())
        case "M" => AttrVal.M(parseObjWith(() => parseAttr()))
        // DynamoDB set types (SS/NS/BS) decode as L — Spark has no set
        // type (§1.2 rule, same as the reference's TypeConversion).
        // Accepted on READ for real-export interop; the writer never
        // emits them (sets round-trip as lists).
        case "SS" => AttrVal.L(parseStrArray().map(AttrVal.S(_): AttrVal))
        case "NS" => AttrVal.L(parseStrArray()
          .map(n => AttrVal.N(numOf(n)): AttrVal))
        case "BS" => AttrVal.L(parseStrArray()
          .map(b => AttrVal.B(Base64.getDecoder.decode(b)): AttrVal))
        case other => throw new IllegalArgumentException(s"unknown attr tag $other")
      }
      expect('}')
      v
    }

    /** Wire number → BigDecimal with a fast integer path (round 19):
      * a pure-integer literal of ≤18 digits becomes
      * `BigDecimal.valueOf(long)` — same unscaled value, same scale 0,
      * byte-identical on re-write via `toPlainString` — skipping the
      * string constructor's char-array walk. Anything with a sign
      * quirk, fraction, exponent, or 19+ digits takes the exact
      * string constructor unchanged (scale preservation: "1.50" must
      * stay scale 2 so write∘parse is the identity).
      */
    private def numOf(str: String): BigDecimal = {
      val n = str.length
      val i0 = if (n > 0 && str.charAt(0) == '-') 1 else 0
      if (n > i0 && n - i0 <= 18) {
        var i = i0
        var digits = true
        while (digits && i < n) {
          val c = str.charAt(i)
          if (c < '0' || c > '9') digits = false else i += 1
        }
        if (digits)
          return BigDecimal(java.math.BigDecimal.valueOf(java.lang.Long.parseLong(str)))
      }
      BigDecimal(str)
    }

    private def parseBool(): Boolean = {
      skipWs()
      if (s.startsWith("true", pos)) { pos += 4; true }
      else if (s.startsWith("false", pos)) { pos += 5; false }
      else throw new IllegalArgumentException(s"expected bool at $pos")
    }

    /** `["a","b",...]` — the payload shape of the SS/NS/BS set tags
      * (numbers and binary ride as strings on the wire, like `N`/`B`).
      */
    private def parseStrArray(): Vector[String] = {
      expect('[')
      val b = Vector.newBuilder[String]
      if (peek == ']') { pos += 1; return b.result() }
      var done = false
      while (!done) {
        b += parseStr()
        if (peek == ',') pos += 1 else { expect(']'); done = true }
      }
      b.result()
    }

    private def parseStr(): String = {
      expect('"')
      // Fast path (round 19): scan to the terminator first — store
      // lines are machine-written and escapes are rare, so most
      // strings come straight out as ONE substring instead of a
      // per-character StringBuilder append (parseStr is the hottest
      // frame of the journal decode: it runs per key, per type tag,
      // and per string/number payload of every item).
      val start = pos
      var c = s.charAt(pos)
      while (c != '"' && c != '\\') { pos += 1; c = s.charAt(pos) }
      if (c == '"') { val r = s.substring(start, pos); pos += 1; return r }
      val sb = new java.lang.StringBuilder(s.length - start)
      sb.append(s, start, pos)
      while (s.charAt(pos) != '"') {
        val c1 = s.charAt(pos)
        if (c1 == '\\') {
          pos += 1
          s.charAt(pos) match {
            case '"'  => sb.append('"')
            case '\\' => sb.append('\\')
            case '/'  => sb.append('/')
            case 'n'  => sb.append('\n')
            case 'r'  => sb.append('\r')
            case 't'  => sb.append('\t')
            case 'b'  => sb.append('\b')
            case 'f'  => sb.append('\f')
            case 'u' =>
              sb.append(Integer.parseInt(s.substring(pos + 1, pos + 5), 16).toChar)
              pos += 4
            case e => throw new IllegalArgumentException(s"bad escape \\$e")
          }
        } else sb.append(c1)
        pos += 1
      }
      pos += 1
      sb.toString()
    }
  }
}
