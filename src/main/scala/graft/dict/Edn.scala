package graft.dict

/** EDN reader — the reference's `read-edn` (`readers.clj:11-16`) accepts
  * a vector of entry maps. Covers the published EDN specification:
  * vectors, lists, maps, sets, keywords, strings (all spec escapes incl.
  * `\uNNNN`), character literals (`\c`, `\newline`, `\space`, `\tab`,
  * `\return`, `\uNNNN`), booleans, nil, integers (with `N` suffix),
  * floats (with `M` suffix), `;` comments, the `#_` discard macro, and
  * tagged literals (`#inst`, `#uuid`, or any user tag — surfaced as
  * [[ETagged]] for the caller to interpret). Bare symbols are read as
  * strings (the dictionary model has no symbol type).
  */
object Edn {

  sealed trait Value
  final case class EStr(s: String) extends Value
  final case class EKw(name: String) extends Value
  final case class ENum(d: Double, isInt: Boolean) extends Value
  final case class EBool(b: Boolean) extends Value
  case object ENil extends Value
  final case class EChar(c: Char) extends Value
  final case class EVec(items: Vector[Value]) extends Value
  final case class ESet(items: Vector[Value]) extends Value
  final case class EMap(entries: Vector[(Value, Value)]) extends Value
  /** `#tag value` — e.g. `#inst "2024-01-01T00:00:00Z"`. */
  final case class ETagged(tag: String, value: Value) extends Value

  def parse(input: String): Value = {
    val p = new Parser(input)
    val v = p.parseValue()
    p.skipWs()
    require(p.atEnd, s"trailing content after EDN value at offset ${p.offset}")
    v
  }

  /** Read a dictionary: EDN vector of entry maps → entries. Keyword keys
    * are `name`-normalized like the reference (`:case-sensitive?` →
    * "case-sensitive?").
    */
  def readDictionary(content: String): Seq[DictionaryEntry] = parse(content) match {
    case EVec(items) => items.flatMap {
      case m: EMap => entryFromMap(m)
      case other   => throw new IllegalArgumentException(s"expected map entry, got $other")
    }
    case other => throw new IllegalArgumentException(s"expected top-level vector, got $other")
  }

  private def entryFromMap(m: EMap): Option[DictionaryEntry] = {
    def key(v: Value): String = v match {
      case EKw(n)  => n
      case EStr(s) => s
      case other   => other.toString
    }
    val kv = m.entries.map { case (k, v) => key(k) -> v }.toMap
    def str(k: String): Option[String] = kv.get(k).collect {
      case EStr(s) => s
      case EKw(n)  => n
    }.filter(_.trim.nonEmpty)
    def bool(k: String): Option[Boolean] = kv.get(k).collect { case EBool(b) => b }
    def num(k: String): Option[Double] = kv.get(k).collect { case ENum(d, _) => d }
    str("text").map { text =>
      DictionaryEntry(
        text = text,
        entryType = str("type"),
        id = str("id"),
        synonyms = kv.get("synonyms").collect {
          case EVec(items) => items.collect { case EStr(s) => s }.toSeq
        }.getOrElse(Nil),
        caseSensitive = bool("case-sensitive?"),
        asciiFold = bool("ascii-fold?"),
        stem = bool("stem?"),
        stemmer = str("stemmer"),
        slop = num("slop").map(_.toLong),
        tokenizer = str("tokenizer"),
        inOrder = bool("in-order?"),
        fuzzy = bool("fuzzy?"),
        fuzziness = num("fuzziness").map(_.toInt),
        meta = kv.get("meta").collect {
          case EMap(es) => es.filter(_._2 != ENil).map { case (k, v) =>
            key(k) -> (v match {
              case EStr(s) => s
              case EKw(n)  => n
              case ENum(d, true) => d.toLong.toString
              case ENum(d, _) => d.toString
              case EBool(b) => b.toString
              case other => other.toString
            })
          }.toMap
        }.getOrElse(Map.empty))
    }
  }

  private final class Parser(input: String) {
    private var pos = 0

    def atEnd: Boolean = pos >= input.length
    def offset: Int = pos

    @inline private def cur: Char = {
      require(pos < input.length, s"unexpected end of EDN input at offset $pos")
      input.charAt(pos)
    }

    def skipWs(): Unit = {
      var go = true
      while (go && pos < input.length) {
        val c = input.charAt(pos)
        if (Character.isWhitespace(c) || c == ',') pos += 1
        else if (c == ';') { while (pos < input.length && input.charAt(pos) != '\n') pos += 1 }
        else go = false
      }
    }

    def parseValue(): Value = {
      skipWs()
      require(pos < input.length, "unexpected end of input")
      input.charAt(pos) match {
        case '[' => pos += 1; parseSeq(']')
        case '(' => pos += 1; parseSeq(')')
        case '{' => pos += 1; parseMap()
        case '#' if pos + 1 < input.length && input.charAt(pos + 1) == '{' =>
          pos += 2
          parseSeq('}') match { case EVec(items) => ESet(items); case v => v }
        case '#' if pos + 1 < input.length && input.charAt(pos + 1) == '_' =>
          pos += 2
          parseValue() // discard macro: drop the next form entirely
          parseValue()
        case '#' =>
          pos += 1
          val tag = readToken()
          require(tag.nonEmpty, s"empty tag at offset $pos")
          ETagged(tag, parseValue())
        case '\\' => parseChar()
        case '"' => parseString()
        case ':' => pos += 1; EKw(readToken())
        case _   => parseScalar()
      }
    }

    /** Character literal: `\c`, named (`\newline` `\space` `\tab`
      * `\return` `\backspace` `\formfeed`), or `\uNNNN`.
      */
    private def parseChar(): Value = {
      pos += 1
      val tok = readToken()
      tok match {
        case "newline"   => EChar('\n')
        case "space"     => EChar(' ')
        case "tab"       => EChar('\t')
        case "return"    => EChar('\r')
        case "backspace" => EChar('\b')
        case "formfeed"  => EChar('\f')
        case t if t.length == 5 && t.charAt(0) == 'u' =>
          EChar(Integer.parseInt(t.substring(1), 16).toChar)
        case t if t.length == 1 => EChar(t.charAt(0))
        case t if t.isEmpty => // \ followed by a delimiter char, e.g. \[
          val c = cur; pos += 1; EChar(c)
        case t => throw new IllegalArgumentException(s"bad character literal \\$t")
      }
    }

    /** Consume any `#_form` discards (stackable) before the next real
      * form or closing delimiter.
      */
    private def skipDiscards(): Unit = {
      skipWs()
      while (pos + 1 < input.length && input.charAt(pos) == '#' &&
        input.charAt(pos + 1) == '_') {
        pos += 2
        parseValue()
        skipWs()
      }
    }

    private def parseSeq(close: Char): Value = {
      val items = Vector.newBuilder[Value]
      skipDiscards()
      while (cur != close) {
        items += parseValue()
        skipDiscards()
      }
      pos += 1
      EVec(items.result())
    }

    private def parseMap(): Value = {
      val entries = Vector.newBuilder[(Value, Value)]
      skipDiscards()
      while (cur != '}') {
        val k = parseValue()
        val v = parseValue()
        entries += (k -> v)
        skipDiscards()
      }
      pos += 1
      EMap(entries.result())
    }

    private def parseString(): Value = {
      pos += 1
      val sb = new StringBuilder
      while (cur != '"') {
        val c = cur
        if (c == '\\') {
          pos += 1
          input.charAt(pos) match {
            case 'n'   => sb += '\n'
            case 't'   => sb += '\t'
            case 'r'   => sb += '\r'
            case 'b'   => sb += '\b'
            case 'f'   => sb += '\f'
            case '\\'  => sb += '\\'
            case '"'   => sb += '"'
            case 'u'   =>
              sb += Integer.parseInt(input.substring(pos + 1, pos + 5), 16).toChar
              pos += 4
            case other => sb += other
          }
        } else sb += c
        pos += 1
      }
      pos += 1
      EStr(sb.toString)
    }

    private def readToken(): String = {
      val start = pos
      while (pos < input.length && !Character.isWhitespace(input.charAt(pos)) &&
        "[](){},;\"".indexOf(input.charAt(pos).toInt) < 0) pos += 1
      input.substring(start, pos)
    }

    private def parseScalar(): Value = readToken() match {
      case "true"  => EBool(true)
      case "false" => EBool(false)
      case "nil"   => ENil
      case tok if tok.nonEmpty && (tok.charAt(0).isDigit ||
        ((tok.charAt(0) == '-' || tok.charAt(0) == '+') && tok.length > 1 && tok.charAt(1).isDigit)) =>
        // N (arbitrary-precision int) and M (exact decimal) suffixes
        val t = if (tok.endsWith("N") || tok.endsWith("M")) tok.dropRight(1) else tok
        if (t.contains('.') || t.contains('e') || t.contains('E') || tok.endsWith("M"))
          ENum(t.toDouble, isInt = false)
        else ENum(t.toLong.toDouble, isInt = true)
      case tok => EStr(tok) // bare symbol: treat as string
    }
  }
}
