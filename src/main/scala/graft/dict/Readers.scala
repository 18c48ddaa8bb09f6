package graft.dict

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Dictionary readers — the reference's `readers.clj` coercion rules:
  *  - CSV: first line is the header, order-free; values trimmed; blank
  *    values dropped (absent); `synonyms` split on `;`;
  *    `case-sensitive?`/`ascii-fold?` via Boolean.valueOf ("NOT_BOOL" →
  *    false); `meta` is a `;`-separated flat k/v list, odd trailing value
  *    ignored (`readers.clj:18-47`).
  *  - JSON: array of entry objects (`readers.clj:49-51`), parsed by
  *    `ValidatorCli.readJsonString` on every route; [[readJson]] only
  *    reads each file's text through Spark first. Null synonyms and null
  *    meta values are dropped, like CSV's blank values.
  * Every reader coerces values with [[entryFromValues]]. Both beagle
  * kebab keys ("case-sensitive?") and Scala-style names ("caseSensitive")
  * are accepted, in any letter case. Extra columns are ignored, like the
  * reference's keywordize-anything header handling (`readers.clj:21-22`).
  * As an extension beyond the reference, stem?/stemmer/slop/tokenizer/
  * in-order?/fuzzy?/fuzziness columns are coerced to their typed fields.
  */
object Readers {

  private def parseBool(s: String): Boolean = java.lang.Boolean.valueOf(s.trim)

  private[dict] def keyName(k: String): String = k.trim.toLowerCase match {
    case "case-sensitive?" | "casesensitive" => "case-sensitive?"
    case "ascii-fold?" | "asciifold"         => "ascii-fold?"
    case "stem?" | "stem"                    => "stem?"
    case "in-order?" | "inorder"             => "in-order?"
    case "fuzzy?" | "fuzzy"                  => "fuzzy?"
    case other                               => other
  }

  /** Build an entry from a string→string map (CSV semantics): values
    * trimmed, blank values absent.
    */
  def entryFromStringMap(raw: Map[String, String]): Option[DictionaryEntry] = {
    val m = raw.iterator
      .map { case (k, v) => keyName(k) -> (if (v == null) "" else v.trim) }
      .filter(_._2.nonEmpty)
      .toMap
    entryFromValues(m.get)
  }

  /** `;`-separated flat k/v pairs; odd trailing value ignored; pairs with
    * blank values dropped (`readers.clj:38-46`).
    */
  private def parseMeta(s: String): Map[String, String] =
    s.split(";").toSeq.map(_.trim).grouped(2).collect {
      case Seq(k, v) if v.nonEmpty => k -> v
    }.toMap

  /** CSV via Spark's csv source (header-mandatory like the reference). */
  def readCsv(spark: SparkSession, path: String): Seq[DictionaryEntry] = {
    val df = spark.read.option("header", "true").csv(path)
    fromStringDataFrame(df)
  }

  /** CSV from an in-memory string (small fixtures / tests). */
  def readCsvString(content: String): Seq[DictionaryEntry] = {
    val lines = splitCsv(content)
    if (lines.isEmpty) return Nil
    val header = lines.head
    lines.tail.flatMap { fields =>
      entryFromStringMap(header.zip(fields).toMap)
    }
  }

  // minimal RFC4180 parser (quote-aware) for driver-side fixture reading
  private def splitCsv(content: String): Seq[Seq[String]] = {
    val rows = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    val field = new StringBuilder
    val row = scala.collection.mutable.ArrayBuffer.empty[String]
    var inQuotes = false
    var i = 0
    def endField(): Unit = { row += field.toString; field.clear() }
    def endRow(): Unit = {
      endField()
      if (row.exists(_.nonEmpty)) rows += row.toSeq
      row.clear()
    }
    while (i < content.length) {
      val c = content.charAt(i)
      if (inQuotes) {
        if (c == '"') {
          if (i + 1 < content.length && content.charAt(i + 1) == '"') { field += '"'; i += 1 }
          else inQuotes = false
        } else field += c
      } else c match {
        case '"'  => inQuotes = true
        case ','  => endField()
        case '\n' => endRow()
        case '\r' => ()
        case ch   => field += ch
      }
      i += 1
    }
    if (field.nonEmpty || row.nonEmpty) endRow()
    rows.toSeq
  }

  /** JSON array of entries from any Spark-readable path: each file's
    * text is parsed by `ValidatorCli.readJsonString`, so every entry
    * keeps its own value types (Spark's json source infers one type
    * per key for the whole file and would read an integer id as "5.0"
    * next to a fractional one).
    */
  def readJson(spark: SparkSession, path: String): Seq[DictionaryEntry] =
    spark.read.option("wholetext", "true").text(path).collect().toSeq
      .flatMap(r => ValidatorCli.readJsonString(r.getString(0)))

  /** DataFrame of all-string columns (e.g. from spark.read.csv). */
  def fromStringDataFrame(df: DataFrame): Seq[DictionaryEntry] = {
    val cols = df.columns
    df.collect().toSeq.flatMap { r =>
      entryFromStringMap(cols.zipWithIndex.map { case (c, i) =>
        c -> (if (r.isNullAt(i)) "" else r.get(i).toString)
      }.toMap)
    }
  }

  /** DataFrame with typed columns (e.g. from spark.read.json): booleans,
    * numbers, array synonyms, struct or map meta.
    */
  def fromDataFrame(df: DataFrame): Seq[DictionaryEntry] = {
    val columns = df.columns.zipWithIndex.toSeq.groupMap(c => keyName(c._1))(_._2)
    def plain(v: Any): Any = v match {
      case row: Row => row.schema.fieldNames.indices.collect {
        case k if !row.isNullAt(k) => row.schema.fieldNames(k) -> row.get(k)
      }.toMap
      case other => other
    }
    df.collect().toSeq.flatMap { r =>
      entryFromValues(k => columns.getOrElse(k, Nil).find(!r.isNullAt(_))
        .map(j => plain(r.get(j))))
    }
  }

  /** Build an entry from typed values: the one coercion rule of every
    * reader (CSV text, JSON through Spark or Jackson). `value(k)` gives
    * the non-null value stored under a key whose [[keyName]] is `k`: a
    * string, boolean, number, sequence or map.
    *  - text/type/id/stemmer/tokenizer: the value's text, absent if blank;
    *  - booleans: a boolean as is, any other value through
    *    `Boolean.valueOf` of its text;
    *  - slop/fuzziness: a number (truncated to a whole number) or
    *    integer text; anything else, and a fuzziness outside Int, absent;
    *  - synonyms: a sequence (null elements dropped), or `;`-separated
    *    text;
    *  - meta: a map (null values dropped), or flat `k;v` text.
    */
  private[dict] def entryFromValues(value: String => Option[Any]): Option[DictionaryEntry] = {
    def str(k: String): Option[String] =
      value(k).map(_.toString).filter(_.trim.nonEmpty)
    def bool(k: String): Option[Boolean] = value(k).map {
      case b: Boolean => b
      case other      => parseBool(other.toString)
    }
    def long(k: String): Option[Long] = value(k).flatMap {
      case n: Number => Some(n.longValue)
      case other     => other.toString.trim.toLongOption
    }
    str("text").map { text =>
      DictionaryEntry(
        text = text,
        entryType = str("type"),
        id = str("id"),
        synonyms = value("synonyms").map {
          case s: scala.collection.Seq[_] => s.filter(_ != null).map(_.toString).toSeq
          case other                      => other.toString.split(";").toSeq.map(_.trim).filter(_.nonEmpty)
        }.getOrElse(Nil),
        caseSensitive = bool("case-sensitive?"),
        asciiFold = bool("ascii-fold?"),
        stem = bool("stem?"),
        stemmer = str("stemmer"),
        slop = long("slop"),
        tokenizer = str("tokenizer"),
        inOrder = bool("in-order?"),
        fuzzy = bool("fuzzy?"),
        fuzziness = long("fuzziness").filter(_.isValidInt).map(_.toInt),
        meta = value("meta").map {
          case m: scala.collection.Map[_, _] =>
            m.collect { case (k, v) if v != null => k.toString -> v.toString }.toMap
          case other => parseMeta(other.toString)
        }.getOrElse(Map.empty))
    }
  }
}
