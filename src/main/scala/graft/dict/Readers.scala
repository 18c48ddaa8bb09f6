package graft.dict

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Dictionary readers — the reference's `readers.clj` coercion rules:
  *  - CSV: first line is the header, order-free; values trimmed; blank
  *    values dropped (absent); `synonyms` split on `;`;
  *    `case-sensitive?`/`ascii-fold?` via Boolean.valueOf ("NOT_BOOL" →
  *    false); `meta` is a `;`-separated flat k/v list, odd trailing value
  *    ignored (`readers.clj:18-47`).
  *  - JSON: array of entry objects (`readers.clj:49-51`), read through
  *    `spark.read.option("multiLine", true).json`; null synonyms and
  *    null meta values dropped, like CSV's blank values.
  * Both beagle kebab keys ("case-sensitive?") and Scala-style names
  * ("caseSensitive") are accepted. Extra columns are ignored, like the
  * reference's keywordize-anything header handling (`readers.clj:21-22`).
  * As an extension beyond the reference, stem?/stemmer/slop/tokenizer/
  * in-order?/fuzzy?/fuzziness columns are coerced to their typed fields.
  */
object Readers {

  private def parseBool(s: String): Boolean = java.lang.Boolean.valueOf(s.trim)

  private def keyName(k: String): String = k.trim.toLowerCase match {
    case "case-sensitive?" | "casesensitive" => "case-sensitive?"
    case "ascii-fold?" | "asciifold"         => "ascii-fold?"
    case "stem?" | "stem"                    => "stem?"
    case "in-order?" | "inorder"             => "in-order?"
    case "fuzzy?" | "fuzzy"                  => "fuzzy?"
    case other                               => other
  }

  /** Build an entry from a string→string map (CSV semantics). */
  def entryFromStringMap(raw: Map[String, String]): Option[DictionaryEntry] = {
    val m = raw.iterator
      .map { case (k, v) => keyName(k) -> (if (v == null) "" else v.trim) }
      .filter(_._2.nonEmpty)
      .toMap
    m.get("text").map { text =>
      DictionaryEntry(
        text = text,
        entryType = m.get("type"),
        id = m.get("id"),
        synonyms = m.get("synonyms").map(_.split(";").toSeq.map(_.trim).filter(_.nonEmpty))
          .getOrElse(Nil),
        caseSensitive = m.get("case-sensitive?").map(parseBool),
        asciiFold = m.get("ascii-fold?").map(parseBool),
        stem = m.get("stem?").map(parseBool),
        stemmer = m.get("stemmer"),
        slop = m.get("slop").flatMap(s => s.toLongOption),
        tokenizer = m.get("tokenizer"),
        inOrder = m.get("in-order?").map(parseBool),
        fuzzy = m.get("fuzzy?").map(parseBool),
        fuzziness = m.get("fuzziness").flatMap(_.toIntOption),
        meta = m.get("meta").map(parseMeta).getOrElse(Map.empty))
    }
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

  /** JSON array of entries via Spark's json source. */
  def readJson(spark: SparkSession, path: String): Seq[DictionaryEntry] =
    fromDataFrame(spark.read.option("multiLine", "true").json(path))

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
    import org.apache.spark.sql.types._
    val schema = df.schema
    def idx(names: String*): Option[Int] =
      names.flatMap(n => schema.fields.zipWithIndex.collectFirst {
        case (f, i) if f.name.equalsIgnoreCase(n) => i
      }).headOption
    val iText = idx("text")
    val iType = idx("type")
    val iId = idx("id")
    val iSyn = idx("synonyms")
    val iCs = idx("case-sensitive?", "caseSensitive")
    val iAf = idx("ascii-fold?", "asciiFold")
    val iStem = idx("stem?", "stem")
    val iStemmer = idx("stemmer")
    val iSlop = idx("slop")
    val iTok = idx("tokenizer")
    val iInOrder = idx("in-order?", "inOrder")
    val iFuzzy = idx("fuzzy?", "fuzzy")
    val iFuzziness = idx("fuzziness")
    val iMeta = idx("meta")
    def strAt(r: Row, i: Option[Int]): Option[String] =
      i.filterNot(r.isNullAt).map(j => r.get(j).toString).filter(_.trim.nonEmpty)
    def boolAt(r: Row, i: Option[Int]): Option[Boolean] =
      i.filterNot(r.isNullAt).map { j =>
        r.get(j) match {
          case b: Boolean => b
          case s: String  => parseBool(s)
          case other      => parseBool(other.toString)
        }
      }
    def longAt(r: Row, i: Option[Int]): Option[Long] =
      i.filterNot(r.isNullAt).flatMap(j => r.get(j).toString.toDoubleOption.map(_.toLong))
    df.collect().toSeq.flatMap { r =>
      strAt(r, iText).map { text =>
        val synonyms: Seq[String] = iSyn.filterNot(r.isNullAt).map { j =>
          r.get(j) match {
            case s: scala.collection.Seq[_] => s.filter(_ != null).map(_.toString).toSeq
            case s: String                  => s.split(";").toSeq.map(_.trim).filter(_.nonEmpty)
            case other                      => Seq(other.toString)
          }
        }.getOrElse(Nil)
        val meta: Map[String, String] = iMeta.filterNot(r.isNullAt).map { j =>
          schema.fields(j).dataType match {
            case st: StructType =>
              val sub = r.getStruct(j)
              st.fields.zipWithIndex.collect {
                case (f, k) if !sub.isNullAt(k) => f.name -> sub.get(k).toString
              }.toMap
            case _: MapType =>
              r.getMap[Any, Any](j).collect {
                case (k, v) if v != null => k.toString -> v.toString
              }.toMap
            case _ => parseMeta(r.get(j).toString)
          }
        }.getOrElse(Map.empty)
        DictionaryEntry(
          text = text,
          entryType = strAt(r, iType),
          id = strAt(r, iId),
          synonyms = synonyms,
          caseSensitive = boolAt(r, iCs),
          asciiFold = boolAt(r, iAf),
          stem = boolAt(r, iStem),
          stemmer = strAt(r, iStemmer),
          slop = longAt(r, iSlop),
          tokenizer = strAt(r, iTok),
          inOrder = boolAt(r, iInOrder),
          fuzzy = boolAt(r, iFuzzy),
          fuzziness = longAt(r, iFuzziness).map(_.toInt),
          meta = meta)
      }
    }
  }
}
