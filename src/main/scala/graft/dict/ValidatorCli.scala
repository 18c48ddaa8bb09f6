package graft.dict

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import scala.jdk.CollectionConverters._

/** Driver-side (Spark-free) dictionary file parsing + validation CLI —
  * the reference's `validator.clj:25-30` `-main`: arguments are
  * (file, type) pairs, exit 1 on invalid dictionaries, odd argument
  * counts, or unsupported types.
  */
object ValidatorCli {

  val supportedTypes: Set[String] = Set("csv", "json", "edn")

  /** Parse a dictionary file without a SparkSession (jackson ships with
    * Spark's jars; CSV/EDN use the native readers).
    */
  def readFile(path: String, fileType: String): Seq[DictionaryEntry] = {
    val content = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), java.nio.charset.StandardCharsets.UTF_8)
    fileType match {
      case "csv"  => Readers.readCsvString(content)
      case "edn"  => Edn.readDictionary(content)
      case "json" => readJsonString(content)
      case other  => throw new IllegalArgumentException(s"File type not supported: `$other`")
    }
  }

  def readJsonString(content: String): Seq[DictionaryEntry] = {
    val mapper = new ObjectMapper()
    val root = mapper.readTree(content)
    require(root.isArray, "JSON dictionary must be an array of entry objects")
    root.elements().asScala.flatMap(entryFromJson).toSeq
  }

  private def entryFromJson(node: JsonNode): Option[DictionaryEntry] = {
    def str(names: String*): Option[String] =
      names.flatMap(n => Option(node.get(n))).headOption
        .filter(n => n.isTextual && n.asText().trim.nonEmpty).map(_.asText())
    def bool(names: String*): Option[Boolean] =
      names.flatMap(n => Option(node.get(n))).headOption.filter(_.isBoolean).map(_.asBoolean())
    def num(names: String*): Option[Long] =
      names.flatMap(n => Option(node.get(n))).headOption.filter(_.isNumber).map(_.asLong())
    str("text").map { text =>
      DictionaryEntry(
        text = text,
        entryType = str("type"),
        id = str("id"),
        synonyms = Option(node.get("synonyms")).filter(_.isArray)
          .map(_.elements().asScala.filterNot(_.isNull).map(_.asText()).toSeq)
          .getOrElse(Nil),
        caseSensitive = bool("case-sensitive?", "caseSensitive"),
        asciiFold = bool("ascii-fold?", "asciiFold"),
        stem = bool("stem?", "stem"),
        stemmer = str("stemmer"),
        slop = num("slop"),
        tokenizer = str("tokenizer"),
        inOrder = bool("in-order?", "inOrder"),
        fuzzy = bool("fuzzy?", "fuzzy"),
        fuzziness = num("fuzziness").map(_.toInt),
        meta = Option(node.get("meta")).filter(_.isObject).map { m =>
          m.properties().asScala.filterNot(_.getValue.isNull)
            .map(e => e.getKey -> e.getValue.asText()).toMap
        }.getOrElse(Map.empty))
    }
  }

  def validFile(path: String, fileType: String): Boolean =
    try {
      supportedTypes.contains(fileType) && {
        val entries = readFile(path, fileType)
        entries.nonEmpty && Validator.isValid(entries)
      }
    } catch {
      case e: Exception =>
        System.err.println(s"[graft] validation failed for '$path' ($fileType): ${e.getMessage}")
        false
    }

  def main(args: Array[String]): Unit = {
    if (args.length % 2 != 0) {
      System.err.println("Even number of arguments must be present - 'dictionary-name dictionary-type ...'")
      sys.exit(1)
    }
    val ok = args.grouped(2).forall { case Array(file, tpe) => validFile(file, tpe) }
    if (!ok) sys.exit(1)
  }
}
