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

  /** A JSON dictionary without Spark, coerced by
    * [[Readers.entryFromValues]]; `Readers.readJson` parses each file's
    * text through here too.
    */
  def readJsonString(content: String): Seq[DictionaryEntry] = {
    val mapper = new ObjectMapper()
    val root = mapper.readTree(content)
    require(root.isArray, "JSON dictionary must be an array of entry objects")
    root.elements().asScala.flatMap { node =>
      val fields = new java.util.HashMap[String, JsonNode]()
      node.properties().asScala.foreach { e =>
        if (!e.getValue.isNull) fields.putIfAbsent(Readers.keyName(e.getKey), e.getValue)
      }
      Readers.entryFromValues(k => Option(fields.get(k)).map(plain))
    }.toSeq
  }

  /** A JSON value as the Scala value a Spark row would hold. */
  private def plain(n: JsonNode): Any =
    if (n.isNull) null
    else if (n.isArray) n.elements().asScala.map(plain).toSeq
    else if (n.isObject) n.properties().asScala.map(e => e.getKey -> plain(e.getValue)).toMap
    else if (n.isBoolean) n.booleanValue
    else if (n.isNumber) n.numberValue
    else n.asText()

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
