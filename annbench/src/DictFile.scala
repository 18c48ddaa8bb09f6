package annbench

import com.fasterxml.jackson.core.JsonFactory
import graft.dict.DictionaryEntry

import java.nio.file.{Files, Path, StandardCopyOption}

/** Writes a dictionary as the JSON array `ValidatorCli.readJsonString` reads. */
object DictFile {
  private val factory = new JsonFactory()

  /** Written beside `path` and moved over it, so a reader never sees a
    * half-written file.
    */
  def write(path: Path, entries: Iterable[DictionaryEntry]): Unit = {
    val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
    val g = factory.createGenerator(Files.newBufferedWriter(tmp))
    try {
      g.writeStartArray()
      entries.foreach { e =>
        g.writeStartObject()
        g.writeStringField("text", e.text)
        e.id.foreach(g.writeStringField("id", _))
        e.stem.foreach(g.writeBooleanField("stem?", _))
        e.caseSensitive.foreach(g.writeBooleanField("case-sensitive?", _))
        e.slop.foreach(g.writeNumberField("slop", _))
        e.inOrder.foreach(g.writeBooleanField("in-order?", _))
        e.fuzzy.foreach(g.writeBooleanField("fuzzy?", _))
        e.fuzziness.foreach(g.writeNumberField("fuzziness", _))
        if (e.synonyms.nonEmpty) {
          g.writeArrayFieldStart("synonyms")
          e.synonyms.foreach(g.writeString)
          g.writeEndArray()
        }
        g.writeEndObject()
      }
      g.writeEndArray()
    } finally g.close()
    Files.move(tmp, path, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }
}
