package annbench

import com.fasterxml.jackson.databind.{ObjectMapper, SerializationFeature}

import scala.jdk.CollectionConverters._

/** Results as JSON, through the Jackson that ships with Spark. */
object Json {
  private val mapper = new ObjectMapper().enable(SerializationFeature.INDENT_OUTPUT)

  private def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case a: Array[_]    => a.toSeq.map(toJava).asJava
    case d: Double if d.isNaN || d.isInfinite => null
    case other          => other
  }

  def write(v: Any): String = mapper.writeValueAsString(toJava(v))
}
