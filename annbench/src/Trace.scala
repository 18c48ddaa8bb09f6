package annbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** In-memory span recorder. A span has a name, start and end (ns), the
  * span open around it when it began (its parent), and a request id (doc
  * id, batch id, setup or round index). Spans are recorded on one thread;
  * spans measured elsewhere are added afterwards with [[add]].
  * When disabled, [[span]] only runs its body.
  */
final class Tracer(val enabled: Boolean) {
  private val nameIds = mutable.LinkedHashMap.empty[String, Int]
  private var nameOf = new Array[Int](1024)
  private var start = new Array[Long](1024)
  private var end = new Array[Long](1024)
  private var parent = new Array[Int](1024)
  private var req = new Array[Long](1024)
  private var n = 0
  private var open = -1

  def size: Int = n

  private def grow(): Unit = if (n == start.length) {
    val m = n * 2
    nameOf = java.util.Arrays.copyOf(nameOf, m)
    start = java.util.Arrays.copyOf(start, m)
    end = java.util.Arrays.copyOf(end, m)
    parent = java.util.Arrays.copyOf(parent, m)
    req = java.util.Arrays.copyOf(req, m)
  }

  def add(name: String, startNs: Long, endNs: Long, parentId: Int, reqId: Long): Int = {
    grow()
    nameOf(n) = nameIds.getOrElseUpdate(name, nameIds.size)
    start(n) = startNs
    end(n) = endNs
    parent(n) = parentId
    req(n) = reqId
    n += 1
    n - 1
  }

  @inline def span[A](name: String, reqId: Long)(body: => A): A =
    if (!enabled) body
    else {
      val id = add(name, System.nanoTime(), 0L, open, reqId)
      open = id
      try body
      finally {
        end(id) = System.nanoTime()
        open = parent(id)
      }
    }

  /** Per span name: (spans, total ns, self ns). Self time is a span's
    * duration minus the time its children cover; children of one parent
    * never overlap because they are recorded on one thread.
    */
  def summary: Map[String, (Long, Long, Long)] = {
    val childNs = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (parent(i) >= 0) childNs(parent(i)) += end(i) - start(i)
      i += 1
    }
    val names = nameIds.toSeq.sortBy(_._2).map(_._1).toArray
    val count = new Array[Long](names.length)
    val total = new Array[Long](names.length)
    val self = new Array[Long](names.length)
    i = 0
    while (i < n) {
      val k = nameOf(i)
      count(k) += 1
      total(k) += end(i) - start(i)
      self(k) += end(i) - start(i) - childNs(i)
      i += 1
    }
    names.indices.map(k => names(k) -> ((count(k), total(k), self(k)))).toMap
  }

  /** One JSON object per line: id, name, start_ns, end_ns, parent, req. */
  def write(path: Path): Unit = {
    val names = nameIds.toSeq.sortBy(_._2).map(_._1).toArray
    val w = new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(path), "UTF-8"))
    try {
      var i = 0
      while (i < n) {
        w.write(s"""{"id":$i,"name":"${names(nameOf(i))}","start_ns":${start(i)},""" +
          s""""end_ns":${end(i)},"parent":${parent(i)},"req":${req(i)}}""")
        w.newLine()
        i += 1
      }
    } finally w.close()
  }
}
