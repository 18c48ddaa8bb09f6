package annbench

import graft.dict.Annotation

/** Output checks. Each returns the documents that failed, so failures
  * count per document into the run's `failed`.
  */
object Checks {
  /** One annotation as the batch output rows carry it. */
  final case class Ann(doc: Long, entryId: String, begin: Int, end: Int, text: String, annType: String)

  def fromEngine(doc: Long, anns: Seq[Annotation]): Seq[Ann] =
    anns.map(a => Ann(doc, a.dictEntryId, a.beginOffset, a.endOffset, a.text, a.annType))

  /** Documents whose annotation multiset differs between `got` and `want`. */
  def multisetDiff(got: Iterable[Ann], want: Iterable[Ann]): Set[Long] = {
    val counts = new java.util.HashMap[Ann, Integer]()
    got.foreach(a => counts.merge(a, 1, (x, y) => x + y))
    want.foreach(a => counts.merge(a, -1, (x, y) => x + y))
    val bad = Set.newBuilder[Long]
    counts.forEach((a, c) => if (c != 0) bad += a.doc)
    bad.result()
  }

  /** Documents where a planted exact phrase is missing at its offsets. */
  def plantedMissing(planted: Iterable[Planted], found: Iterable[Ann]): Set[Long] = {
    val have = new java.util.HashSet[(Long, String, Int, Int)]()
    found.foreach(a => have.add((a.doc, a.entryId, a.begin, a.end)))
    planted.iterator
      .filterNot(p => have.contains((p.doc.toLong, p.entryId, p.begin, p.end)))
      .map(_.doc.toLong).toSet
  }

  /** One committed micro-batch: the doc ids it carried and, per doc, the
    * marker entry ids found in its output.
    */
  final case class Batch(id: Long, commitNs: Long, docs: Array[Long], markers: Array[Seq[String]])

  /** Stream checks over the committed batches, in batch order:
    * every offered doc is committed exactly once; every doc shows exactly
    * one marker (a doc without one fails, in the first batch too), the one
    * of its batch's dictionary version; versions never go back, so once
    * version v shows, the marker v removed never shows again. Returns the
    * failing docs and the version each batch used.
    */
  def stream(offered: Long, batches: Seq[Batch], markerOf: String => Option[Int])
      : (Set[Long], Seq[(Batch, Int)]) = {
    val bad = Set.newBuilder[Long]
    val seen = new Array[Int](offered.toInt)
    var lastVersion = -1
    val versions = batches.map { b =>
      val vs = b.markers.map(ms => if (ms.length == 1) markerOf(ms.head).getOrElse(-1) else -1)
      val v = if (vs.isEmpty) lastVersion else vs.max
      var i = 0
      while (i < b.docs.length) {
        val d = b.docs(i)
        if (d < 0 || d >= offered) bad += d
        else {
          seen(d.toInt) += 1
          if (vs(i) < 0 || vs(i) != v || v < lastVersion) bad += d
        }
        i += 1
      }
      if (v > lastVersion) lastVersion = v
      (b, v)
    }
    var d = 0
    while (d < seen.length) { if (seen(d) != 1) bad += d.toLong; d += 1 }
    (bad.result(), versions)
  }
}
