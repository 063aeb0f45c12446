package perfbench

import graft.api.InsertRequest
import graft.core.{AttrField, CollectionConfig}

/** What `serve` and `churn` share: the memory collection's config, its
  * insert requests, ids, and the size of a memory's user data. */
object Corpus {
  val Name = "mem"
  val Dim = 384

  def config(maxPendingOps: Long, maxSegments: Int, centroids: Int): CollectionConfig =
    CollectionConfig(name = Name, numFeatures = Dim,
      initialNumCentroids = centroids, maxPendingOps = maxPendingOps,
      maxNumberOfSegments = maxSegments, userBuckets = 4,
      attributeSchema = Seq(AttrField("content", "text", "english"),
        AttrField("importance", "double")))

  def insertRequest(ms: Seq[Memory]): InsertRequest =
    InsertRequest(Name,
      docIds = ms.map(m => docUuid(m.doc)),
      userIds = ms.map(m => userUuid(m.user)),
      vectors = ms.flatMap(_.vec.toSeq),
      attributes = Map(
        "content" -> ms.map(_.content),
        "importance" -> ms.map(m => m.importance.toString)))

  def userUuid(u: Int): String = Gen.uuid(1, u.toLong)
  def docUuid(d: Long): String = Gen.uuid(2, d)

  def l2(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i); s += d * d; i += 1 }
    s
  }

  /** Bytes of user data in one memory: two 16-byte ids, the f32 vector,
    * the UTF-8 content and the f64 attribute. */
  def bytes(m: Memory): Double =
    32.0 + 4.0 * m.vec.length + m.content.getBytes("UTF-8").length + 8.0

  /** Exact top-k doc ids by L2 over `docs`. */
  def exactTopK(q: Array[Float], docs: Iterable[Memory], k: Int): Seq[String] =
    docs.toSeq.map(m => (l2(q, m.vec), m.doc)).sorted.take(k).map(x => docUuid(x._2))
}
