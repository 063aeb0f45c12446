package perfbench

import java.util.SplittableRandom

/** Seeded corpus generator. Everything the program receives is derived
  * from the seed here, so one seed always yields byte-identical inputs.
  *
  * The corpus models per-user AI memories:
  *  - users with Zipf-skewed memory counts;
  *  - `dim`-d vectors around planted per-user topic centres, so a query
  *    drawn near a topic has true neighbours to recall;
  *  - `content` text drawn from a Zipf vocabulary of stems with inflected
  *    surface forms (walk/walks/walking/walked), so the Porter2 stemmer
  *    does real work at index and query time;
  *  - one numeric attribute `importance` in [0, 1000) for Range filters. */
final case class Memory(user: Int, doc: Long, vec: Array[Float],
    content: String, importance: Double)

final class Gen(val seed: Long, val dim: Int) {
  import Gen._

  /** Independent stream per purpose, so adding draws to one purpose never
    * shifts another's. */
  def rng(purpose: Int): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + purpose * 0xBF58476D1CE4E5B9L)

  val stems: Array[String] = {
    val r = rng(1)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < VocabSize) {
      val n = 2 + r.nextInt(2)
      seen += (0 until n).map(_ => Syllables(r.nextInt(Syllables.length))).mkString
    }
    seen.toArray
  }

  /** Users from most to least active. The first has the most memories and
    * draws the most requests, so every seed gives the workload the same
    * shape and only the users' identities and contents change. */
  def userOrder(users: Int): Array[Int] = shuffle(Array.tabulate(users)(identity), rng(2))

  /** Zipf counts of `total` memories over `users` users, in the activity
    * order of [[userOrder]], every user at least `minPerUser`. */
  def userCounts(users: Int, total: Int, minPerUser: Int): Array[Int] = {
    val w = Array.tabulate(users)(i => 1.0 / (i + 1))
    val s = w.sum
    val counts = new Array[Int](users)
    userOrder(users).zipWithIndex.foreach { case (u, rank) =>
      counts(u) = math.max(minPerUser, (w(rank) / s * total).toInt)
    }
    counts
  }

  /** A user drawn by Zipf over the activity order. */
  def activeUser(order: Array[Int], r: SplittableRandom): Int =
    order(Gen.zipf(r, order.length, 1.0))

  /** Topic centres of one user: `topicsPerUser` gaussian directions. */
  def centres(user: Int): Array[Array[Float]] = {
    val r = rng(1000 + user)
    Array.fill(TopicsPerUser)(Array.fill(dim)(gauss(r).toFloat))
  }

  /** Vector near topic `t` of `user`; `noise` is the per-axis sigma. */
  def near(c: Array[Float], r: SplittableRandom, noise: Double): Array[Float] =
    Array.tabulate(dim)(j => (c(j) + noise * gauss(r)).toFloat)

  /** A word of topic `t`: a Zipf-ranked stem from the topic's slice of the
    * vocabulary, in one of its inflected forms. */
  def word(topicKey: Int, r: SplittableRandom): String = {
    val rank = zipf(r, VocabSize / 4, 1.1)
    val stem = stems((topicKey * 131 + rank) % VocabSize)
    stem + Suffixes(r.nextInt(Suffixes.length))
  }

  def text(topicKey: Int, r: SplittableRandom, words: Int): String =
    (0 until words).map(_ => word(topicKey, r)).mkString(" ")

  /** `n` memories of `user`, doc ids `firstDoc` onwards. */
  def memories(user: Int, firstDoc: Long, n: Int, stream: Int): Array[Memory] = {
    val cs = centres(user)
    val r = rng(100000 + user * 1000 + stream)
    Array.tabulate(n) { i =>
      val t = r.nextInt(cs.length)
      Memory(user, firstDoc + i, near(cs(t), r, DocNoise),
        text(user * TopicsPerUser + t, r, 6 + r.nextInt(10)),
        math.floor(r.nextDouble() * 1000.0))
    }
  }

  /** Stable digest of generated inputs, for the determinism test. */
  def digest(ms: Iterable[Memory]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val bb = java.nio.ByteBuffer.allocate(8)
    ms.foreach { m =>
      md.update(s"${m.user}|${m.doc}|${m.content}|${m.importance}|".getBytes("UTF-8"))
      m.vec.foreach { f => bb.clear(); bb.putInt(java.lang.Float.floatToIntBits(f)); md.update(bb.array, 0, 4) }
    }
    md.digest().map("%02x".format(_)).mkString
  }
}

object Gen {
  val VocabSize = 4000
  val TopicsPerUser = 4
  val DocNoise = 0.35
  val QueryNoise = 0.35
  val Syllables: Array[String] = Array("ka", "lo", "mi", "ren", "sa", "tor",
    "vel", "nu", "pa", "qui", "dor", "fen", "gal", "hib", "jun", "mor",
    "nep", "ost", "prel", "rist", "sul", "tam", "urb", "vox", "wend", "yal")
  /** Inflections Porter2 folds back onto the stem. */
  val Suffixes: Array[String] = Array("", "", "s", "ing", "ed", "er", "es", "ly")

  def gauss(r: SplittableRandom): Double = {
    // Box-Muller; consumes two draws so the stream stays aligned
    val u1 = math.max(r.nextDouble(), 1e-300)
    val u2 = r.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  /** Zipf(s) rank in [0, n) by inversion over the harmonic prefix sums. */
  def zipf(r: SplittableRandom, n: Int, s: Double): Int = {
    val cdf = cdfs.synchronized(cdfs.getOrElseUpdate((n, s), {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }))
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
  private val cdfs = scala.collection.mutable.Map.empty[(Int, Double), Array[Double]]

  def shuffle[T](a: Array[T], r: SplittableRandom): Array[T] = {
    val b = a.clone()
    var i = b.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1); val t = b(i); b(i) = b(j); b(j) = t; i -= 1
    }
    b
  }

  def uuid(kind: Int, n: Long): String = f"$kind%08x-0000-4000-8000-$n%012x"
}
