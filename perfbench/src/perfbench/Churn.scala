package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.api.{GraftService, SearchRequest}
import graft.operators.SearchParams

/** `churn`: writes beside reads from one client thread running a seeded
  * op sequence, so every count repeats exactly for a seed. The collection
  * starts flushed; each step inserts a batch across users, removes a
  * fraction of one user's live docs and runs distributed user-filtered
  * searches. Flush policy: `flush` when the pending ops (docs inserted +
  * pairs removed since the last flush) reach the collection's
  * `maxPendingOps`, one `optimize` tick after every flush, then one
  * served read through `GraftService.serveUser`. Every write changes the
  * state fingerprint, so that read is the cache-miss regime. */
object Churn {
  val Users = 8
  val InitialMemories = 3000
  val BatchDocs = 100
  val RemoveDocs = 20
  val SearchesPerStep = 4
  /** Steps per flush cycle: the pending ops of this many steps reach
    * `maxPendingOps`, so flush and optimize run once per cycle. */
  val StepsPerCycle = 2
  val MaxPendingOps: Long = (BatchDocs + RemoveDocs) * StepsPerCycle
  val MaxSegments = 1
  val Centroids = 16
  val TopK = 10
  val Nprobe = 4
  /** Searches timed with and without spans, for the tracing overhead. */
  val OverheadPairs = 4

  def run(spark: SparkSession, dir: String, out: Out, seconds: Double): Unit = {
    val g = new Gen(out.seed, Corpus.Dim)
    val counts = g.userCounts(Users, InitialMemories, 40)
    var nextDoc = 0L
    val live = Array.fill(Users)(mutable.LinkedHashMap.empty[Long, Memory])
    (0 until Users).foreach { u =>
      g.memories(u, nextDoc, counts(u), 0).foreach(m => live(u)(m.doc) = m)
      nextDoc += counts(u)
    }
    val order = g.userOrder(Users)
    val r = g.rng(9)
    def zipfUser(): Int = g.activeUser(order, r)

    val t0 = System.nanoTime()
    val base = s"$dir/db"
    val svc = new GraftService(spark, base)
    svc.createCollection(Corpus.config(MaxPendingOps, MaxSegments, Centroids))
    val coll = svc.collection(Corpus.Name)
    Log.time("insert")(live.flatMap(_.values).grouped(3000).foreach(b => svc.insert(Corpus.insertRequest(b.toSeq))))
    Log.time("flush")(svc.flush(Corpus.Name))
    out.setupS += (System.nanoTime() - t0) / 1e9

    var pending = 0L
    var steps = 0
    val violations = mutable.ArrayBuffer.empty[String]
    def checkIds(u: Int, ids: Seq[String], what: String): Unit = {
      val bad = ids.filterNot(id => live(u).contains(docOf(id)))
      if (bad.nonEmpty && violations.size < 5)
        violations += s"$what for user $u returned non-live or foreign docs ${bad.take(3)}"
    }
    var writerNs = 0L
    def write[A](name: String)(f: => A): Option[A] = {
      val a = System.nanoTime()
      val res = out.op(Trace.span(name)(f))
      writerNs += System.nanoTime() - a
      res
    }

    /** `GraftService.search`, split at its layer boundaries, without the
      * uuid formatting of its result. */
    def splitSearch(u: Int, q: Array[Float]): Seq[String] = {
      val snap = Trace.span("core.snapshot")(coll.snapshot())
      Trace.span("core.search")(snap.search(q.map(_.toDouble).toSeq,
          SearchParams(TopK, Some(Nprobe)), Seq(uuidBytes(Corpus.userUuid(u))))
        .select("doc_id").collect().map(row => uuidStr(row.getAs[Array[Byte]](0))).toSeq)
    }

    /** The tracing cost of a search: the same requests on the same state,
      * through [[splitSearch]] with and without spans, back to back, the
      * order alternating. The spans recorded here are dropped again. */
    def tracingOverhead(): Unit = {
      val mark = Trace.lastId
      (0 until OverheadPairs).foreach { i =>
        val u = zipfUser()
        val q = queryVec(g, u, r)
        Seq(i % 2 == 0, i % 2 != 0).foreach { traced =>
          Trace.on = traced
          val a = System.nanoTime()
          val ok = try out.op(Trace.span("op.search")(splitSearch(u, q))).isDefined
            finally Trace.on = false
          if (ok) out.sample(if (traced) "overhead.traced_ms" else "overhead.untraced_ms",
            (System.nanoTime() - a) / 1e6)
        }
      }
      Trace.discardAfter(mark)
    }

    def measure(): Unit = {
      val io0 = Probe.writeBytes()
      val steps0 = steps
      writerNs = 0L
      var ingestedDocs = 0L
      var ingestedBytes = 0.0
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      // runs whole flush cycles until the deadline has passed, so every
      // run measures the same op mix
      while (System.nanoTime() < deadline || steps % StepsPerCycle != 0) {
        Trace.newRequest()
        // 1. insert a batch across users
        val batch = (0 until BatchDocs).map(_ => zipfUser()).groupBy(identity).toSeq.sortBy(_._1)
          .flatMap { case (u, xs) =>
            val ms = g.memories(u, nextDoc, xs.size, 1 + steps); nextDoc += xs.size; ms
          }
        if (write("core.insert")(svc.insert(Corpus.insertRequest(batch))).isDefined) {
          batch.foreach(m => live(m.user)(m.doc) = m)
          pending += batch.size
          ingestedDocs += batch.size
          ingestedBytes += batch.map(Corpus.bytes).sum
        }
        // 2. remove a fraction of one user's live docs
        val ru = zipfUser()
        val victims = Gen.shuffle(live(ru).keys.toArray, g.rng(50000 + steps)).take(RemoveDocs)
        if (write("core.remove")(svc.remove(Corpus.Name, Seq(Corpus.userUuid(ru)),
            victims.map(Corpus.docUuid).toSeq)).isDefined) {
          victims.foreach(live(ru).remove)
          pending += victims.length
        }
        // flush policy: flush at maxPendingOps, one optimize tick after it
        if (pending >= MaxPendingOps) {
          write("core.flush")(svc.flush(Corpus.Name))
          val before = segmentDirs(coll.path)
          write("core.compact")(svc.optimize(Corpus.Name))
          val created = segmentDirs(coll.path) -- before
          out.sample("compact_bytes_rewritten",
            created.toSeq.map(s => Probe.treeSize(Paths.get(coll.path, "segments", s))._1).sum.toDouble)
          pending = 0
          // 4. a served read, rebuilt after the writes above
          val u = zipfUser()
          val q = queryVec(g, u, r)
          val a = System.nanoTime()
          val res = out.op(Trace.span("op.serve") {
            val c = Corpus.userUuid(u)
            val v = ServeUserSpan(Corpus.Name, c)(svc.serveUser(Corpus.Name, c))
            Trace.span("core.served.vector")(v.search(q.toSeq, TopK, Nprobe)).docIds
          })
          val b = System.nanoTime()
          res.foreach { ids => out.sample("served_ms", (b - a) / 1e6); checkIds(u, ids, "served read") }
        }
        // 3. distributed user-filtered searches
        (0 until SearchesPerStep).foreach { _ =>
          val u = zipfUser()
          val q = queryVec(g, u, r)
          if (Trace.on) {
            out.sample("segments_at_read", coll.toc.segments.size)
            out.sample("tail_batches_at_read", listNames(s"${coll.path}/ops").count(_.startsWith("batch=")))
            out.sample("tomb_files_at_read", listNames(s"${coll.path}/tombstones").count(_.endsWith(".parquet")))
          }
          val a = System.nanoTime()
          val res = out.op(Trace.span("op.search") {
            if (!Trace.on) svc.search(SearchRequest(Corpus.Name, q.toSeq, TopK,
              Seq(Corpus.userUuid(u)), numExploredCentroids = Some(Nprobe))).docIds
            else splitSearch(u, q)
          })
          val b = System.nanoTime()
          res.foreach { ids => out.sample("search_ms", (b - a) / 1e6); checkIds(u, ids, "search") }
        }
        steps += 1
      }
      out.value("steps", steps - steps0)
      out.value("loop_s", (System.nanoTime() - deadline) / 1e9 + seconds)
      out.value("writer_s", writerNs / 1e9)
      out.value("ingested_docs", ingestedDocs.toDouble)
      out.value("ingested_bytes", ingestedBytes)
      out.value("io_write_bytes_measured", (Probe.writeBytes() - io0).toDouble)
    }
    Trace.on = out.trace
    try measure() finally Trace.on = false
    if (out.trace) tracingOverhead()

    val (bytes, files) = Probe.treeSize(Paths.get(coll.path))
    out.value("bytes_stored", bytes.toDouble)
    out.value("files_stored", files.toDouble)
    out.value("space_amp", bytes / live.map(_.values.map(Corpus.bytes).sum).sum)

    out.check("results_live_and_own_user", violations.isEmpty, violations.mkString("; "))
    val model = live.zipWithIndex.flatMap { case (m, u) =>
      m.keys.map(d => s"${Corpus.userUuid(u)}/${Corpus.docUuid(d)}") }.toSet
    val actual = coll.snapshot().liveDocs.map(_.select("user_id", "doc_id").collect()
      .map(row => s"${uuidStr(row.getAs[Array[Byte]](0))}/${uuidStr(row.getAs[Array[Byte]](1))}").toSet)
      .getOrElse(Set.empty)
    out.check("live_set_equals_model", actual == model,
      s"model ${model.size}, collection ${actual.size}, missing ${(model -- actual).take(3)}, extra ${(actual -- model).take(3)}")
  }

  private def queryVec(g: Gen, u: Int, r: java.util.SplittableRandom): Array[Float] = {
    val cs = g.centres(u)
    g.near(cs(r.nextInt(cs.length)), r, Gen.QueryNoise)
  }

  private def listNames(d: String): Seq[String] = {
    val p = Paths.get(d)
    if (!Files.exists(p)) Nil
    else { val s = Files.list(p); try s.iterator().asScala.map(_.getFileName.toString).toList finally s.close() }
  }

  private def segmentDirs(path: String): Set[String] = listNames(s"$path/segments").toSet

  private def docOf(uuid: String): Long = java.lang.Long.parseLong(uuid.takeRight(12), 16)

  def uuidBytes(uuid: String): Array[Byte] = {
    val hex = uuid.replace("-", "")
    Array.tabulate(16)(i => Integer.parseInt(hex.substring(i * 2, i * 2 + 2), 16).toByte)
  }

  def uuidStr(b: Array[Byte]): String = {
    val h = b.map(x => f"${x & 0xff}%02x").mkString
    s"${h.substring(0, 8)}-${h.substring(8, 12)}-${h.substring(12, 16)}-${h.substring(16, 20)}-${h.substring(20, 32)}"
  }
}
