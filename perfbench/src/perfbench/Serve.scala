package perfbench

import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.api.{GraftHttpServer, GraftService, SearchRequest}
import graft.operators.DocFilter

/** Times one `GraftService.serveUser` lookup and tells a served-view cache
  * hit from a rebuild: a hit returns the instance the previous lookup for
  * the same user returned. */
object ServeUserSpan {
  private val last = mutable.Map.empty[(String, String), AnyRef]
  def apply[V <: AnyRef](c: String, u: String)(lookup: => V): V = {
    val t0 = System.nanoTime()
    val v = lookup
    val t1 = System.nanoTime()
    val hit = last.synchronized {
      val h = last.get((c, u)).exists(_ eq v)
      last((c, u)) = v
      h
    }
    Trace.record(if (hit) "api.serve_user.hit" else "api.serve_user.build", t0, t1)
    v
  }
}

/** `serve`: read-only served traffic over loopback HTTP, a closed loop of
  * [[Serve.Clients]] connections. The corpus is flushed and every user's
  * view is loaded in set-up, so the served-view cache holds the whole
  * working set and no request runs a Spark job. */
object Serve {
  val Users = 4
  val Memories = 4000
  val Clients = 3
  val Centroids = 16
  val PoolSize = 4096
  val WarmUp = 256
  val TopK = 10
  val Nprobe = 4

  /** One generated request: its route, JSON body, and what the checks
    * and the traced in-process replay need. */
  final case class Req(kind: String, route: String, body: String, user: Int,
      vec: Array[Float], text: String, lo: Double)

  def requests(g: Gen, users: Int): Array[Req] = {
    val r = g.rng(7)
    val order = g.userOrder(users)
    Array.fill(PoolSize) {
      val u = g.activeUser(order, r)
      val cs = g.centres(u)
      val t = r.nextInt(cs.length)
      val vec = g.near(cs(t), r, Gen.QueryNoise)
      val topic = u * Gen.TopicsPerUser + t
      val x = r.nextDouble()
      val head = s"""{"collection_name":"${Corpus.Name}","user_ids":["${Corpus.userUuid(u)}"]"""
      def v = Json.floats(vec)
      // an even split over the four routes, /serve_search halved between
      // its plain and Range-filtered forms: no measured traffic exists to
      // weight them by
      if (x < 0.125)
        Req("vector", "/serve_search",
          s"""$head,"vector":$v,"top_k":$TopK,"nprobe":$Nprobe}""", u, vec, "", -1)
      else if (x < 0.25) {
        val lo = math.floor(r.nextDouble() * 700)
        Req("filtered", "/serve_search",
          s"""$head,"vector":$v,"top_k":$TopK,"nprobe":$Nprobe,"filter":{"range":{"field":"importance","gte":$lo,"lte":${lo + 300}}}}""",
          u, vec, "", lo)
      } else if (x < 0.50) {
        val q = g.text(topic, r, 3)
        Req("rank", "/serve_rank",
          s"""$head,"field":"content","query":"$q","k":$TopK}""", u, vec, q, -1)
      } else if (x < 0.75) {
        val q = g.text(topic, r, 2)
        Req("hybrid", "/serve_hybrid_rank",
          s"""$head,"field":"content","query":"$q","vector":$v,"k":$TopK,"nprobe":$Nprobe,"window":50}""",
          u, vec, q, -1)
      } else {
        val w = g.word(topic, r)
        Req("term", "/serve_term_search",
          s"""$head,"filter":{"field":"content","value":"$w"},"limit":$TopK}""", u, vec, w, -1)
      }
    }
  }

  /** POST `body`; returns the response text, or throws on a non-200. */
  def post(port: Int, route: String, body: String): String = {
    val c = new URL(s"http://127.0.0.1:$port$route").openConnection()
      .asInstanceOf[HttpURLConnection]
    c.setRequestMethod("POST")
    c.setDoOutput(true)
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    c.setFixedLengthStreamingMode(bytes.length)
    val os = c.getOutputStream
    try os.write(bytes) finally os.close()
    val code = c.getResponseCode
    val in = if (code == 200) c.getInputStream else c.getErrorStream
    val text = try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
    if (code != 200) throw new RuntimeException(s"$route -> HTTP $code: $text")
    text
  }

  /** The service the HTTP server calls: traced runs time every
    * `serveUser` lookup, the one served-path call the server makes
    * through an overridable method. */
  final class TracedService(spark: SparkSession, base: String)
      extends GraftService(spark, base) {
    override def serveUser(c: String, u: String): ServedUserSearch =
      ServeUserSpan(c, u)(super.serveUser(c, u))
  }

  /** `queries`: the query-surface spec (perfbench/queries.json) that a
    * traced run measures after the served traffic. */
  def run(spark: SparkSession, dir: String, out: Out, seconds: Double, queries: String): Unit = {
    val g = new Gen(out.seed, Corpus.Dim)
    val counts = g.userCounts(Users, Memories, 40)
    var next = 0L
    val corpus = Array.tabulate(Users) { u =>
      val ms = g.memories(u, next, counts(u), 0); next += counts(u); ms
    }
    val pool = requests(g, Users)

    val t0 = System.nanoTime()
    val svc = new TracedService(spark, s"$dir/db")
    svc.createCollection(Corpus.config(100000L, 10, Centroids))
    // batches interleave users, as concurrent agents' writes would
    Log.time("insert")(corpus.flatten.grouped(10000).foreach(b => svc.insert(Corpus.insertRequest(b.toSeq))))
    Log.time("flush")(svc.flush(Corpus.Name))
    Trace.on = out.trace
    // views load concurrently, as a server warming its per-user caches would
    val views = Log.time("load views")(parallel((0 until Users).map(u =>
      () => svc.serveUser(Corpus.Name, Corpus.userUuid(u)))))
    val server = new GraftHttpServer(svc).start()
    val port = server.boundPort
    // one untimed pass over part of the pool, from every client, warms
    // the JIT on every route
    parallel((0 until Clients).map(c => () =>
      pool.slice(c * WarmUp / Clients, (c + 1) * WarmUp / Clients).foreach(q => post(port, q.route, q.body))))
    Trace.on = false
    out.setupS += (System.nanoTime() - t0) / 1e9
    val (dbBytes, dbFiles) = Probe.treeSize(java.nio.file.Paths.get(s"$dir/db"))
    out.value("bytes_stored", dbBytes.toDouble)
    out.value("files_stored", dbFiles.toDouble)
    out.value("space_amp", dbBytes.toDouble / corpus.map(_.map(Corpus.bytes).sum).sum)

    try {
      out.phases(measure(port, pool, views, seconds, out))
      Log.time("checks")(check(svc, port, pool, corpus, out))
    } finally server.stop()
    if (out.trace) Queries.run(spark, dir, out, queries)
  }

  private def measure(port: Int, pool: Array[Req], views: IndexedSeq[GraftService#ServedUserSearch],
      seconds: Double, out: Out): Unit = {
    val io0 = Probe.writeBytes()
    val (jobs0, stages0, tasks0) = (JobListener.totalJobs, JobListener.totalStages, JobListener.totalTasks)
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val lat = Array.fill(Clients)(mutable.ArrayBuffer.empty[(String, Double)])
    val tStart = System.nanoTime()
    val threads = (0 until Clients).map { c =>
      val th = new Thread(() => {
        var i = c * (PoolSize / Clients)
        while (System.nanoTime() < deadline) {
          val q = pool(i % PoolSize)
          i += 1
          Trace.newRequest()
          val a = System.nanoTime()
          val ok = out.op(post(port, q.route, q.body)).isDefined
          val b = System.nanoTime()
          if (ok) {
            lat(c) += ((q.kind, (b - a) / 1e6))
            if (Trace.on) {
              Trace.record("api.http", a, b)
              replay(views(q.user), q)
            }
          }
        }
      })
      th.start(); th
    }
    threads.foreach(_.join())
    val wall = (System.nanoTime() - tStart) / 1e9
    lat.foreach(_.foreach { case (k, ms) => out.sample("request_ms", ms); out.sample(s"request_ms.$k", ms) })
    out.value("requests", lat.map(_.size).sum.toDouble)
    out.value("measured_s", wall)
    out.value("io_write_bytes_measured", (Probe.writeBytes() - io0).toDouble)
    org.apache.spark.PerfbenchBus.drain(Trace.sc)
    out.value("spark_jobs_measured", (JobListener.totalJobs - jobs0).toDouble)
    out.value("spark_stages_measured", (JobListener.totalStages - stages0).toDouble)
    out.value("spark_tasks_measured", (JobListener.totalTasks - tasks0).toDouble)
  }

  /** Runs the thunks on one thread each; returns their results in order. */
  def parallel[A](fs: Seq[() => A]): IndexedSeq[A] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(fs.size)
    try fs.map(f => pool.submit(() => f())).map(_.get()).toIndexedSeq
    finally pool.shutdown()
  }

  /** Traced runs repeat each request in-process on the user's served view
    * right after its HTTP round trip: the served call itself runs inside
    * the server, out of the benchmark's reach. */
  private def replay(v: GraftService#ServedUserSearch, q: Req): Unit = q.kind match {
    case "vector" => Trace.span("core.served.vector")(v.search(q.vec.toSeq, TopK, Nprobe))
    case "filtered" => Trace.span("core.served.filtered")(v.search(q.vec.toSeq, TopK, Nprobe,
      Some(DocFilter.Range("importance", Some(q.lo), Some(q.lo + 300)))))
    case "rank" => Trace.span("core.served.rank")(v.rankedSearch("content", q.text, TopK))
    case "hybrid" => Trace.span("core.served.hybrid")(v.hybridSearch("content", q.text,
      q.vec.map(_.toDouble), TopK, Nprobe, 50))
    case "term" => Trace.span("core.served.term")(v.termSearch(DocFilter.Contains("content", q.text), TopK))
  }

  /** Output checks, outside the timed region: served answers equal the
    * distributed GraftService path on a seeded sample, and served vector
    * recall@10 against exact brute force. */
  private def check(svc: GraftService, port: Int, pool: Array[Req],
      corpus: Array[Array[Memory]], out: Out): Unit = {
    def ids(resp: String, key: String): Seq[String] =
      graft.api.Json.strs(graft.api.Json.obj(graft.api.Json.parse(resp))(key))
    val byKind = pool.groupBy(_.kind)
    // one request of each kind, compared concurrently
    val mismatches = parallel(byKind.toSeq.sortBy(_._1).map { case (kind, qs) => () =>
      val q = qs.head
      val u = Seq(Corpus.userUuid(q.user))
      val served = ids(post(port, q.route, q.body), if (kind == "rank" || kind == "hybrid") "ids" else "doc_ids")
      val dist: Seq[String] = kind match {
        case "vector" | "filtered" =>
          svc.search(SearchRequest(Corpus.Name, q.vec.toSeq, TopK, u,
            filter = if (kind == "filtered") Some(DocFilter.Range("importance", Some(q.lo), Some(q.lo + 300))) else None,
            numExploredCentroids = Some(Nprobe), centroidDistanceRatio = 1e9)).docIds
        case "rank" => svc.rankedSearch(Corpus.Name, "content", q.text, TopK, u).map(_._1)
        case "hybrid" => svc.hybridSearch(Corpus.Name, "content", q.text,
          q.vec.map(_.toDouble).toSeq, TopK, window = 50, nprobe = Nprobe,
          centroidDistanceRatio = 1e9, userIds = u).map(_._1)
        case "term" => svc.termSearch(Corpus.Name, DocFilter.Contains("content", q.text), TopK, u)
      }
      if (served == dist) None else Some(s"$kind user ${q.user}: served $served != distributed $dist")
    }).flatten
    out.check("served_equals_distributed", mismatches.isEmpty, mismatches.take(3).mkString("; "))

    val sample = byKind("vector").take(50)
    val recalls = sample.map { q =>
      val got = ids(post(port, q.route, q.body), "doc_ids").toSet
      Corpus.exactTopK(q.vec, corpus(q.user), TopK).count(got.contains).toDouble / TopK
    }
    val recall = recalls.sum / recalls.length
    out.value("recall_at_10", recall)
    out.check("recall_at_10", recall >= MinRecall, f"recall@10 $recall%.4f, floor $MinRecall")
  }

  /** Floor on served recall@10 over 50 vector requests: the planted
    * topics are well separated, and the lowest recall seen over the
    * steadiness seeds was 0.998 (see perfbench/STEADINESS.md). */
  val MinRecall = 0.99
}
