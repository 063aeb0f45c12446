package perfbench

import java.util.Locale

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** The query surface: `SparkEntry.queries` entries from the families that
  * neither `serve` nor `churn` reach, run as the last phase of a traced
  * `serve` run. Their inputs are small tables with the testdata's schemas,
  * generated here from a fixed seed, so the expected row counts and
  * digests in `perfbench/queries.json` hold on every run; the run's seed
  * only picks the query order. Each query is timed by writing it to
  * Spark's `noop` sink, so every output column is evaluated. */
object Queries {
  val TableSeed = 42L
  val Reps = 2

  /** name -> (family, expected rows, expected digest), from queries.json. */
  def expected(path: String): Seq[(String, (String, Int, String))] = {
    val js = graft.api.Json.obj(graft.api.Json.parse(
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")))
    js.toSeq.sortBy(_._1).map { case (name, v) =>
      val o = graft.api.Json.obj(v)
      name -> ((o("family").asInstanceOf[String], o("rows").asInstanceOf[Double].toInt,
        o("digest").asInstanceOf[String]))
    }
  }

  def run(spark: SparkSession, dir: String, out: Out, spec: String): Unit = {
    val d = s"$dir/qdata"
    Log.time("query tables")(writeTables(spark, d))
    val exp = expected(spec).toMap
    val order = Gen.shuffle(exp.keys.toArray.sorted, new Gen(out.seed, 1).rng(11))
    def noop(q: String): Unit =
      SparkEntry.queries(q)(spark, d).write.format("noop").mode("overwrite").save()
    // one untimed pass warms codegen and the queries' memoized inputs, and
    // checks each result
    val bad = Log.time("query warm-up")(order.flatMap { q =>
      out.op(digest(SparkEntry.queries(q)(spark, d).collect())).flatMap { case (n, dg) =>
        val (_, en, ed) = exp(q)
        if (n == en && dg == ed) None else Some(s"$q: $n rows digest $dg, expected $en rows $ed")
      }
    })
    out.check("query_row_counts_and_digests", bad.isEmpty, bad.sorted.mkString("; "))
    Trace.on = true
    try (0 until Reps).foreach { _ =>
      order.foreach { q =>
        Trace.newRequest()
        val a = System.nanoTime()
        if (out.op(Trace.span("op.query")(noop(q))).isDefined)
          out.sample(s"query_s.$q", (System.nanoTime() - a) / 1e9)
      }
    } finally Trace.on = false
    // the same queries timed by count(), which Catalyst may prune
    order.foreach { q =>
      val a = System.nanoTime()
      if (out.op(SparkEntry.queries(q)(spark, d).count()).isDefined)
        out.sample(s"query_count_s.$q", (System.nanoTime() - a) / 1e9)
    }
  }

  /** (rows, order-insensitive digest): every row rendered with floats at
    * six significant digits and timestamps as UTC instants, the rendered
    * rows sorted, then hashed. */
  def digest(rows: Array[Row]): (Int, String) = {
    def cell(v: Any): String = v match {
      case null => "null"
      case x: Double => String.format(Locale.ROOT, "%.6g", Double.box(x))
      case x: Float => String.format(Locale.ROOT, "%.6g", Double.box(x.toDouble))
      case x: java.sql.Timestamp => x.toInstant.toString
      case x: java.time.Instant => x.toString
      case x: Array[Byte] => x.map(b => f"${b & 0xff}%02x").mkString
      case x: Row => x.toSeq.map(cell).mkString("{", ",", "}")
      case x: scala.collection.Map[_, _] => x.toSeq.map { case (k, w) => cell(k) + ":" + cell(w) }.sorted.mkString("{", ",", "}")
      case x: scala.collection.Seq[_] => x.map(cell).mkString("[", ",", "]")
      case x => x.toString
    }
    val lines = rows.map(r => r.toSeq.map(cell).mkString("|")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    (rows.length, md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString)
  }

  /** Writes `lineitem`, `events`, `documents` and `embeddings` under
    * `d`, at the testdata's sf0.001 row counts, with the columns the
    * chosen queries read. */
  def writeTables(spark: SparkSession, d: String): Unit = {
    import spark.implicits._
    val g = new Gen(TableSeed, 64)
    def save(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$d/$name.parquet")

    val rl = g.rng(20)
    save((0 until 6000).map { i =>
      val qty = (1 + rl.nextInt(50)).toDouble
      val price = math.rint(qty * (900 + rl.nextInt(100000) / 100.0) * 100) / 100
      (i / 4 + 1L, i % 4 + 1, qty, price, rl.nextInt(11) / 100.0,
        Seq("A", "N", "R")(rl.nextInt(3)), Seq("F", "O")(rl.nextInt(2)))
    }.toDF("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
      "l_returnflag", "l_linestatus"), "lineitem")

    val re = g.rng(21)
    val start = 1704067200000000L // 2024-01-01T00:00:00Z in micros
    var t = start
    save((0 until 1000).map { i =>
      t += (re.nextDouble() * 2.6e9).toLong // mean gap 21.7 min over 15 users
      (i.toLong, t, re.nextInt(15).toLong, Seq("view", "click", "purchase", "signup", "error")(re.nextInt(5)),
        math.rint(re.nextDouble() * 20000) / 100, s"""{"k": ${re.nextInt(100)}}""")
    }.toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"), col("user_id"),
        col("event_type"), col("value"), col("props")), "events")

    val rd = g.rng(22)
    val docs = Array.tabulate(500) { i =>
      val n = 10 + rd.nextInt(90)
      (0 until n).map(_ => Words(Gen.zipf(rd, Words.length, 1.0))).mkString(" ")
    }
    // one document in ten repeats an earlier one, so the dedup queries
    // have duplicates to find
    (0 until 500).filter(_ => rd.nextInt(10) == 0).foreach(i => docs(i) = docs(rd.nextInt(500)))
    save(docs.zipWithIndex.map { case (text, i) =>
      (i.toLong, text, "en", Seq("web", "books", "code")(i % 3), text.length.toLong)
    }.toSeq.toDF("doc_id", "text", "lang", "source", "n_chars"), "documents")

    val rv = g.rng(23)
    val centres = Array.fill(8)(Array.fill(g.dim)(Gen.gauss(rv).toFloat))
    save((0 until 500).map { i =>
      val c = rv.nextInt(centres.length)
      (i.toLong, g.near(centres(c), rv, 0.5).toSeq, c)
    }.toDF("vec_id", "embedding", "label"), "embeddings")
  }

  /** The documents' vocabulary: the terms the chosen queries look for,
    * among common words, in Zipf order. */
  val Words: Array[String] = Array("the", "data", "a", "merge", "of", "join", "stream",
    "vector", "to", "batch", "query", "index", "and", "spark", "table", "search", "in",
    "partition", "shuffle", "row", "column", "key", "plan", "scan", "filter", "sort",
    "window", "user", "memory", "segment", "flush", "write", "read", "cache", "node",
    "engine", "cluster", "file", "log", "time", "value", "score", "rank", "term", "token",
    "document", "embedding", "model", "graph", "set")
}

/** Writes the query surface for the DuckDB cross-check
  * (`perfbench/oracle_check.py`): `QueryDump <dir> <queries.json>` writes
  * the generated tables, each query's output as parquet under `out/`, and
  * the queries' `SparkEntry.oracleSql` as `oracle_sql.json`. */
object QueryDump {
  def main(args: Array[String]): Unit = {
    val Array(dir, spec) = args
    val spark = org.apache.spark.sql.SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      Queries.writeTables(spark, dir)
      val names = Queries.expected(spec).map(_._1)
      names.foreach { q =>
        SparkEntry.queries(q)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$dir/out/$q")
      }
      val sql = names.map(q => Json.str(q) + ":" + Json.str(SparkEntry.oracleSql(q))).mkString("{", ",", "}")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "oracle_sql.json"), sql)
    } finally spark.stop()
  }
}
