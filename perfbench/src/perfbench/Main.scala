package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  * `Main --workload <serve|churn> --seed <n> --seconds <s> --trace <0|1>
  *   --dir <scratch dir> --out <json> --queries <queries.json>`.
  * Writes the run's raw result (see [[Out]]) to `--out`; `run.py` turns it
  * into metrics. */
object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = kv("workload")
    val out = new Out(workload, kv("seed").toLong, kv("trace") == "1")
    val dir = kv("dir")
    val cpus = Runtime.getRuntime.availableProcessors().min(4)
    val spark = Log.time("spark session")(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addSparkListener(JobListener)
    Trace.sc = spark.sparkContext
    val gc0 = Probe.gcMillis()
    try {
      workload match {
        case "serve" => Serve.run(spark, dir, out, kv("seconds").toDouble, kv("queries"))
        case "churn" => Churn.run(spark, dir, out, kv("seconds").toDouble)
        case other => sys.error(s"unknown workload: $other")
      }
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      out.value("gc_s", (Probe.gcMillis() - gc0) / 1000.0)
      out.value("heap_live_mb", Probe.liveHeapMb())
      Files.writeString(Paths.get(kv("out")), out.toJson)
    } finally spark.stop()
  }
}

/** Set-up progress lines for the run's log. */
object Log {
  def time[A](what: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    System.err.println(f"[perfbench] $what%s: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    r
  }
}

/** Prints the digest of the inputs `serve` and `churn` generate for a
  * seed: `GenDigest <seed>`. The determinism test compares them. */
object GenDigest {
  def main(args: Array[String]): Unit = {
    val g = new Gen(args(0).toLong, Corpus.Dim)
    val counts = g.userCounts(Serve.Users, Serve.Memories, 40)
    val ms = (0 until Serve.Users).flatMap(u => g.memories(u, 0L, counts(u), 0)) ++
      g.memories(0, 0L, Churn.BatchDocs, 1)
    val reqs = Serve.requests(g, Serve.Users).map(_.body).mkString("\n")
    println(g.digest(ms) + " " + reqs.hashCode.toHexString)
  }
}
