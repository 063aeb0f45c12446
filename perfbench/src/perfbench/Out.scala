package perfbench

import scala.collection.mutable

/** What one run hands to `run.py`: raw samples, scalar values, checks and
  * (traced runs) spans with their Spark work. Percentiles, self times and
  * the printed metrics are computed from it in Python. */
final class Out(val workload: String, val seed: Long, val trace: Boolean) {
  val setupS = mutable.ArrayBuffer.empty[Double]
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val values = mutable.LinkedHashMap.empty[String, Double]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  /** Prefixes sample and value names: a traced `serve` run measures one
    * untraced phase (prefix `base.`) before its traced one, for the
    * overhead. */
  var prefix = ""

  /** Runs `measure` once, or in a traced run twice: untraced, then traced. */
  def phases(measure: => Unit): Unit =
    if (!trace) measure
    else {
      prefix = "base."; measure
      prefix = ""; Trace.on = true
      try measure finally Trace.on = false
    }

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(prefix + name, mutable.ArrayBuffer.empty) += v
  def value(name: String, v: Double): Unit = values(prefix + name) = v
  def check(name: String, ok: Boolean, detail: String = ""): Unit =
    checks += ((name, ok, detail))

  /** Count one attempted operation; a thrown error is counted as failed
    * and its time is never recorded. Safe to call from several threads. */
  def op[A](f: => A): Option[A] = {
    synchronized(attempted += 1)
    try Some(f)
    catch {
      case e: Exception =>
        synchronized {
          failed += 1
          if (failures.size < 20) failures += s"${e.getClass.getSimpleName}: ${e.getMessage}"
        }
        None
    }
  }

  def toJson: String = {
    val sb = new StringBuilder
    def str(s: String): String = Json.str(s)
    def num(d: Double): String = Json.num(d)
    sb ++= "{\"workload\":" ++= str(workload) ++= ",\"seed\":" ++= seed.toString
    sb ++= ",\"trace\":" ++= trace.toString
    sb ++= ",\"setup_s\":" ++= setupS.map(num).mkString("[", ",", "]")
    sb ++= s",\"attempted\":$attempted,\"failed\":$failed"
    sb ++= ",\"failures\":" ++= failures.map(str).mkString("[", ",", "]")
    sb ++= ",\"checks\":" ++= checks.map { case (n, ok, d) =>
      s"""{"name":${str(n)},"ok":$ok,"detail":${str(d)}}""" }.mkString("[", ",", "]")
    sb ++= ",\"values\":" ++= values.map { case (k, v) => s"${str(k)}:${num(v)}" }
      .mkString("{", ",", "}")
    sb ++= ",\"samples\":" ++= samples.map { case (k, v) =>
      s"${str(k)}:${v.map(num).mkString("[", ",", "]")}" }.mkString("{", ",", "}")
    val work = JobListener.work
    sb ++= ",\"spans\":["
    var first = true
    Trace.spans.sortBy(_.start).foreach { s =>
      if (!first) sb += ','
      first = false
      sb ++= s"[${s.id},${s.parent},${s.req},${str(s.name)},${s.start},${s.end}"
      work.get(s.id).foreach { w =>
        val iv = w.taskIntervals.map { case (a, b) => s"[$a,$b]" }.mkString("[", ",", "]")
        sb ++= s""",{"jobs":${w.jobs},"stages":${w.stages},"tasks":${w.tasks},"input_bytes":${w.inputBytes},"shuffle_bytes":${w.shuffleBytes},"spill_bytes":${w.spillBytes},"task_ms":$iv}"""
      }
      sb += ']'
    }
    sb ++= "]"
    sb ++= ",\"epoch_offset_ms\":" ++= num(epochOffsetMs) += '}'
    sb.toString
  }

  /** Converts span nanoTime stamps to the epoch milliseconds Spark uses
    * for task launch/finish times: epoch_ms = nano / 1e6 + offset. */
  private val epochOffsetMs: Double =
    System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def floats(v: Array[Float]): String = v.map(_.toString).mkString("[", ",", "]")
}
