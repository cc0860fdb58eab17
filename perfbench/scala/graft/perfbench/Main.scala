package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark process. `run.py` generates the inputs, starts this
  * main once per run and checks the outputs it leaves behind:
  *
  *   Main <workload> <workDir> <seconds> <trace 0|1> <cpus> <dataDir>
  *
  * `dataDir` holds the fixed analytics data sets (perfbench/data).
  *
  * Everything it measures is written to `<workDir>/jvm.json`; spans of
  * a traced run go to `<workDir>/spans.jsonl`.
  */
object Main {

  /** The session every workload uses: the same settings as graft.Bench. */
  def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, work, seconds, trace, cpus, data) = args
    val out = mutable.LinkedHashMap[String, Any]("workload" -> workload)
    val spans = new Spans(trace == "1")
    val ctx = Ctx(work, seconds.toDouble, trace == "1", cpus.toInt, data, out, spans)
    workload match {
      case "backlog" | "backlog_2dirs" => Pump.backlog(ctx)
      case "tail" => Pump.tail(ctx)
      case "analytics" => Analytics.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    out("old_gen_peak_mb") = oldGenPeakMb()
    if (ctx.trace) spans.write(s"$work/spans.jsonl")
    Files.writeString(Paths.get(s"$work/jvm.json"), Json(out))
    SparkSession.getActiveSession.foreach(_.stop())
  }

  /** VmHWM of this process, in MB. Each workload reads it at a fixed
    * point of its work.
    */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Peak occupancy of the collector's old generation, in MB: the part of
    * the heap the data the program keeps alive sets.
    */
  def oldGenPeakMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured Gen"))
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
  }

  /** Progress line for the run's JVM log. */
  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}

final case class Ctx(work: String, seconds: Double, trace: Boolean, cpus: Int, data: String,
    out: mutable.LinkedHashMap[String, Any], spans: Spans) {
  def config: String = s"$work/config.yaml"
}

/** Minimal JSON writer for the result file (numbers, strings, booleans,
  * sequences and string-keyed maps).
  */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** In-memory span recorder for the traced run: each span has a name, a
  * start and end (monotonic ns), its parent span and a run id; written
  * once at exit. Disabled, it only runs the timed body.
  */
final class Spans(enabled: Boolean) {
  private val done = mutable.ArrayBuffer.empty[(Int, String, Long, Long, Int, String)]
  private val stack = mutable.Stack.empty[Int]
  private var next = 0
  private val run = java.util.UUID.randomUUID().toString

  /** Time `body` as a span named `name`, nested under the open span. */
  def apply[T](name: String)(body: => T): T = if (!enabled) body else {
    val id = { next += 1; next }
    val parent = stack.headOption.getOrElse(0)
    stack.push(id)
    val t0 = System.nanoTime()
    try body
    finally {
      stack.pop()
      record(id, name, t0, System.nanoTime(), parent)
    }
  }

  /** Record an already-timed span (e.g. from a listener event). */
  def add(name: String, startNs: Long, endNs: Long, parent: Int = 0): Int = synchronized {
    next += 1
    record(next, name, startNs, endNs, parent)
    next
  }

  private def record(id: Int, name: String, s: Long, e: Long, parent: Int): Unit =
    synchronized { done += ((id, name, s, e, parent, run)) }

  def write(path: String): Unit = {
    val lines = synchronized(done.toVector).map { case (id, n, s, e, p, r) =>
      Json(Map("id" -> id, "name" -> n, "start_ns" -> s, "end_ns" -> e,
        "parent" -> p, "run" -> r))
    }
    Files.write(Paths.get(path), (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
  }
}
