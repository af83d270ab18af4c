package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files => NioFiles, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark JVM entry point.
  *
  *   graftbench.Main run --workload W --seed N --seconds S --trace 0|1
  *                       --cores C --dir RUN_DIR --out RESULT.json
  *   graftbench.Main probe --cores C --dir RUN_DIR
  *
  * `run` generates the workload's inputs from the seed, runs one cold pass
  * and then warm passes for S seconds, checks every pass's output, and
  * writes its figures to RESULT.json (perfbench/run.py prints the final
  * line). `probe` only measures set-up: JVM start to a session that can
  * accept its first job. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, cores: Int, dir: File, out: File)

  /** Collected figures of one run. */
  final class Result {
    var correct = true
    var attempted = 0L
    var failed = 0L
    val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
    val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
    val inputs = mutable.LinkedHashMap.empty[String, Any]
    val problems = mutable.ArrayBuffer.empty[String]

    def check(ok: Boolean, what: => String): Unit =
      if (!ok) { correct = false; problems += what; System.err.println(s"[graftbench] CHECK FAILED: $what") }

    def layer(name: String, value: Double, unit: String): Unit = layers(name) = (value, unit)
  }

  def session(cores: Int, dir: File): SparkSession =
    graft.GraftSession.builder("graftbench", s"local[$cores]")
      .config("spark.local.dir", new File(dir, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(dir, "warehouse").getAbsolutePath)
      .getOrCreate()

  /** Seconds since this JVM started (RuntimeMXBean start time). */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def log(msg: String): Unit = System.err.println(s"[graftbench] $msg")

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toVector.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def parse(args: Array[String]): (String, Map[String, String]) = {
    val kv = args.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    (args.headOption.getOrElse(""), kv)
  }

  def main(argv: Array[String]): Unit = {
    val (mode, kv) = parse(argv)
    val cores = kv("cores").toInt
    val dir = new File(kv("dir")).getAbsoluteFile
    dir.mkdirs()
    mode match {
      case "probe" =>
        val spark = session(cores, dir)
        val setup = sinceJvmStart()
        spark.stop()
        println(f"SETUP $setup%.6f")
      case "run" =>
        val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
          kv("trace") == "1", cores, dir, new File(kv("out")))
        run(a)
      case other => sys.error(s"unknown mode '$other' (run|probe)")
    }
  }

  def run(a: Args): Unit = {
    val (spark, startS) = time(session(a.cores, a.dir))
    val setupS = sinceJvmStart()
    spark.sparkContext.setLogLevel("ERROR")
    val res = new Result
    if (a.trace) spark.sparkContext.addSparkListener(new Trace.Listener)
    val w: Workload = a.workload match {
      case "marc_index" => new MarcIndex(spark, a, res)
      case "registry_construct" => new RegistryConstruct(spark, a, res)
      case other => sys.error(s"unknown workload '$other'")
    }
    try {
      val (_, prepS) = time(w.prepare())
      log(f"inputs ready in $prepS%.2f s")
      // cold pass, settling passes, then warm passes until the measuring
      // time is spent
      val (_, cold) = time(w.pass(0, traced = false))
      log(f"cold pass $cold%.2f s")
      var i = 1
      while (i <= w.settlePasses) {
        val (_, s) = time(w.pass(i, traced = false))
        log(f"settling pass $i $s%.2f s")
        i += 1
      }
      val warm = mutable.ArrayBuffer.empty[Double]
      val deadline = System.nanoTime() + a.seconds * 1000000000L
      while (warm.size < w.minWarm || System.nanoTime() < deadline) {
        System.gc() // no pass inherits the previous pass's garbage
        warm += time(w.pass(i, traced = false))._2
        log(f"warm pass $i ${warm.last}%.2f s")
        i += 1
      }
      val wall = median(warm)
      res.endToEnd("setup_s") = (setupS, "s")
      res.endToEnd("cold_s") = (cold, "s")
      res.endToEnd("wall_s") = (wall, "s")
      res.endToEnd("records_per_s") = (w.records / wall, "1/s")
      res.inputs("warm_passes") = warm.size
      res.inputs("warm_s") = warm.toSeq
      if (a.trace) {
        System.gc()
        Trace.resetHeapPeak()
        val (spans, traced) = time(w.pass(i, traced = true))
        Trace.drain(spark.sparkContext)
        res.layer("GraftSession.start_s", startS, "s")
        val comparable = w.tracedWall(spans)
        res.layer("trace.wall_s", comparable, "s")
        res.layer("trace.overhead_s", comparable - wall, "s")
        w.layers(spans)
        val all = Trace.total(spans)
        Trace.sparkMetrics(all, spans.map(_.seconds).sum, a.cores)
          .foreach { case (n, v, u) => res.layer(n, v, u) }
        res.layer("spark.storage_retained_mb", Trace.storageRetainedMb(spark.sparkContext), "MB")
        res.layer("jvm.heap_peak_mb", Trace.heapPeakMb(), "MB")
      }
      w.finish()
      res.endToEnd("heap_retained_mb") = (Trace.heapRetainedMb(), "MB")
      if (a.trace)
        res.layer("failed_share", if (res.attempted > 0) res.failed.toDouble / res.attempted else 0.0, "share")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        res.check(ok = false, s"run aborted: $e")
    } finally {
      w.close()
      writeResult(a.out, res)
      spark.stop()
    }
  }

  def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def jsonValue(v: Any): String = v match {
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case xs: Seq[_] => xs.map(jsonValue).mkString("[", ", ", "]")
    case other => jsonString(other.toString)
  }

  private def spanJson(s: Trace.Span): String = {
    val a = Trace.agg(s)
    s"""{"name": ${jsonString(s.name)}, "start_ns": ${s.startNs}, "end_ns": ${s.endNs}, """ +
      s""""jobs": ${a.jobs}, "stages": ${a.stages}, "tasks": ${a.tasks}, "executor_run_ms": ${a.runMs}}"""
  }

  private def writeResult(out: File, r: Result): Unit = {
    def metrics(m: mutable.LinkedHashMap[String, (Double, String)]) =
      m.map { case (k, (v, u)) => s"${jsonString(k)}: {\"value\": ${jsonValue(v)}, \"unit\": ${jsonString(u)}}" }
        .mkString("{", ", ", "}")
    val json = s"""{"correct": ${r.correct}, "attempted": ${r.attempted}, "failed": ${r.failed}, """ +
      s""""end_to_end": ${metrics(r.endToEnd)}, "per_layer": ${metrics(r.layers)}, """ +
      s""""inputs": ${r.inputs.map { case (k, v) => s"${jsonString(k)}: ${jsonValue(v)}" }.mkString("{", ", ", "}")}, """ +
      s""""problems": ${r.problems.map(jsonString).mkString("[", ", ", "]")}, """ +
      s""""spans": ${Trace.spans.map(spanJson).mkString("[", ", ", "]")}}"""
    NioFiles.writeString(Paths.get(out.getPath), json)
  }
}

/** One workload: inputs made in [[prepare]], one pass per [[pass]] call
  * (checked against the generator's ground truth), per-layer figures
  * from the spans of a traced pass in [[layers]]. */
trait Workload {
  /** Input records of one pass, the base of `records_per_s`. */
  def records: Double
  /** Untimed passes between the cold pass and the timed ones, for code
    * whose JIT warm-up outlasts the cold pass. */
  def settlePasses: Int = 0
  /** Timed warm passes to run even when they outlast the measuring time. */
  def minWarm: Int = 1
  def prepare(): Unit
  /** Run pass `i`; a traced pass returns the spans it opened. */
  def pass(i: Int, traced: Boolean): Seq[Trace.Span]
  def layers(spans: Seq[Trace.Span]): Unit
  /** The part of a traced pass that repeats an untraced pass. */
  def tracedWall(spans: Seq[Trace.Span]): Double
  def finish(): Unit = ()
  def close(): Unit = ()
}
