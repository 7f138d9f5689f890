package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.collection.mutable

/** One workload: set-up (timed, repeated), an untimed warm-up, a measured
  * loop, and end-of-run checks. */
abstract class Workload(val spark: SparkSession, val seed: Long,
    val ops: Ops, val out: String) {
  val tracer: Tracer = ops.tracer
  /** set-up time is measured around this; it runs several times */
  def setup(): Unit
  /** untimed: warm the JIT, and take what the checks need beforehand */
  def prepare(): Unit
  /** run ops until `deadlineNs` */
  def loop(deadlineNs: Long): Unit
  /** end-of-run check, if the workload has one; Some(false) fails it */
  def finish(): Option[Boolean]
  def storedBytesPerUserByte: Double
  def info: Seq[(String, Any)]
  /** per-call values of layer calls (write bytes, compaction bytes...) */
  val calls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def call(k: String, v: Double): Unit =
    calls.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
  val problems = mutable.ArrayBuffer.empty[String]
  def problem(s: String): Boolean = {
    if (problems.size < 20) problems += s
    System.err.println(s"wrong answer: $s")
    false
  }

  /** plan then collect a query, recording the planner and driver values */
  def collect(df: => DataFrame): Array[Row] = {
    val t0 = System.nanoTime()
    val d = tracer.span("planner") { val d = df; d.queryExecution.executedPlan; d }
    ops.put("planner.plan_ms", (System.nanoTime() - t0) / 1e6)
    val rows = ops.phase("action")(tracer.span("action")(d.collect()))
    if (ops.tracing) {
      val ph = d.queryExecution.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        ops.put(s"planner.${if (p == "planning") "physical" else p}_ms",
          ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0))
      }
    }
    ops.put("driver.result_rows", rows.length)
    rows
  }

  /** time a set-up DataFrameWriter call that fills `dir` as a
    * format.write span, recording the bytes it wrote */
  def write(dir: String)(body: => Unit): Unit = {
    tracer.span("format.write")(body)
    if (ops.tracing) call("format.write.bytes", Data.diskBytes(dir).toDouble)
  }
}

object Main {
  private def arg(a: Array[String], k: String): String = {
    val i = a.indexOf(k)
    require(i >= 0 && i + 1 < a.length, s"missing $k")
    a(i + 1)
  }

  private def loadavg: Double = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.getSystemLoadAverage

  private def rssPeakMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  def main(a: Array[String]): Unit = {
    val workload = arg(a, "--workload")
    val seed = arg(a, "--seed").toLong
    val seconds = arg(a, "--seconds").toDouble
    val traced = arg(a, "--trace") == "1"
    val out = new java.io.File(arg(a, "--out")).getAbsolutePath
    val load0 = loadavg
    val t0 = System.nanoTime()
    def mark(what: String): Unit =
      System.err.println(f"perfbench: $what at ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val nproc = Runtime.getRuntime.availableProcessors
    val spark = graft.Tables.localSession(nproc)
    spark.sparkContext.setLogLevel("ERROR")
    mark("session up")
    val tracer = new Tracer
    val listener = if (traced) Some(new OpListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val ops = new Ops(spark, tracer, listener)
    val w: Workload = workload match {
      case "olap_gpx" => new OlapGpx(spark, seed, ops, s"$out/data")
      case "pipeline" => new PipelineRows(spark, seed, ops, s"$out/data")
      case "ingest" => new Ingest(spark, seed, ops, s"$out/data")
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // traced set-ups record the format.write spans of the table writes
    ops.tracing = true
    val setups = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      w.setup()
      (System.nanoTime() - t0) / 1e9
    }
    ops.tracing = false
    mark("set-up done")
    w.prepare()
    mark("prepare done")
    ops.resync()
    val start = System.nanoTime()
    ops.alternate = traced
    w.loop(start + (seconds * 1e9).toLong)
    ops.alternate = false
    val measured = (System.nanoTime() - start) / 1e9
    val finalOk = w.finish()
    mark("measured and checked")
    val stored = w.storedBytesPerUserByte
    val load1 = loadavg
    val res = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> traced,
      "nproc" -> nproc, "loadavg_start" -> load0, "loadavg_end" -> load1,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "jvm_args" -> scala.jdk.CollectionConverters.ListHasAsScala(
        java.lang.management.ManagementFactory.getRuntimeMXBean
          .getInputArguments).asScala.filter(_.startsWith("-X")).toSeq,
      "chunk_cache_bytes" -> graft.format.GpxFileReader.ChunkCache.budgetBytes,
      "measured_s" -> measured,
      "setup_s" -> setups,
      "stored_bytes_per_user_byte" -> stored,
      "rss_peak_mb" -> rssPeakMb,
      "final_check" -> finalOk,
      "problems" -> w.problems.toSeq,
      "calls" -> w.calls,
      "ops" -> ops.records.map(r => mutable.LinkedHashMap[String, Any](
        "id" -> r.id, "kind" -> r.kind, "label" -> r.label,
        "batch" -> r.batch, "traced" -> r.traced,
        "latency_ms" -> r.latencyMs, "service_ms" -> r.serviceMs,
        "ok" -> r.ok, "values" -> r.values)))
    w.info.foreach { case (k, v) => res(k) = v }
    Json.writeFile(s"$out/result.json", res)
    if (traced) {
      val sb = new StringBuilder
      tracer.spans.foreach { s =>
        sb ++= Json.render(mutable.LinkedHashMap[String, Any]("id" -> s.id,
          "parent" -> s.parent, "name" -> s.name, "op" -> s.op,
          "start_us" -> s.startUs, "end_us" -> s.endUs)) += '\n'
      }
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$out/spans.jsonl"),
        sb.toString.getBytes("UTF-8"))
    }
    spark.stop()
  }
}

/** Minimal JSON rendering of maps, sequences, strings and numbers. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }
  def writeFile(path: String, v: Any): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      render(v).getBytes("UTF-8"))
}
