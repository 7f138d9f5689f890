package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** The engine's own JVM-global format counters, read as one vector. They
  * are process-wide, so a delta is only attributable to an op when that op
  * is the only one in flight; [[Ops]] checks that nothing moves them
  * between ops. */
object Counters {
  import graft.format.{GpxCommitLog, GpxFileReader, GpxPointIndex}
  val names: Vector[String] = Vector(
    "format.scan.footer_reads", "format.scan.pixels_decoded",
    "format.scan.data_bytes_read", "format.scan.cache_hits",
    "format.scan.cache_misses", "format.commit.head_reads",
    "format.commit.manifest_parses", "format.commit.manifest_bytes_written",
    "format.index.mirror_hits", "format.index.mirror_loads",
    "format.index.refusals")
  def snapshot(): Array[Long] = Array(
    GpxFileReader.footerReads.get, GpxFileReader.pixelsDecoded.get,
    GpxFileReader.dataBytesRead.get, GpxFileReader.ChunkCache.hits.get,
    GpxFileReader.ChunkCache.misses.get, GpxCommitLog.headReads.get,
    GpxCommitLog.manifestParses.get, GpxCommitLog.manifestBytesWritten.get,
    GpxPointIndex.MemoryMirror.hits.get, GpxPointIndex.MemoryMirror.loads.get,
    GpxPointIndex.MemoryMirror.refusals.get)
}

/** One timed interval. `parent` is 0 for an op's root span. */
final case class Span(id: Int, parent: Int, name: String, op: Long,
    startUs: Long, endUs: Long)

/** Records spans around layer calls made from the benchmark's own code.
  * While off, `span` only runs its body. Spans stay in memory until the
  * run writes them out at exit. */
final class Tracer {
  var on = false
  private val baseUs = System.currentTimeMillis() * 1000
  private val baseNs = System.nanoTime()
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  var op: Long = 0L

  /** microseconds on the wall clock the listener's event times use */
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = nowUs
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, name, op, t0, nowUs)
      }
    }

  /** child span built from listener times (epoch ms), parented to the
    * deepest benchmark span of `op` that contains its start */
  def addChild(name: String, startMs: Long, endMs: Long,
      parent: Option[Int] = None): Int = {
    val s = startMs * 1000
    val p = parent.getOrElse {
      val inOp = spans.filter(x => x.op == op && x.name != "job" &&
        x.name != "stage" && x.startUs <= s + 1000 && s <= x.endUs + 1000)
      if (inOp.isEmpty) 0 else inOp.maxBy(_.startUs).id
    }
    val id = nextId; nextId += 1
    spans += Span(id, p, name, op, s, math.max(s, endMs * 1000))
    id
  }
}

/** Job and stage events of the benchmark's ops, keyed by the op id that
  * the client thread sets as a local property before each call. */
final class OpListener extends SparkListener {
  import OpListener._
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, Stage]()

  private def stage(id: Int): Stage =
    stages.computeIfAbsent(id, _ => Stage(id, 0L, 0L, null,
      mutable.ArrayBuffer.empty[Long]))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    jobs.put(e.jobId, Job(e.jobId, prop(Ops.OpKey).map(_.toLong).getOrElse(-1L),
      prop(Ops.PhaseKey).getOrElse(""), e.time, e.time, e.stageIds))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stage(e.stageInfo.stageId).synchronized {
      stage(e.stageInfo.stageId).start =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = stage(e.stageInfo.stageId)
    s.synchronized {
      s.info = e.stageInfo
      s.end = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
      if (s.start == 0L) s.start = e.stageInfo.submissionTime.getOrElse(s.end)
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stage(e.stageId)
    s.synchronized { s.tasks += e.taskInfo.duration }
  }

  /** remove and return the jobs of one op */
  def take(op: Long): Seq[Job] = {
    import scala.jdk.CollectionConverters._
    val mine = jobs.values.asScala.filter(_.op == op).toSeq.sortBy(_.id)
    mine.foreach(j => jobs.remove(j.id))
    mine
  }
}

object OpListener {
  final case class Job(id: Int, op: Long, phase: String, start: Long,
      var end: Long, stages: Seq[Int])
  final case class Stage(id: Int, var start: Long, var end: Long,
      var info: StageInfo, tasks: mutable.ArrayBuffer[Long])
}

/** What one op did, for the run's result file. */
final case class OpRecord(id: Long, kind: String, label: String, batch: Int,
    traced: Boolean, latencyMs: Double, serviceMs: Double, var ok: Boolean,
    values: mutable.LinkedHashMap[String, Double])

/** Runs ops one at a time on the client thread: checks that no format
  * counter moves between ops, takes counter deltas around each op, and,
  * when tracing, turns the op's jobs and stages into spans and
  * per-layer values. */
final class Ops(spark: SparkSession, val tracer: Tracer,
    listener: Option[OpListener]) {
  val records = mutable.ArrayBuffer.empty[OpRecord]
  private var last = Counters.snapshot()
  private var nextOp = 1L
  /** whether the call in flight is traced */
  def tracing: Boolean = tracer.on
  def tracing_=(b: Boolean): Unit = tracer.on = b && listener.isDefined
  /** in a traced run, ops of odd batches (passes, rounds) are traced and
    * those of even batches are not: the tracing overhead is measured
    * between interleaved halves of one process */
  var alternate = false
  private val sc = spark.sparkContext

  /** accept counter movement made outside ops (set-up, warm-up) */
  def resync(): Unit = last = Counters.snapshot()

  /** the value a layer call recorded for the op in flight */
  val values = mutable.LinkedHashMap.empty[String, Double]
  def put(k: String, v: Double): Unit = values(k) = values.getOrElse(k, 0.0) + v

  /** `body` returns whether the op's answer was right. `dueNs` is the
    * open-loop schedule time the latency is measured from; `batch` numbers
    * the pass or round the op belongs to. */
  def run(kind: String, dueNs: Long = -1L, label: String = "",
      batch: Int = -1)(body: => Boolean): OpRecord = {
    val before = Counters.snapshot()
    val moved = Counters.names.indices.filter(i => before(i) != last(i))
    if (moved.nonEmpty) throw new IllegalStateException(
      "format counters moved between ops: " +
        moved.map(i => s"${Counters.names(i)} +${before(i) - last(i)}")
          .mkString(", "))
    val id = nextOp; nextOp += 1
    if (alternate) tracing = batch % 2 != 0
    val traced = tracing
    values.clear()
    sc.setLocalProperty(Ops.OpKey, id.toString)
    tracer.op = id
    val t0 = System.nanoTime()
    val ok =
      if (traced) tracer.span("op")(Ops.attempt(body))
      else Ops.attempt(body)
    val t1 = System.nanoTime()
    sc.setLocalProperty(Ops.OpKey, null)
    sc.setLocalProperty(Ops.PhaseKey, null)
    val after = Counters.snapshot()
    val rec = OpRecord(id, kind, label, batch, traced,
      (t1 - (if (dueNs >= 0) dueNs else t0)) / 1e6, (t1 - t0) / 1e6, ok,
      mutable.LinkedHashMap.empty)
    if (traced) {
      Counters.names.indices.foreach(i =>
        rec.values(Counters.names(i)) = (after(i) - before(i)).toDouble)
      rec.values ++= values
      listener.foreach { l =>
        org.apache.spark.PerfbenchBus.drain(sc)
        execValues(l.take(id), l, rec.values)
      }
    }
    // blocking release OUTSIDE the timed window: async unpersists would
    // otherwise land inside the next op
    graft.CacheScope.release(blocking = true)
    last = Counters.snapshot()
    if (last.indices.exists(i => last(i) != after(i))) throw new
        IllegalStateException("format counters moved while releasing caches")
    records += rec
    if (alternate) tracing = false
    rec
  }

  /** tag the jobs started by `body` with a phase (construct / action) */
  def phase[A](name: String)(body: => A): A = {
    sc.setLocalProperty(Ops.PhaseKey, name)
    try body finally sc.setLocalProperty(Ops.PhaseKey, null)
  }

  private def execValues(jobs: Seq[OpListener.Job], l: OpListener,
      out: mutable.LinkedHashMap[String, Double]): Unit = {
    var stagesN, tasks = 0L
    var runMs, cpuMs, gcMs, shW, shR, shRec, spill = 0.0
    var skew = 1.0
    var slowest = -1L
    jobs.foreach { j =>
      val js = tracer.addChild("job", j.start, j.end)
      j.stages.flatMap(s => Option(l.stages.remove(s))).foreach { s =>
        if (s.info != null && s.info.completionTime.isDefined) {
          stagesN += 1
          tracer.addChild("stage", s.start, s.end, Some(js))
          val m = s.info.taskMetrics
          tasks += s.tasks.size
          runMs += m.executorRunTime
          cpuMs += m.executorCpuTime / 1e6
          gcMs += m.jvmGCTime
          shW += m.shuffleWriteMetrics.bytesWritten
          shR += m.shuffleReadMetrics.totalBytesRead
          shRec += m.shuffleWriteMetrics.recordsWritten
          spill += m.diskBytesSpilled
          if (m.executorRunTime > slowest && s.tasks.nonEmpty) {
            slowest = m.executorRunTime
            val ts = s.tasks.sorted
            val med = ts(ts.size / 2).toDouble
            skew = if (med > 0) ts.last / med else 1.0
          }
        }
      }
    }
    out("exec.jobs") = jobs.size.toDouble
    out("exec.stages") = stagesN.toDouble
    out("exec.tasks") = tasks.toDouble
    out("exec.run_ms") = runMs
    out("exec.cpu_ms") = cpuMs
    out("exec.gc_ms") = gcMs
    out("exec.shuffle_write_bytes") = shW
    out("exec.shuffle_read_bytes") = shR
    out("exec.shuffle_records") = shRec
    out("exec.spill_bytes") = spill
    out("exec.task_skew") = skew
    out("operators.construct_jobs") =
      jobs.count(_.phase == "construct").toDouble
  }
}

object Ops {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"

  /** an op that throws counts as failed, it does not end the run */
  def attempt(body: => Boolean): Boolean =
    try body
    catch {
      case e: Exception =>
        System.err.println(s"op failed: $e")
        false
    }
}
