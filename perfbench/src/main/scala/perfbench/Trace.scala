package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Engine counters summed over every task the session ran. */
final case class Engine(runMs: Long, cpuNs: Long, gcMs: Long, shuffleWrite: Long,
                        shuffleRead: Long, spill: Long, output: Long, jobs: Long,
                        tasks: Long) {
  def -(o: Engine): Engine = Engine(runMs - o.runMs, cpuNs - o.cpuNs, gcMs - o.gcMs,
    shuffleWrite - o.shuffleWrite, shuffleRead - o.shuffleRead, spill - o.spill,
    output - o.output, jobs - o.jobs, tasks - o.tasks)
  def +(o: Engine): Engine = Engine(runMs + o.runMs, cpuNs + o.cpuNs, gcMs + o.gcMs,
    shuffleWrite + o.shuffleWrite, shuffleRead + o.shuffleRead, spill + o.spill,
    output + o.output, jobs + o.jobs, tasks + o.tasks)
  def json: String =
    s"""{"executor_run_s":${Fmt.num(runMs / 1e3)},"executor_cpu_s":${Fmt.num(cpuNs / 1e9)},""" +
      s""""gc_s":${Fmt.num(gcMs / 1e3)},"shuffle_write_bytes":$shuffleWrite,""" +
      s""""shuffle_read_bytes":$shuffleRead,"spill_bytes":$spill,"output_bytes":$output,""" +
      s""""jobs":$jobs,"tasks":$tasks}"""
}

/** The benchmark's own task-metric listener. Snapshots are taken after
  * draining the asynchronous listener bus, the way the load verb's
  * `LoadProgress.stage` takes its deltas. */
final class EngineListener(spark: SparkSession) extends SparkListener {
  private val c = Array.fill(9)(new AtomicLong())
  spark.sparkContext.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = c(7).incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c(8).incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c(0).addAndGet(m.executorRunTime)
      c(1).addAndGet(m.executorCpuTime)
      c(2).addAndGet(m.jvmGCTime)
      c(3).addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c(4).addAndGet(m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
      c(5).addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      c(6).addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  def snapshot(): Engine = {
    org.apache.spark.graftbridge.ListenerBridge.flush(spark.sparkContext)
    val v = c.map(_.get())
    Engine(v(0), v(1), v(2), v(3), v(4), v(5), v(6), v(7), v(8))
  }

  def close(): Unit = spark.sparkContext.removeSparkListener(this)
}

/** In-memory span recorder. A span carries its name, start, end, parent
  * and the run id; engine spans also carry the engine-counter delta over
  * their interval. Nothing is written until `write`. A disabled tracer
  * runs the body and records nothing.
  *
  * The tracer also times its own work on the calling thread: span
  * bookkeeping and the listener-bus drains of the engine snapshots. A
  * span's `tracerNs` is that time spent inside it, by its descendants. The
  * listener itself is registered whether or not a tracer is enabled, so
  * this is all a traced run does that an untraced one does not: the same
  * body run untraced takes `end - start - tracerNs`. */
final class Tracer(engine: EngineListener, val runId: String, val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long,
                        eng: Option[Engine], tracerNs: Long) {
    def seconds: Double = (end - start) / 1e9
    /** Traced over untraced wall time. */
    def overheadRatio: Double = (end - start).toDouble / (end - start - tracerNs)
  }

  private val spans = ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var lastId = 0
  private var ownNs = 0L

  /** `withEngine = false` skips the bus drain, for spans far shorter
    * than a Spark job (single point probes). */
  def span[T](name: String, withEngine: Boolean = true)(body: => T): T =
    if (!enabled) body
    else {
      val in = System.nanoTime()
      val e0 = if (withEngine) Some(engine.snapshot()) else None
      lastId += 1
      val id = lastId
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      ownNs += t0 - in
      val own0 = ownNs
      try body
      finally {
        val t1 = System.nanoTime()
        val inner = ownNs - own0
        val eng = e0.map(e => engine.snapshot() - e)
        stack = stack.tail
        spans += Span(id, parent, name, t0, t1, eng, inner)
        ownNs += System.nanoTime() - t1
      }
    }

  def all: Seq[Span] = spans.toSeq
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Self time: a span's duration minus the union of its children. */
  private def selfNs(s: Span, kids: Map[Int, Seq[Span]]): Long = {
    val iv = kids.getOrElse(s.id, Nil).map(k => (k.start, k.end)).sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    (s.end - s.start) - covered
  }

  def write(f: File): Unit = {
    val kids = spans.toSeq.groupBy(_.parent)
    val t0 = if (spans.isEmpty) 0L else spans.map(_.start).min
    val w = new PrintWriter(f, "UTF-8")
    try spans.sortBy(_.start).foreach { s =>
      w.println(s"""{"run_id":${Fmt.jsonStr(runId)},"span_id":${s.id},"parent":${s.parent},""" +
        s""""name":${Fmt.jsonStr(s.name)},"start_ns":${s.start - t0},"end_ns":${s.end - t0},""" +
        s""""self_ns":${selfNs(s, kids)},"tracer_ns":${s.tracerNs}""" +
        s.eng.map(e => s""","spark":${e.json}""").getOrElse("") + "}")
    } finally w.close()
  }
}
