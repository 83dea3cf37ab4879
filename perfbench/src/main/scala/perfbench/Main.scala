package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Benchmark entry point:
  *
  * {{{
  * Main --workload load_cohort|lookup_serve|prs_workbench --seed N
  *      --seconds S --trace 0|1 --work DIR [--out DIR] [--size full|tiny]
  * }}}
  *
  * Untraced runs print the end-to-end metrics, traced runs the per-layer
  * ones; both print one `metric` line per number (name, value, unit,
  * sample count) and end with one JSON line. `perfbench/README.md` maps
  * each per-layer metric to the end-to-end metric it should move.
  */
object Main {
  val Workloads = Seq("load_cohort", "lookup_serve", "prs_workbench")
  val SetupReps = 3
  /** Probes that fill lookup_serve's caches and JIT before it is timed
    * (the C2 compiler is still busy on the probe path for several seconds
    * after the first probes), and probes per traced pass; both are whole
    * blocks of the key stream. */
  val WarmProbes: Int = 30 * Probe.Block.length
  val TracedProbes: Int = 20 * Probe.Block.length

  final case class Metric(name: String, value: Double, unit: String, n: Int)

  def main(args: Array[String]): Unit = {
    def arg(k: String): Option[String] =
      args.sliding(2).collectFirst { case Array(`k`, v) => v }
    val workload = arg("--workload").filter(Workloads.contains).getOrElse(
      sys.error(s"--workload must be one of ${Workloads.mkString(", ")}"))
    val seed = arg("--seed").map(_.toLong).getOrElse(sys.error("--seed is required"))
    val seconds = arg("--seconds").map(_.toDouble).getOrElse(10.0)
    val trace = arg("--trace").contains("1")
    val work = new File(arg("--work").getOrElse(sys.error("--work is required")))
    val out = new File(arg("--out").getOrElse(work.getPath))
    val sz = if (arg("--size").contains("tiny")) Gen.Tiny else Gen.Full
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)

    val spark = graft.Tables.session(master = s"local[$cores]")
    Seq[SparkSession => Unit](graft.qc.Hwe.register, graft.functions.GenomicsFunctions.register,
      graft.functions.VectorExpressions.register, graft.functions.SimHashExpression.register,
      graft.functions.MinHashExpression.register, graft.transform.Normalizer.register,
      graft.transform.Annotations.register).foreach(_(spark))
    val w = new Workloads(spark, work, seed, sz)
    log(s"session up, $cores cores")
    val metrics =
      try {
        if (trace) new Traced(w, workload, cores, out, seed).run()
        else untraced(w, workload, seconds)
      } finally spark.stop()

    metrics.foreach { m =>
      println(s"metric ${m.name} ${Fmt.num(m.value)} ${m.unit} n=${m.n} workload=$workload")
    }
    w.problems.foreach(p => println(s"FAILED $p"))
    println(s"operations attempted=${w.attempted} failed=${w.failed} failed_frac=" +
      Fmt.num(if (w.attempted == 0) 0.0 else w.failed.toDouble / w.attempted))
    val body = metrics.filter(m => !m.name.contains(":"))
      .map(m => s"${Fmt.jsonStr(m.name)}: {\"value\": ${Fmt.num(m.value)}, \"unit\": ${Fmt.jsonStr(m.unit)}}")
    println(s"""{"correct": ${w.failed == 0}, "attempted": ${w.attempted}, "failed": ${w.failed}, """ +
      s""""metrics": {${body.mkString(", ")}}}""")
    if (w.failed > 0) sys.exit(3)
  }

  private val start = System.nanoTime()
  /** Progress to stderr, for the run log. */
  def log(msg: String): Unit =
    System.err.println(s"[perfbench ${Fmt.fixed((System.nanoTime() - start) / 1e9, 1)}s] $msg")

  def rss(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0) finally src.close()
  }

  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete()
  }

  /** Set up `SetupReps` times (reporting the median), then measure for
    * `seconds`. Names with a ':' are printed as lines only: they are the
    * workload-specific end-to-end figures behind the contract metrics. */
  def untraced(w: Workloads, workload: String, seconds: Double): Seq[Metric] = {
    val out = ArrayBuffer[Metric]()
    var db: String = null
    // load_cohort's set-up loads one small file of the same sample set per
    // repetition into a scratch store (create, then appends): program work
    // that a slower load shows in, and the warm-up of class loading, JIT
    // and codegen on both the create and the append path
    val setup = (1 to SetupReps).map { rep =>
      val t0 = System.nanoTime()
      w.generate(workload, rep)
      if (workload == "load_cohort") w.warmLoads(1)
      else {
        if (db != null) rmrf(new File(db))
        db = w.freshDb("serve")
        w.loadSequence(db, compact = false)
        if (workload == "prs_workbench") { w.loadAnnotations(db); w.prepareWeights(db) }
      }
      log(s"setup $rep done")
      (System.nanoTime() - t0) / 1e9
    }
    out += Metric("setup_s", Fmt.median(setup), "s", setup.length)
    System.gc() // set-up's garbage is not the measured window's to collect
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    /** Start another iteration only if a typical one still fits. */
    def more(iters: Seq[Double]) = iters.isEmpty || elapsed + Fmt.median(iters) <= seconds

    workload match {
      case "load_cohort" =>
        val runs = ArrayBuffer[w.LoadRun]()
        while (more(runs.map(r => r.fileSecs.sum + r.compactSec).toSeq)) {
          val d = w.freshDb("load")
          runs += w.loadSequence(d, compact = true)
          rmrf(new File(d))
        }
        val files = runs.flatMap(_.fileSecs).toSeq
        val perS = runs.map(r => r.rows / r.fileSecs.sum).toSeq
        val bytes = runs.map(_.storeBytes.toDouble / w.inputBytes).toSeq
        out += Metric("op_p50_ms", Fmt.median(files) * 1e3, "ms", files.length)
        out += Metric("work_per_s", Fmt.median(perS), "1/s", perS.length)
        out += Metric("store_bytes_per_input_byte", Fmt.median(bytes), "ratio", bytes.length)
        out += Metric("load_cohort:load_var_per_s", Fmt.median(perS), "var/s", perS.length)
        out += Metric("load_cohort:load_file_s_p50", Fmt.median(files), "s", files.length)
        out += Metric("load_cohort:compact_s", Fmt.median(runs.map(_.compactSec).toSeq), "s", runs.length)
      case "lookup_serve" =>
        w.probeLoop(db, WarmProbes, 0L) // fill caches and JIT; not reported
        val jobs0 = w.engine.snapshot().jobs
        val stats = w.probeLoop(db, 0, System.nanoTime() + (seconds * 1e9).toLong)
        val jobs = w.engine.snapshot().jobs - jobs0
        val ms = stats.map(_.ms)
        log(s"probe p50 by half: ${Fmt.fixed(Fmt.median(ms.take(ms.length / 2)), 2)} " +
          s"${Fmt.fixed(Fmt.median(ms.drop(ms.length / 2)), 2)}; by kind: " + Probe.Kinds.indices.map(k =>
            Fmt.fixed(Fmt.median(stats.filter(_.kind == k).map(_.ms)), 2)).mkString(" "))
        out += Metric("op_p50_ms", Fmt.median(ms), "ms", ms.length)
        out += Metric("work_per_s", ms.length / (ms.sum / 1e3), "1/s", ms.length)
        out += Metric("store_bytes_per_input_byte",
          w.bytesUnder(new File(db)).toDouble / w.inputBytes, "ratio", 1)
        out += Metric("lookup_serve:lookup_p50_ms", Fmt.median(ms), "ms", ms.length)
        Fmt.tail(ms).foreach { case (p, v) => out += Metric(s"lookup_serve:lookup_${p}_ms", v, "ms", ms.length) }
        out += Metric("lookup_serve:lookup_per_s", ms.length / (ms.sum / 1e3), "1/s", ms.length)
        out += Metric("lookup_serve:spark_jobs", jobs.toDouble, "count", ms.length)
      case "prs_workbench" =>
        val seqs = ArrayBuffer[Double]()
        while (more(seqs.toSeq)) seqs += w.workbench(db)
        val med = Fmt.median(seqs.toSeq)
        out += Metric("op_p50_ms", med * 1e3, "ms", seqs.length)
        out += Metric("work_per_s", w.WorkbenchSteps / med, "1/s", seqs.length)
        out += Metric("store_bytes_per_input_byte",
          w.bytesUnder(new File(db)).toDouble / w.inputBytes, "ratio", 1)
        out += Metric("prs_workbench:workbench_s", med, "s", seqs.length)
    }
    out += Metric("peak_rss_mb", rss(), "MB", 1)
    out.toSeq
  }
}
