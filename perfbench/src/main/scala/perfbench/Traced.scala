package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions.{col, lit}

import graft.vcf.VcfReader

/** The traced run. After two small warm-up loads (class loading, JIT and
  * codegen of the load path), it runs the three workload bodies and the
  * direct layer calls under spans: the load body, which also leaves the
  * uncompacted serving store, then the probe stream on that store, then
  * the workbench, then the layer calls. `trace.overhead_ratio` is the
  * traced wall time of the run's own workload body over the same time
  * less the tracer's own work inside it (see `Tracer`), which is what the
  * body takes untraced. Per-layer metrics come only from this pass:
  * `spark.*` covers the whole pass except its untraced set-up steps (each
  * span's own share is in the span file). The spans are written to
  * `<out>/spans-<workload>-<seed>.jsonl`. */
final class Traced(w: Workloads, workload: String, cores: Int, out: File, seed: Long) {
  import Main.{Metric, rmrf}

  private val LoadStages = Seq("parse_count", "write_genotypes", "genotype_qc", "join_qc",
    "schema_check", "write_tables")

  def run(): Seq[Metric] = {
    w.generate("prs_workbench", 1)
    w.warmLoads(2)
    val serve = w.freshDb("serve")

    val t = new Tracer(w.engine, s"$workload-$seed-${ProcessHandle.current().pid()}",
      enabled = true)
    val off = w.tracer
    w.tracer = t
    // untraced set-up steps inside the pass are kept out of its time and
    // engine counters
    var skipSec = 0.0
    var skipEngine = Engine(0, 0, 0, 0, 0, 0, 0, 0, 0)
    def untraced(body: => Unit): Unit = {
      w.tracer = off
      val e0 = w.engine.snapshot()
      val t0 = System.nanoTime()
      body
      skipSec += (System.nanoTime() - t0) / 1e9
      skipEngine = skipEngine + (w.engine.snapshot() - e0)
      w.tracer = t
    }
    val pass0 = w.engine.snapshot()
    val passT0 = System.nanoTime()

    // the load body leaves the uncompacted serving store
    val loadRun = t.span("workload:load_cohort")(w.loadSequence(w.freshDb("load"),
      compact = true, keep = Some(serve)))
    untraced {
      w.loadAnnotations(serve)
      w.prepareWeights(serve)
      w.probeLoop(serve, Main.WarmProbes, 0L)
    }
    val probeStats = t.span("workload:lookup_serve")(
      w.probeLoop(serve, Main.TracedProbes, 0L))
    // nothing before this runs the workbench verbs, so warm them first
    if (workload == "prs_workbench") untraced(w.workbench(serve))
    t.span("workload:prs_workbench")(w.workbench(serve))
    val direct = layerCalls(serve)
    val e = w.engine.snapshot() - pass0 - skipEngine
    val passSec = (System.nanoTime() - passT0) / 1e9 - skipSec
    Main.log("traced pass done")

    out.mkdirs()
    val spanFile = new File(out, s"spans-$workload-$seed.jsonl")
    t.write(spanFile)
    println(s"spans ${t.all.length} written to ${spanFile.getPath}")

    val m = ArrayBuffer[Metric]()
    def sec(name: String): Double = t.named(name).map(_.seconds).sum
    val k = w.cohort.files.length
    val st = loadRun.stages
    def stage(n: String) = st.filter(_._1 == n)
    m += Metric("vcf.parse_s", direct("parse"), "s", 3)
    m += Metric("vcf.parse_var_per_s", w.cohort.filesRows(0) / direct("parse"), "1/s", 3)
    m += Metric("vcf.genotypes_s", direct("genotypes"), "s", 3)
    m += Metric("transform.normalize_overhead_ratio", direct("normalize") / direct("parse"), "ratio", 3)
    m += Metric("audit.file_hash_s", direct("file_hash"), "s", k)
    m += Metric("audit.ledger_s",
      (stage("ledger_begin") ++ stage("ledger_commit")).map(_._2).sum / k, "s", k)
    LoadStages.foreach { s =>
      m += Metric(s"load.${s}_s", stage(s).map(_._2).sum, "s", stage(s).length)
      m += Metric(s"load.${s}_records_written", stage(s).map(_._3).sum.toDouble, "count",
        stage(s).length)
    }
    val writes = t.named("sinks.write_variants") ++ t.named("sinks.write_genotypes")
    m += Metric("sinks.write_variants_s", sec("sinks.write_variants"), "s", 1)
    m += Metric("sinks.write_genotypes_s", sec("sinks.write_genotypes"), "s", 1)
    m += Metric("sinks.bytes_written", writes.flatMap(_.eng).map(_.output).sum.toDouble, "bytes", 2)
    m += Metric("sinks.compact_bytes_rewritten",
      t.named("compact").flatMap(_.eng).map(_.output).sum.toDouble, "bytes", 1)
    m += Metric("sinks.files_per_chrom_dir", loadRun.filesPerChromDir, "count", 1)
    Probe.Kinds.indices.foreach { kind =>
      val ms = probeStats.filter(_.kind == kind).map(_.ms)
      m += Metric(s"query.${Probe.Kinds(kind)}_ms_p50", Fmt.median(ms), "ms", ms.length)
      m += Metric(s"query.${Probe.Kinds(kind)}_ms_p99", Fmt.quantile(ms, 0.99), "ms", ms.length)
    }
    Seq(0 -> "hot", 1 -> "tail").foreach { case (c, n) =>
      val ms = probeStats.filter(_.cls == c).map(_.ms)
      m += Metric(s"query.${n}_ms_p50", Fmt.median(ms), "ms", ms.length)
    }
    m += Metric("query.spark_jobs",
      t.named("workload:lookup_serve").flatMap(_.eng).map(_.jobs).sum.toDouble, "count",
      probeStats.length)
    m += Metric("query.annotate_s", sec("annotate"), "s", 1)
    m += Metric("ingest.gwas_import_s", sec("import-gwas"), "s", 1)
    m += Metric("ingest.match_s", sec("ingest.match"), "s", 1)
    m += Metric("ingest.matched_frac", direct("matched_frac"), "ratio", w.gwas.length)
    m += Metric("qc.sample_qc_s", sec("compute-sample-qc"), "s", 1)
    m += Metric("qc.variant_qc_s", sec("qc.variant_qc"), "s", 1)
    m += Metric("prs.score_s", sec("prs.score"), "s", 1)
    m += Metric("export.ldpred2_s", sec("export-ldpred2"), "s", 1)
    m += Metric("export.plink_s", sec("export-plink"), "s", 1)
    m += Metric("views.refresh_s", sec("refresh-views"), "s", 1)
    val root = t.named(s"workload:$workload").head
    m += Metric("spark.executor_run_s", e.runMs / 1e3, "s", 1)
    m += Metric("spark.executor_cpu_s", e.cpuNs / 1e9, "s", 1)
    m += Metric("spark.gc_s", e.gcMs / 1e3, "s", 1)
    m += Metric("spark.shuffle_write_bytes", e.shuffleWrite.toDouble, "bytes", 1)
    m += Metric("spark.shuffle_read_bytes", e.shuffleRead.toDouble, "bytes", 1)
    m += Metric("spark.spill_bytes", e.spill.toDouble, "bytes", 1)
    m += Metric("spark.output_bytes", e.output.toDouble, "bytes", 1)
    m += Metric("spark.jobs", e.jobs.toDouble, "count", 1)
    m += Metric("spark.tasks", e.tasks.toDouble, "count", 1)
    m += Metric("spark.cpu_util", e.cpuNs / 1e9 / (passSec * cores), "ratio", 1)
    m += Metric("trace.overhead_ratio", root.overheadRatio, "ratio", 1)
    m.toSeq
  }

  /** Direct calls into single layers, each under its own span. Returns
    * median seconds of three repetitions for the parse probes, and the
    * matched share of the GWAS rows. */
  private def layerCalls(serve: String): Map[String, Double] = {
    val spark = w.spark
    val file = w.cohort.files.head
    def reps(name: String)(body: => Unit): Double =
      Fmt.median((1 to 3).map(_ => w.op(name)(body)(_ => None)._1))
    val hash = w.cohort.files.map(f =>
      w.op("audit.file_hash")(graft.audit.Audit.fileSha256(f))(_ => None)._1).sum /
      w.cohort.files.length
    val parse = reps("vcf.variants")(w.materialize(VcfReader.variants(spark, file)))
    val geno = reps("vcf.genotypes")(w.materialize(VcfReader.genotypes(spark, file)))
    val norm = reps("vcf.variants_normalized")(w.materialize(
      VcfReader.variants(spark, file, VcfReader.Options(normalize = true))))

    val sinkDir = new File(w.work, "sinks")
    val v = VcfReader.variants(spark, file).withColumn("load_batch_id", lit("bench")).cache()
    val g = VcfReader.genotypes(spark, file).withColumn("load_batch_id", lit("bench")).cache()
    v.count(); g.count()
    w.op("sinks.write_variants")(graft.sinks.Writers.writeVariants(v,
      new File(sinkDir, "variants").getPath))(_ => None)
    w.op("sinks.write_genotypes")(graft.sinks.Writers.writeGenotypes(g,
      new File(sinkDir, "genotypes").getPath))(_ => None)
    v.unpersist(); g.unpersist()
    rmrf(sinkDir)

    val want = w.gwas.count(_.cls != "miss").toDouble / w.gwas.length
    val matched = graft.ingest.VariantMatching.matchToVariants(
      graft.ingest.GwasReader.read(spark, w.gwasPath),
      spark.read.parquet(s"$serve/variants")).cache()
    w.op("ingest.match")(w.materialize(matched))(_ => None)
    val frac = matched.filter(col("variant_id").isNotNull).count().toDouble / matched.count()
    matched.unpersist()
    w.op("ingest.matched_frac")(frac)(f => if (f == want) None else Some(s"matched share $f, planted $want"))
    w.op("qc.variant_qc")(w.materialize(graft.qc.VariantQc.fromGenotypes(
      spark.read.parquet(s"$serve/genotypes"))))(_ => None)
    Map("file_hash" -> hash, "parse" -> parse, "genotypes" -> geno, "normalize" -> norm, "matched_frac" -> frac)
  }
}
