package perfbench

import java.io.{ByteArrayOutputStream, File, PrintStream}
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.query.PointLookup

/** The three workloads over one seeded cohort, and the layer probes of
  * the traced run. Every operation is timed from outside the program —
  * through `graft.Graft.run` for verbs and through a layer's public
  * function otherwise — and every answer is checked against the
  * generator's truth. */
final class Workloads(val spark: SparkSession, val work: File, val seed: Long,
                      val sz: Gen.Sizes) {
  val engine = new EngineListener(spark)
  var tracer = new Tracer(engine, "", enabled = false)

  var attempted = 0L
  var failed = 0L
  val problems = ArrayBuffer[String]()

  private def fail(msg: String): Unit = {
    failed += 1
    if (problems.length < 40) problems += msg
  }

  /** One counted operation: its wall seconds and its result, which is
    * None when it threw. A `check` that returns a message marks the
    * operation failed. `driverOnly` marks work that runs on the calling
    * thread and launches no Spark job. */
  def op[T](name: String, driverOnly: Boolean = false)(body: => T)(
      check: T => Option[String]): (Double, Option[T]) = {
    attempted += 1
    val t0 = System.nanoTime()
    val r = try Right(tracer.span(name, !driverOnly)(body)) catch { case NonFatal(e) => Left(e) }
    val sec = (System.nanoTime() - t0) / 1e9
    r match {
      case Left(e) => fail(s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}"); (sec, None)
      case Right(v) => check(v).foreach(m => fail(s"$name: $m")); (sec, Some(v))
    }
  }

  private def expect(what: String, got: Any, want: Any): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")

  /** Run a CLI verb in this session and return what it printed. */
  def verb(args: String*): String = {
    val buf = new ByteArrayOutputStream()
    val ps = new PrintStream(buf, true, "UTF-8")
    Console.withOut(ps)(graft.Graft.run(spark, args.toArray))
    ps.flush()
    buf.toString("UTF-8")
  }

  private def dir(name: String): File = { val d = new File(work, name); d.mkdirs(); d }
  private var dbSeq = 0
  def freshDb(tag: String): String = { dbSeq += 1; new File(work, s"db_${tag}_$dbSeq").getPath }

  def copyTree(from: Path, to: Path): Unit = {
    val all = Files.walk(from)
    try all.forEach(p => Files.copy(p, to.resolve(from.relativize(p))))
    finally all.close()
  }

  def bytesUnder(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L)
    else f.length()

  // ---------------------------------------------------------------- inputs

  var inputs: File = _
  var cohort: Gen.Cohort = _
  var inputBytes = 0L
  var gwasPath: String = _
  var gwas: Seq[Gen.GwasRow] = Nil
  var annos: Seq[(String, String, Map[(String, Long, String, String), (String, Int)])] = Nil
  var weights: Seq[(Gen.Site, Int, Double)] = Nil
  var probes: Array[Probe] = Array.empty
  private var totalRows = 0L
  private var matchedTruth = 0L
  private var plinkTruth = 0L

  /** Generate the inputs a workload uses into a fresh directory; returns
    * the seconds it took. */
  def generate(w: String, rep: Int): Double = {
    val t0 = System.nanoTime()
    inputs = dir(s"inputs_$rep")
    cohort = Gen.cohort(inputs, seed, sz)
    inputBytes = cohort.files.map(f => new File(f).length()).sum
    totalRows = cohort.sites.map(_.rows.toLong).sum
    if (w != "load_cohort")
      probes = Probe.stream(cohort, seed, 20000, new File(inputs, "keys.tsv"))
    if (w == "prs_workbench") {
      gwasPath = new File(inputs, "gwas.tsv").getPath
      gwas = Gen.gwas(gwasPath, cohort, seed)
      matchedTruth = gwas.count(_.cls != "miss").toLong
      plinkTruth = gwas.count(r => r.cls != "miss" && r.site.rsId != null).toLong
      annos = (0 until sz.annSources).map(j => Gen.annotationSource(inputs, j, cohort, seed))
      weights = Gen.prsWeights(cohort, seed)
    }
    (System.nanoTime() - t0) / 1e9
  }

  // ------------------------------------------------------------ load path

  /** Small files of the cohort's sample set, for warming the load path:
    * the first `load` in a JVM also pays for class loading, JIT and
    * codegen. */
  private lazy val warm = Gen.cohort(new File(work, "warm"), seed + 1,
    Gen.Tiny.copy(files = Main.SetupReps, samples = sz.samples))
  private lazy val warmDb = freshDb("warm")
  private var warmed = 0

  /** Load the next `n` small files into one scratch store (create, then
    * appends). */
  def warmLoads(n: Int): Unit = (1 to n).foreach { _ =>
    val i = warmed % warm.files.length
    warmed += 1
    op("load")(verb("load", warm.files(i), "--db", warmDb, "--store-genotypes"))(out =>
      if (out.contains(s"loaded ${warm.filesRows(i)} variants")) None else Some(s"warm-up load $i"))
  }

  private val StageLine = """\s*stage\s+(\S+)\s+(\d+[.,]\d+)s\s+read=(.*?)\s+written=(.*?)\s*""".r
  private def digits(s: String): Long = s.filter(_.isDigit).toLong

  /** (stage -> (seconds, records written)) from load's `stage` lines,
    * which the verb prints in the JVM's default locale. */
  def stages(out: String): Seq[(String, Double, Long)] =
    out.linesIterator.collect { case StageLine(n, s, _, wr) =>
      (n, s.replace(',', '.').toDouble, digits(wr))
    }.toSeq

  final case class LoadRun(fileSecs: Seq[Double], rows: Long,
                           compactSec: Double, storeBytes: Long,
                           stages: Seq[(String, Double, Long)], filesPerChromDir: Double)

  private val Loaded = """(?s).*loaded (\d+) variants \(batch.*""".r

  /** The cohort append sequence: the first file creates the store with
    * genotypes, the rest append, then (optionally) `compact`. With `keep`,
    * the appended store is copied there before it is compacted. */
  def loadSequence(db: String, compact: Boolean, keep: Option[String] = None): LoadRun = {
    val st = ArrayBuffer[(String, Double, Long)]()
    val secs = cohort.files.indices.map { i =>
      op("load") {
        verb("load", cohort.files(i), "--db", db, "--store-genotypes")
      } { out =>
        st ++= stages(out)
        Main.log(stages(out).map { case (n, t, _) => s"$n=${Fmt.fixed(t, 2)}" }.mkString(" "))
        out match {
          case Loaded(n) => expect(s"rows of file $i", n.toLong, cohort.filesRows(i))
          case _ => Some(s"no 'loaded' line for file $i")
        }
      }._1
    }
    Main.log(s"loads ${secs.map(Fmt.fixed(_, 2)).mkString(" ")}")
    val vDir = graft.sinks.DbFs.resolvePath(s"$db/variants")
    val chromDirs = graft.sinks.DbFs.subdirNames(vDir).filter(_.startsWith("chrom="))
    val perDir = chromDirs.map(d => graft.sinks.DbFs.parquetFileCount(s"$vDir/$d").toDouble)
    keep.foreach(k => copyTree(new File(db).toPath, new File(k).toPath))
    val compactSec =
      if (!compact) 0.0
      else op("compact")(verb("compact", "--db", db)) { _ =>
        val v = spark.read.parquet(s"$db/variants").count()
        val g = spark.read.parquet(s"$db/genotypes").count()
        expect("variant rows", v, totalRows)
          .orElse(expect("genotype rows", g, totalRows * sz.samples))
      }._1
    Main.log("store bytes: " + Option(new File(db).listFiles()).toSeq.flatten.sortBy(_.getName)
      .map(f => s"${f.getName}=${bytesUnder(f)}").mkString(" "))
    LoadRun(secs, totalRows, compactSec, bytesUnder(new File(db)), st.toSeq,
      if (perDir.isEmpty) 0.0 else perDir.sum / perDir.length)
  }

  // ----------------------------------------------------------- read path

  final case class ProbeStat(kind: Int, cls: Int, ms: Double)
  var probeIndex = 0

  /** Closed loop, one client: each probe is sent when the previous one has
    * returned and been checked. Runs `count` probes, or until `deadline`
    * (System.nanoTime) when count is 0. */
  def probeLoop(db: String, count: Int, deadline: Long): Seq[ProbeStat] = {
    val out = ArrayBuffer[ProbeStat]()
    val store = s"$db/variants"
    while ((count > 0 && out.length < count) || (count == 0 && System.nanoTime() < deadline)) {
      val p = probes(probeIndex % probes.length)
      probeIndex += 1
      val (sec, _) = op(Probe.Kinds(p.kind), driverOnly = true) {
        p.kind match {
          case 0 => PointLookup.byPosition(spark, store, p.chrom, p.lo)
          case 1 => PointLookup.byRegion(spark, store, p.chrom, p.lo, p.hi)
          case 2 => PointLookup.byRsid(spark, s"$db/rsid_idx", store, p.key)
          case 3 => PointLookup.byGene(spark, s"$db/gene_idx", p.key)
          case _ => PointLookup.genotypesAt(spark, s"$db/genotypes", p.chrom, p.lo, p.hi)
        }
      } { rows => Probe.check(p, cohort, rows) }
      out += ProbeStat(p.kind, p.cls, sec * 1e3)
    }
    Main.log(s"${out.length} probes")
    out.toSeq
  }

  // ------------------------------------------------------- analytic path

  /** Annotation sources are loaded once per store, in setup. */
  def loadAnnotations(db: String): Unit = annos.zipWithIndex.foreach { case ((vcf, cfg, _), j) =>
    val src = scala.io.Source.fromFile(vcf)
    val records = try src.getLines().count(!_.startsWith("#")).toLong finally src.close()
    op("load-annotation") {
      verb("load-annotation", vcf, "--db", db, "--name", s"s$j", "--config", cfg)
    } { out =>
      expect("annotation sites",
        """\((\d+) sites""".r.findFirstMatchIn(out).map(_.group(1).toLong), Some(records))
    }
  }

  /** PRS weights keyed by the store's own variant ids (built once). */
  private var weightsDf: DataFrame = _
  def prepareWeights(db: String): Unit = {
    import spark.implicits._
    val local = weights.map { case (s, k, w) => (s.chrom, s.pos, s.ref, s.alts(k), w) }
      .toDF("chrom", "pos", "ref", "alt", "effect_weight")
    val keyed = spark.read.parquet(s"$db/variants")
      .select("chrom", "pos", "ref", "alt", "variant_id")
      .join(local, Seq("chrom", "pos", "ref", "alt"))
      .select("variant_id", "effect_weight").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    require(keyed.length == weights.length, s"weights keyed ${keyed.length}/${weights.length}")
    weightsDf = keyed.toDF("variant_id", "effect_weight").cache()
    weightsDf.count()
  }

  /** Steps of the workbench sequence below. */
  val WorkbenchSteps = 7

  /** The PRS/QC verb sequence; returns its wall seconds (checks excluded). */
  def workbench(db: String): Double = {
    val outDir = dir("exports")
    var total = 0.0
    def timed(t: (Double, _)): Unit = total += t._1
    timed(op("import-gwas")(verb("import-gwas", gwasPath, "--db", db,
      "--study-accession", "BENCH")) { out =>
      val m = """imported=(\d+) matched=(\d+)""".r.findFirstMatchIn(out)
      expect("import-gwas (imported, matched)", m.map(x => (x.group(1).toLong, x.group(2).toLong)),
        Some((gwas.length.toLong, matchedTruth)))
    })
    Main.log(s"import-gwas $total")
    timed(op("compute-sample-qc")(verb("compute-sample-qc", "--db", db)) { _ =>
      val got = spark.read.parquet(s"$db/sample_qc")
        .select("n_total", "n_called", "n_het", "n_hom_var").collect()
        .map(r => (0 until 4).map(i => r.getAs[Number](i).longValue)).toSeq
        .sortBy(_.mkString(","))
      expect("sample_qc rows", got, Probe.sampleQcTruth(cohort).sortBy(_.mkString(",")))
    })
    timed(op("prs.score") {
      val g = graft.ingest.VariantMatching.withVariantId(spark.read.parquet(s"$db/genotypes"))
      graft.prs.PrsScoring.score(g, weightsDf).collect()
        .map(r => (r.getAs[Double]("prs_score"), r.getAs[Long]("n_variants_used"))).toSeq
    } { got =>
      val want = Gen.prsTruth(cohort, weights).sortBy(_._1)
      val ok = got.length == want.length && got.sortBy(_._1).zip(want).forall {
        case ((a, na), (b, nb)) => na == nb && math.abs(a - b) <= 1e-9 * (1 + math.abs(b))
      }
      if (ok) None else Some(s"scores differ: got ${got.sortBy(_._1).take(3)}, want ${want.take(3)}")
    })
    val annoOut = new File(outDir, "annotated.tsv").getPath
    timed(op("annotate")(verb("annotate", "--db", db,
      "--anno", annos.indices.map(j => s"s$j").mkString(","), "--output", annoOut)) { _ =>
      checkAnnotated(annoOut)
    })
    timed(op("refresh-views")(verb("refresh-views", "--db", db)) { _ =>
      val counts = spark.read.parquet(s"$db/views/chromosome_variant_counts").collect()
        .map(r => r.getAs[String]("chrom") -> r.getAs[Long]("n_variants")).toMap
      val want = cohort.sites.groupBy(_.chrom).map { case (c, a) => c -> a.map(_.rows.toLong).sum }
      expect("chromosome_variant_counts", counts, want).orElse(
        if (new File(s"$db/views/sample_qc_summary").isDirectory) None
        else Some("sample_qc_summary view missing"))
    })
    val Exported = """exported (\d+) rows""".r
    timed(op("export-ldpred2")(verb("export-ldpred2", new File(outDir, "ldpred2.tsv").getPath,
      "--db", db)) { out =>
      expect("ldpred2 rows", Exported.findFirstMatchIn(out).map(_.group(1).toLong), Some(matchedTruth))
    })
    timed(op("export-plink")(verb("export-plink", new File(outDir, "plink.tsv").getPath,
      "--db", db)) { out =>
      expect("plink rows", Exported.findFirstMatchIn(out).map(_.group(1).toLong), Some(plinkTruth))
    })
    Main.log(s"workbench $total")
    total
  }

  private def checkAnnotated(path: String): Option[String] = {
    val df = spark.read.option("sep", "\t").option("header", "true").option("escape", "\"")
      .csv(path)
    val cols = annos.indices.flatMap(j => Seq(s"s${j}_af", s"s${j}_ac"))
    val rows = df.select((Seq("chrom", "pos", "ref", "alt") ++ cols).map(col): _*).collect()
    if (rows.length != totalRows) return Some(s"annotated rows ${rows.length}, want $totalRows")
    val bad = annos.zipWithIndex.flatMap { case ((_, _, truth), j) =>
      var hits = 0L
      var wrong = 0L
      rows.foreach { r =>
        val key = (r.getString(0), r.getString(1).toLong, r.getString(2), r.getString(3))
        val af = Option(r.getString(4 + 2 * j))
        val ac = Option(r.getString(5 + 2 * j))
        (truth.get(key), af) match {
          case (Some((taf, tac)), Some(a)) =>
            hits += 1
            if (math.abs(a.toDouble - taf.toDouble) > 1e-6 || !ac.contains(tac.toString)) wrong += 1
          case (None, None) =>
          case _ => wrong += 1
        }
      }
      if (hits == truth.size && wrong == 0) None
      else Some(s"source s$j: $hits annotated of ${truth.size}, $wrong wrong")
    }
    bad.headOption
  }

  // --------------------------------------------------- direct layer calls

  /** Force every column of a DataFrame without collecting it. */
  def materialize(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}
