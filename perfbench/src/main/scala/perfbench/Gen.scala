package perfbench

import java.io.{BufferedWriter, File, FileWriter}
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** Seeded workload generator. It writes the cohort VCFs, the GWAS
  * summary statistics, the annotation sources with their field config,
  * and the lookup key stream, and it keeps the truth for each of them as
  * it writes: nothing here reads the files back through the program.
  *
  * The cohort records have the shape of `graft.vcf.SyntheticVcf.write`
  * (GATK-style header, INFO DP/AF/AC/MQ with an optional SnpEff ANN,
  * FORMAT GT:AD:DP:GQ) and add what the truth needs: site positions are
  * unique across the cohort and dealt round-robin to the k files (so each
  * appended file overlaps every earlier one in position range, the layout
  * a cohort append produces), indels are left-anchored and parsimonious
  * (so the load's default normalization keeps every allele), rsIDs are
  * unique, every ANN entry of a site names one gene, and a few calls are
  * missing.
  */
object Gen {

  final case class Sizes(files: Int, sitesPerFile: Int, samples: Int,
                         annSources: Int, prsWeights: Int, gwasPerClass: Int)

  val Full = Sizes(files = 2, sitesPerFile = 1500, samples = 16,
    annSources = 2, prsWeights = 300, gwasPerClass = 150)
  val Tiny = Sizes(files = 2, sitesPerFile = 150, samples = 6,
    annSources = 2, prsWeights = 20, gwasPerClass = 10)

  val Chroms = Seq("chr1", "chr2", "chr3")
  private val Bases = Array("A", "C", "G", "T")
  private val Comp = Map("A" -> "T", "C" -> "G", "G" -> "C", "T" -> "A")
  private val AnnTerms = Array("missense_variant", "synonymous_variant",
    "stop_gained", "intron_variant", "upstream_gene_variant")
  private val Impacts = Array("HIGH", "MODERATE", "LOW", "MODIFIER")
  val GenePool = 300

  /** One VCF site. `calls(s)` is sample s's (allele, allele) pair of
    * line allele indexes, or null for a missing call. */
  final class Site(val chrom: String, val pos: Long, val rsId: String,
                   val ref: String, val alts: Array[String], val gene: String,
                   val file: Int, val calls: Array[(Int, Int)]) {
    def rows: Int = alts.length
    /** Decomposed per-ALT call for sample s, ALT index k (0-based):
      * 'missing', 'hom_ref', 'hom_alt' or 'het', with the dosage of that
      * ALT — the bcftools-norm biallelic remap. */
    def callClass(s: Int, k: Int): (String, Int) = {
      val c = calls(s)
      if (c == null) ("missing", 0)
      else {
        val r1 = if (c._1 == k + 1) 1 else 0
        val r2 = if (c._2 == k + 1) 1 else 0
        val cls = if (r1 != r2) "het" else if (r1 == 0) "hom_ref" else "hom_alt"
        (cls, r1 + r2)
      }
    }
    def gt(s: Int): String =
      if (calls(s) == null) "./." else s"${calls(s)._1}/${calls(s)._2}"
  }

  final case class GwasRow(chrom: String, pos: Long, ea: String, oa: String,
                           rsId: String, cls: String, site: Site)

  final case class Cohort(sizes: Sizes, samples: Seq[String], sites: Array[Site],
                          files: Seq[String], misses: Array[(String, Long)]) {
    def filesRows(f: Int): Long = sites.iterator.filter(_.file == f).map(_.rows.toLong).sum
    lazy val bySite: Map[(String, Long), Site] =
      sites.iterator.map(s => (s.chrom, s.pos) -> s).toMap
    lazy val byRsid: Map[String, Site] =
      sites.iterator.filter(_.rsId != null).map(s => s.rsId -> s).toMap
    lazy val byGene: Map[String, Seq[Site]] =
      sites.toSeq.filter(_.gene != null).groupBy(_.gene)
    /** Sites per chrom, position-sorted, for region truth. */
    lazy val sorted: Map[String, Array[Site]] =
      sites.groupBy(_.chrom).map { case (c, a) => c -> a.sortBy(_.pos) }
    def inRegion(chrom: String, lo: Long, hi: Long): Iterator[Site] =
      sorted.getOrElse(chrom, Array.empty[Site]).iterator
        .filter(s => s.pos >= lo && s.pos <= hi)
  }

  def cohort(dir: File, seed: Long, sz: Sizes): Cohort = {
    dir.mkdirs()
    val rng = new Random(seed)
    val samples = (1 to sz.samples).map(i => f"SMP$i%03d")
    val n = sz.files * sz.sitesPerFile
    val perChrom = n / Chroms.length
    val sites = ArrayBuffer[Site]()
    val misses = ArrayBuffer[(String, Long)]()
    var idx = 0
    Chroms.foreach { chrom =>
      var pos = 10000L
      (0 until (if (chrom == Chroms.last) n - perChrom * (Chroms.length - 1) else perChrom))
        .foreach { _ =>
          val step = 2 + rng.nextInt(1998)
          // every gap of at least 2 holds an empty position for miss probes
          if (misses.length < 4096 && rng.nextInt(4) == 0) misses += ((chrom, pos + 1))
          pos += step
          // parsimonious, left-anchored alleles, as variant callers write
          // them: the load's default normalization leaves them unchanged
          val b = Bases(rng.nextInt(4))
          def tail(): String = {
            val t = Seq.fill(1 + rng.nextInt(5))(Bases(rng.nextInt(4))).mkString
            if (t.last.toString == b) t.init + Bases((Bases.indexOf(b) + 1) % 4) else t
          }
          val ref = if (rng.nextDouble() < 0.08) b + tail() else b
          val nAlts = if (rng.nextDouble() < 0.1) 2 + rng.nextInt(2) else 1
          val alts = ArrayBuffer[String]()
          while (alts.length < nAlts) {
            val a =
              if (ref.length > 1) {
                val x = Bases(rng.nextInt(4))
                if (rng.nextBoolean()) b else if (x != b && x != ref.takeRight(1)) x else b
              } else if (rng.nextDouble() < 0.1) b + tail()
              else Bases(rng.nextInt(4))
            if (a != ref && !alts.contains(a)) alts += a
          }
          val rsId = if (rng.nextDouble() < 0.3) s"rs${100000 + idx}" else null
          val gene = if (rng.nextDouble() < 0.6) s"GENE${rng.nextInt(GenePool)}" else null
          val calls = Array.fill(sz.samples) {
            if (rng.nextDouble() < 0.02) null
            else (rng.nextInt(alts.length + 1), rng.nextInt(alts.length + 1))
          }
          sites += new Site(chrom, pos, rsId, ref, alts.toArray, gene,
            idx % sz.files, calls)
          idx += 1
        }
    }
    val all = sites.toArray
    val files = (0 until sz.files).map { f =>
      val path = new File(dir, s"cohort_$f.vcf").getPath
      writeVcf(path, samples, all.iterator.filter(_.file == f), new Random(seed * 31 + f))
      path
    }
    Cohort(sz, samples, all, files, misses.toArray)
  }

  private def writeVcf(path: String, samples: Seq[String], sites: Iterator[Site],
                       rng: Random): Unit = {
    val w = new BufferedWriter(new FileWriter(path), 1 << 20)
    try {
      w.write(graft.vcf.SyntheticVcf.header(samples, withAnn = true)
        .replace("##contig=<ID=chr2,length=242193529>",
          "##contig=<ID=chr2,length=242193529>\n##contig=<ID=chr3,length=198295559>"))
      w.newLine()
      sites.foreach { s =>
        val afs = s.alts.map(_ => Fmt.fixed(0.001 + rng.nextDouble() * 0.5, 4)).mkString(",")
        val acs = s.alts.map(_ => (1 + rng.nextInt(100)).toString).mkString(",")
        val ann =
          if (s.gene == null) ""
          else ";ANN=" + s.alts.flatMap { alt =>
            (0 until 1 + rng.nextInt(2)).map { e =>
              s"$alt|${AnnTerms(rng.nextInt(AnnTerms.length))}|" +
                s"${Impacts(rng.nextInt(Impacts.length))}|${s.gene}|ENSG${s.gene}|" +
                s"transcript|ENST${s.gene}.$e|protein_coding|1/20|c.${s.pos % 1000}A>G|p.Xyz$e"
            } :+ "Z|intergenic_region|MODIFIER|NONE|NONE|intergenic_region|NONE"
          }.mkString(",")
        val info = s"DP=${20 + rng.nextInt(400)};AF=$afs;AC=$acs;" +
          s"MQ=${Fmt.fixed(40 + rng.nextDouble() * 20, 2)}$ann"
        val sb = new StringBuilder
        sb.append(s.chrom).append('\t').append(s.pos).append('\t')
          .append(if (s.rsId == null) "." else s.rsId).append('\t').append(s.ref)
          .append('\t').append(s.alts.mkString(",")).append('\t')
          .append(Fmt.fixed(30 + rng.nextDouble() * 3000, 2)).append("\tPASS\t")
          .append(info).append("\tGT:AD:DP:GQ")
        samples.indices.foreach { i =>
          val ad = (5 + rng.nextInt(100)) +: s.alts.map(_ => rng.nextInt(80))
          sb.append('\t').append(s.gt(i)).append(':').append(ad.mkString(","))
            .append(':').append(10 + rng.nextInt(200)).append(':').append(rng.nextInt(100))
        }
        w.write(sb.toString); w.newLine()
      }
    } finally w.close()
  }

  /** GWAS summary statistics with four planted classes: exact matches
    * (effect = ALT), allele swaps (effect = REF), strand flips of
    * non-palindromic biallelic SNPs carrying their rsID (matched by rsID),
    * and misses at empty positions. Returns the rows in file order. */
  def gwas(path: String, c: Cohort, seed: Long): Seq[GwasRow] = {
    val rng = new Random(seed ^ 0x6A5D)
    val per = c.sizes.gwasPerClass
    val shuffled = rng.shuffle(c.sites.toSeq)
    val flipOk = (s: Site) => s.rsId != null && s.alts.length == 1 &&
      s.ref.length == 1 && s.alts(0).length == 1 && Comp(s.ref) != s.alts(0)
    val flips = shuffled.filter(flipOk).take(per)
    val rest = shuffled.filterNot(flips.toSet).take(2 * per)
    def pick(s: Site) = rng.nextInt(s.alts.length)
    val rows =
      rest.take(per).map { s => val k = pick(s)
        GwasRow(s.chrom, s.pos, s.alts(k), s.ref, s.rsId, "exact", s) } ++
      rest.drop(per).map { s => val k = pick(s)
        GwasRow(s.chrom, s.pos, s.ref, s.alts(k), s.rsId, "swap", s) } ++
      flips.map(s => GwasRow(s.chrom, s.pos, Comp(s.alts(0)), Comp(s.ref), s.rsId,
        "flip", s)) ++
      rng.shuffle(c.misses.toSeq).take(per).map { case (ch, p) =>
        GwasRow(ch, p, "A", "G", null, "miss", null) }
    val ordered = rows.sortBy(r => (r.chrom, r.pos))
    val w = new BufferedWriter(new FileWriter(path))
    try {
      w.write("chromosome\tbase_pair_location\teffect_allele\tother_allele\tbeta\t" +
        "standard_error\tp_value\teffect_allele_frequency\trsid\n")
      ordered.foreach { r =>
        w.write(Seq(r.chrom.stripPrefix("chr"), r.pos.toString, r.ea, r.oa,
          Fmt.fixed(rng.nextGaussian() * 0.1, 6), Fmt.fixed(0.01 + rng.nextDouble() * 0.05, 6),
          Fmt.sci(math.pow(10, -8 * rng.nextDouble())),
          Fmt.fixed(0.05 + rng.nextDouble() * 0.9, 4),
          if (r.rsId == null) "" else r.rsId).mkString("\t"))
        w.write("\n")
      }
    } finally w.close()
    ordered
  }

  /** Annotation source j: biallelic records at about half of the cohort's
    * decomposed variants plus as many positions the cohort lacks, with
    * AF/AC INFO fields; the config renames them `s<j>_af`/`s<j>_ac`.
    * Returns (vcf, config, truth: (chrom,pos,ref,alt) -> (af text, ac)). */
  def annotationSource(dir: File, j: Int, c: Cohort, seed: Long)
      : (String, String, Map[(String, Long, String, String), (String, Int)]) = {
    val rng = new Random(seed * 7 + j)
    val vcf = new File(dir, s"anno_s$j.vcf").getPath
    val cfg = new File(dir, s"anno_s$j.json").getPath
    val hits = c.sites.toSeq.flatMap(s => s.alts.map(a => (s.chrom, s.pos, s.ref, a)))
      .filter(_ => rng.nextBoolean())
    val extra = rng.shuffle(c.misses.toSeq).take(hits.length / 4)
      .map { case (ch, p) => (ch, p, "C", "T") }
    val truth = hits.map(k => k -> (Fmt.fixed(rng.nextDouble(), 5), rng.nextInt(5000))).toMap
    val lines = (hits ++ extra).sortBy(k => (k._1, k._2, k._4)).map { k =>
      val (af, ac) = truth.getOrElse(k, (Fmt.fixed(rng.nextDouble(), 5), rng.nextInt(5000)))
      s"${k._1}\t${k._2}\t.\t${k._3}\t${k._4}\t.\tPASS\tAF=$af;AC=$ac"
    }
    val w = new BufferedWriter(new FileWriter(vcf))
    try {
      w.write(Seq("##fileformat=VCFv4.2",
        "##INFO=<ID=AF,Number=A,Type=Float,Description=\"Allele frequency\">",
        "##INFO=<ID=AC,Number=A,Type=Integer,Description=\"Allele count\">",
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO").mkString("\n"))
      w.write("\n")
      lines.foreach { l => w.write(l); w.write("\n") }
    } finally w.close()
    val cw = new FileWriter(cfg)
    try cw.write(s"""[{"field":"AF","alias":"s${j}_af"},{"field":"AC","alias":"s${j}_ac"}]""")
    finally cw.close()
    (vcf, cfg, truth)
  }

  /** PRS weights on distinct decomposed variants: (site, alt index, weight). */
  def prsWeights(c: Cohort, seed: Long): Seq[(Site, Int, Double)] = {
    val rng = new Random(seed ^ 0x9E37)
    rng.shuffle(c.sites.toSeq).take(c.sizes.prsWeights)
      .map(s => (s, rng.nextInt(s.alts.length), rng.nextGaussian()))
  }

  /** Expected (score, variants used) per sample index. */
  def prsTruth(c: Cohort, w: Seq[(Site, Int, Double)]): Seq[(Double, Long)] =
    c.samples.indices.map { i =>
      val used = w.filter { case (s, _, _) => s.calls(i) != null }
      (used.map { case (s, k, wt) => wt * s.callClass(i, k)._2 }.sum, used.length.toLong)
    }
}
