package perfbench

import java.io.{BufferedWriter, File, FileWriter}
import scala.util.Random

/** One point probe of the lookup key stream. `kind` indexes `Probe.Kinds`;
  * `cls` is 0 for the hot set, 1 for the uniform tail, 2 for a miss. */
final case class Probe(kind: Int, cls: Int, chrom: String, lo: Long, hi: Long, key: String)

object Probe {
  val Kinds: Array[String] = Array("by_position", "by_region", "by_rsid", "by_gene", "genotypes_at")
  val Classes: Array[String] = Array("hot", "tail", "miss")
  /** One block of the stream: every (kind, class) pair exactly once, so
    * the five probe kinds and the three key classes have equal shares and
    * every run's sample has the same mix however many blocks it completes.
    * Neither the reference nor its latency tests give traffic shares to
    * copy (they time one case per kind), so none are invented here. */
  val Block: Seq[(Int, Int)] = for (k <- Kinds.indices; c <- Classes.indices) yield (k, c)
  val HotSites = 32
  val RegionBp = 100000L

  /** A seeded stream of `n` probes in shuffled blocks of `Block`: a third
    * of the probes hit a 32-site hot set, a third are uniform over every
    * site, a third miss. The stream is also written to `keys` for
    * inspection. */
  def stream(c: Gen.Cohort, seed: Long, n: Int, keys: File): Array[Probe] = {
    val rng = new Random(seed ^ 0x51ED)
    val sites = c.sites
    val hot = rng.shuffle(sites.toSeq).take(HotSites).toArray
    val hotRs = rng.shuffle(sites.toSeq.filter(_.rsId != null)).take(HotSites).toArray
    val genes = c.byGene.keys.toArray.sorted
    val hotGenes = rng.shuffle(genes.toSeq).take(HotSites / 4).toArray
    val maxPos = c.sorted.map { case (ch, a) => ch -> a.last.pos }
    val rsSites = sites.filter(_.rsId != null)
    val plan = Iterator.continually(rng.shuffle(Block)).flatten.take(n).toArray
    val out = plan.map { case (k, cls) =>
      def site(): Gen.Site = if (cls == 0) hot(rng.nextInt(hot.length)) else sites(rng.nextInt(sites.length))
      (k, cls) match {
        case (2, 2) => Probe(k, cls, "", 0, 0, s"rs${90000000 + rng.nextInt(1000000)}")
        case (2, 0) => Probe(k, cls, "", 0, 0, hotRs(rng.nextInt(hotRs.length)).rsId)
        case (2, _) => Probe(k, cls, "", 0, 0, rsSites(rng.nextInt(rsSites.length)).rsId)
        case (3, 2) => Probe(k, cls, "", 0, 0, s"NOGENE${rng.nextInt(1000)}")
        case (3, 0) => Probe(k, cls, "", 0, 0, hotGenes(rng.nextInt(hotGenes.length)))
        case (3, _) => Probe(k, cls, "", 0, 0, genes(rng.nextInt(genes.length)))
        case (1, 2) =>
          val ch = Gen.Chroms(rng.nextInt(Gen.Chroms.length))
          val lo = maxPos(ch) + 1000000L + rng.nextInt(1000000)
          Probe(k, cls, ch, lo, lo + RegionBp, "")
        case (1, _) =>
          val s = site()
          val lo = math.max(1L, s.pos - rng.nextInt(RegionBp.toInt))
          Probe(k, cls, s.chrom, lo, lo + RegionBp, "")
        case (_, 2) =>
          val (ch, p) = c.misses(rng.nextInt(c.misses.length))
          Probe(k, cls, ch, p, p, "")
        case _ =>
          val s = site()
          Probe(k, cls, s.chrom, s.pos, s.pos, "")
      }
    }
    val w = new BufferedWriter(new FileWriter(keys), 1 << 16)
    try out.foreach { p =>
      w.write(s"${Kinds(p.kind)}\t${Classes(p.cls)}\t${p.chrom}\t${p.lo}\t${p.hi}\t${p.key}\n")
    } finally w.close()
    out
  }

  private def variantRows(sites: Iterator[Gen.Site]): Seq[String] =
    sites.flatMap(s => s.alts.map(a => s"${s.chrom}:${s.pos}:${s.ref}:$a")).toSeq.sorted

  /** Expected rows of a probe, as sorted keys: chrom:pos:ref:alt for the
    * variant faces, pos:alt:gt per sample for genotypes. Genotype rows are
    * compared as a multiset because the load pseudonymizes sample ids. */
  def expected(p: Probe, c: Gen.Cohort): Seq[String] = p.kind match {
    case 0 => variantRows(c.bySite.get((p.chrom, p.lo)).iterator)
    case 1 => variantRows(c.inRegion(p.chrom, p.lo, p.hi))
    case 2 => variantRows(c.byRsid.get(p.key).iterator)
    case 3 => variantRows(c.byGene.getOrElse(p.key, Nil).iterator)
    case _ =>
      c.inRegion(p.chrom, p.lo, p.hi).flatMap { s =>
        for (a <- s.alts.toSeq; i <- c.samples.indices) yield s"${s.pos}:$a:${s.gt(i)}"
      }.toSeq.sorted
  }

  def check(p: Probe, c: Gen.Cohort, rows: Seq[Map[String, String]]): Option[String] = {
    val got =
      if (p.kind == 4) rows.map(r => s"${r("pos")}:${r("alt")}:${r("gt")}").sorted
      else rows.map(r => s"${r("chrom")}:${r("pos")}:${r("ref")}:${r("alt")}").sorted
    val want = expected(p, c)
    if (got == want) None
    else Some(s"${Kinds(p.kind)} ${p.chrom}:${p.lo}-${p.hi} ${p.key}: " +
      s"${got.length} rows, want ${want.length}; unexpected ${got.diff(want).take(2)}, " +
      s"missing ${want.diff(got).take(2)}")
  }

  /** Per-sample (n_total, n_called, n_het, n_hom_var) over decomposed rows. */
  def sampleQcTruth(c: Gen.Cohort): Seq[Seq[Long]] = c.samples.indices.map { i =>
    var total, called, het, homVar = 0L
    c.sites.foreach { s =>
      s.alts.indices.foreach { k =>
        total += 1
        s.callClass(i, k)._1 match {
          case "missing" =>
          case "het" => called += 1; het += 1
          case "hom_alt" => called += 1; homVar += 1
          case _ => called += 1
        }
      }
    }
    Seq(total, called, het, homVar)
  }
}
