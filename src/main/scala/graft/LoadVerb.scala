package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Graft.{arg, has, jsonStr, tbl}
import graft.audit.Audit
import graft.sinks.{DbFs, Writers}
import graft.vcf.VcfReader

/** The `load` verb: the reference's load transaction
  * (`loader.py:244-252,547-623` — hash the file, skip it if already
  * loaded, write the audit row, insert, then commit or roll back) as
  * named stages:
  *
  *   [[admit]]  hash, skip check, PHI scan, in_progress ledger row
  *   [[parse]]  variants count and the genotype side, concurrently
  *   [[write]]  batch append, fresh-db swap, or full rewrite
  *   [[fold]]   `--compact`
  *   [[commit]] completed ledger row, vault, `--report`
  *
  * and [[rollback]] for any failure between the in_progress row and the
  * commit. Spark work is timed through `LoadProgress.stage`; the
  * `stage <name>` lines it prints are the per-layer load metrics. */
private[graft] object LoadVerb {

  private val Sites = Seq("variants", "rsid_idx", "gene_idx")

  /** One load's state, handed from stage to stage. */
  private final class Run(val spark: SparkSession, val args: Array[String],
                          val db: String) {
    val vcf: String = args(1)
    val t0: Long = System.nanoTime()
    val ledger = new Audit.Ledger(spark, s"$db/ledger")
    val progress = new graft.audit.LoadProgress(spark)
    val batchId: String = java.util.UUID.randomUUID().toString
    var hash = ""
    var existing: Option[String] = None
    var ledgerNote = ""
    // commit point = the 'completed' ledger row; post-commit failures
    // (vault, progress printing) must never roll the batch back
    var committed = false
    // only plain appends need row-level rollback; swapped tables are
    // all-or-nothing. Each flag is set BEFORE its write: a failure
    // mid-append may have committed some files, and the rollback must
    // cover them
    var appendedG = false
    var appendedV = false
    private val caches = scala.collection.mutable.ArrayBuffer[DataFrame]()

    def prevBatch: Option[String] =
      if (has(args, "--force-reload")) existing else None

    def ledgerRow(status: String, n: Long, note: String): Unit =
      ledger.append(Audit.LedgerEntry(batchId, vcf, hash, status, n,
        new java.sql.Timestamp(System.currentTimeMillis()), note))

    /** Persist `df` for the rest of the parse/write stages (a batch is one
      * VCF — MEMORY_AND_DISK spills rather than OOMs at cohort scale). */
    def cache(df: DataFrame): DataFrame = caches.synchronized {
      caches += df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df
    }

    def release(): Unit = caches.synchronized {
      caches.foreach(_.unpersist())
      caches.clear()
    }
  }

  /** The parsed batch: QC-joined, null-padded rows and their count (the
    * per-batch ledger number). */
  private final case class Batch(rows: DataFrame, n: Long,
      opts: VcfReader.Options, anonIds: Option[DataFrame])

  def run(spark: SparkSession, args: Array[String], db: String): Unit = {
    // flag-vocabulary validation up front, BEFORE any ledger write —
    // a typo'd flag must not leave in_progress/failed ledger residue
    arg(args, "--imputation-source").foreach { s =>
      if (!Set("minimac4", "beagle", "impute2", "auto")(s))
        sys.error(s"--imputation-source must be one of minimac4, " +
          s"beagle, impute2, auto: $s")
    }
    val r = new Run(spark, args, db)
    // the listener's lifetime spans EVERY exit from here on — the skip,
    // a PHI-scan abort, a ledger_begin failure — not just the load body;
    // a leaked listener would keep processing task events for the
    // session's lifetime
    try if (admit(r)) {
      try {
        val b = try { val b = parse(r); write(r, b); b } finally r.release()
        fold(r)
        commit(r, b)
      } catch {
        case e: Throwable if !r.committed => rollback(r, e); throw e
      }
    } finally r.progress.close()
  }

  /** Hash the file, skip it when already loaded, scan it for PHI, and
    * write the in_progress audit row. False when the file is skipped. */
  private def admit(r: Run): Boolean = {
    r.hash = r.progress.stage("file_hash")(Audit.fileSha256(r.vcf))
    r.existing = r.ledger.checkExisting(r.hash)
    if (r.existing.isDefined && !has(r.args, "--force-reload")) {
      println(s"skip: file already loaded (batch ${r.existing.get})")
      // skipped-report shape (`cli.py:458-463`): load_batch_id carries
      // the PREVIOUS load's batch so scripts can still key on it
      report(r, Seq(
        "status" -> jsonStr("skipped"),
        "variants_loaded" -> "0",
        "load_batch_id" -> jsonStr(r.existing.get),
        "file_hash" -> jsonStr(r.hash)))
      return false
    }
    // --fail-on-phi implies the scan: passing it alone must never be a
    // silent no-op
    if (has(r.args, "--phi-scan") || has(r.args, "--fail-on-phi"))
      r.ledgerNote = phiScan(r)
    // The reference writes the audit row BEFORE loading and flips it on
    // completion/rollback (`loader.py:547-623`, `schema.py:207-241`):
    // a crash mid-load must leave a visible in_progress/failed row, not
    // silence. checkExisting only honors status='completed', so these
    // rows never satisfy the skip check.
    r.progress.stage("ledger_begin")(r.ledgerRow("in_progress", 0L, r.ledgerNote))
    true
  }

  /** PHI scan before any load work (`loader.py:275-298`), returning the
    * ledger note. The scan surface matches the reference's detector
    * (`phi/detector.py:160-214`): ## meta lines, sample names on the
    * #CHROM line, and a bounded sample of data rows (1000 rows is a
    * fixed-size driver sample, not a data-sized collect). Custom
    * patterns from the per-db registry or an explicit patterns-config
    * flag merge in name-keyed, custom wins (the reference's dict
    * registry): an overridden builtin must not ALSO run, or counts
    * double and the severity resolves to the shadowed builtin's. */
  private def phiScan(r: Run): String = {
    import graft.transform.PhiSanitizer
    import r.spark.implicits._
    val custom = Graft.customPhiPatterns(r.args, r.db, consultDbRegistry = true)
    val customNames = custom.map(_.name).toSet
    val customPats = custom.map(p => (p.regex, p.name))
    val allPats = PhiSanitizer.mergedRegistry(custom).map(p => (p.regex, p.name))
    val headerLines = graft.vcf.VcfHeader.readHeaderLines(r.spark, r.vcf)
    val meta = PhiSanitizer.sanitizeHeader(headerLines)
      .redactions.filterNot(x => customNames(x.category)).map(x =>
        PhiSanitizer.Detection(x.pattern, x.category, "HEADER")) ++
      PhiSanitizer.scanHeaderCustom(headerLines, customPats)
    val sampleIds = headerLines.filter(_.startsWith("#CHROM"))
      .flatMap(l => PhiSanitizer.scanChromLine(l, allPats))
    val dataRows = r.spark.read.textFile(r.vcf)
      .filter(!$"value".startsWith("#")).limit(1000).collect().toSeq
      .flatMap(l => PhiSanitizer.scanDataLine(l, allPats))
    val findings = meta ++ sampleIds ++ dataRows
    if (findings.isEmpty) return "phi_scan: clean"
    val cats = findings.map(_.category).distinct.sorted
    val where = findings.map(_.context.takeWhile(_ != '[')).distinct.sorted
    println(s"WARNING: PHI detected in VCF: ${findings.length} items " +
      s"${cats.mkString(",")} in ${where.mkString(",")}")
    if (has(r.args, "--fail-on-phi"))
      sys.error(s"PHI detected in VCF file (${findings.length} findings). " +
        "Drop --fail-on-phi to load anyway.")
    s"phi_scan: ${findings.length} findings " +
      cats.mkString("(", ",", ")") + " in " + where.mkString(",")
  }

  /** Deterministic ANON_<sha256(salt||id)[:12]> sample ids. The mapping
    * is ONE-WAY by design (deviation from the reference's encrypted
    * phi_vault, documented): no recoverable original id is stored
    * anywhere; --anonymize-salt keys the hash so low-entropy sample ids
    * can't be brute-forced from the anon id. */
  private def anonId(r: Run)(c: Column): Column =
    concat(lit("ANON_"), substring(sha2(concat(
      lit(arg(r.args, "--anonymize-salt").getOrElse("")), c), 256), 1, 12))

  /** Parse the batch: the variants parse is cached and counted while the
    * genotype side runs beside it, then joined with the per-batch QC. */
  private def parse(r: Run): Batch = {
    import r.spark.implicits._
    val args = r.args
    // normalize DEFAULTS ON like the reference's load (`cli.py:269`);
    // `--imputation-source` (`cli.py:317-323`) pins the imputation-metric
    // extraction to one tool's INFO vocabulary instead of header sniffing
    val opts = VcfReader.Options(
      normalize = !has(args, "--no-normalize"),
      humanGenome = !has(args, "--no-human-genome"),
      imputationSource = arg(args, "--imputation-source").getOrElse("auto"),
      minInfoScore = arg(args, "--min-info-score").map(_.toDouble))
    val v = VcfReader.variants(r.spark, r.vcf, opts)
      .withColumn("load_batch_id", lit(r.batchId))
    val header = r.progress.stage("read_header")(
      graft.vcf.VcfHeader.read(r.spark, r.vcf))
    // HIPAA master toggle (`cli.py:303-310,352-359`): compliance features
    // default ON; --no-hipaa-mode turns anonymization AND header
    // sanitization off in one flag; the individual --no-anonymize /
    // --no-sanitize-headers still apply on top
    val hipaaOff = has(args, "--no-hipaa-mode")
    val anonymize = !hipaaOff && !has(args, "--no-anonymize")
    if (!hipaaOff && !has(args, "--no-scan-headers") &&
        !has(args, "--no-sanitize-headers"))
      sanitizeHeaderNote(r, header.lines)
    // the anonymization MAPPING derives from the header's sample list and
    // lands in the vault whether or not genotypes are stored
    // (`loader.py:328-345`)
    val anonIds =
      if (anonymize && header.samples.nonEmpty)
        Some(header.samples.toDF("sample_id")
          .select(anonId(r)($"sample_id").as("anon_id")))
      else None
    // per-sample genotype storage is OPT-IN like the reference
    // (`cli.py:324-326`, `loader.py:398-402`): at scale it multiplies the
    // store by sample count. Without it the QC columns stay typed-null.
    val storeGenotypes = has(args, "--store-genotypes") && header.samples.nonEmpty
    val dosageOnly = has(args, "--dosage-only")
    // an explicitly-passed genotype-storage flag that cannot take effect
    // must not vanish silently
    if (!storeGenotypes && (dosageOnly || has(args, "--adj-filter")))
      println("WARNING: --adj-filter/--dosage-only apply to genotype " +
        "storage, which needs --store-genotypes" +
        (if (header.samples.isEmpty) " and a sample-bearing VCF" else "") +
        " — no genotype rows will be stored")
    val g =
      if (storeGenotypes) Some(genotypeRows(r, opts, anonymize, dosageOnly))
      else None
    r.appendedG = g.isDefined
    // the cache fills on the count, so later writes read materialized rows
    // (repartitionByRange alone executes its input twice); the count IS
    // the per-batch ledger number. The genotype side (text parse -> hive
    // append -> reload drop -> QC) runs beside it on its own driver
    // thread: two independent scans of one file keep the executor pool
    // full where back-to-back they leave cores idle in each phase.
    val vCache = r.cache(graft.ingest.VariantMatching.withVariantId(v))
    var n = 0L
    var qc: Option[DataFrame] = None
    Writers.runConcurrently(
      (() => n = r.progress.stage("parse_count")(vCache.count())) +:
        g.toSeq.map(gw => () => qc = genotypeSide(r, gw, dosageOnly)))
    // a reload WITHOUT genotype storage of a file whose previous batch
    // stored genotype rows still drops them — only now that the
    // replacement file parsed cleanly
    if (!storeGenotypes && DbFs.exists(tbl(r.db, "genotypes")))
      r.prevBatch.foreach(dropPrevGenotypes(r, _))
    Batch(joinQc(r, vCache, qc), n, opts, anonIds)
  }

  /** `--sanitize-headers`, default ON (`cli.py:295-298`,
    * `loader.py:308-326`): scan the header with the builtin patterns and
    * record the outcome — a printed summary plus a ledger-note clause the
    * phi-report/phi-stats verbs serve. */
  private def sanitizeHeaderNote(r: Run, lines: Seq[String]): Unit = {
    import graft.transform.PhiSanitizer
    val rep = PhiSanitizer.sanitizeHeader(lines)
    if (rep.redactions.nonEmpty) {
      val sev = rep.redactions.map(x => PhiSanitizer.severityOf(x.category,
        PhiSanitizer.mergedRegistry(Nil)))
      val risk = Seq("critical", "high", "medium", "low")
        .find(sev.contains).getOrElse("low")
      println(s"header sanitization: detected " +
        s"${rep.redactions.length} PHI items (risk: $risk)")
      val clause = s"header_sanitization: ${rep.redactions.length} items " +
        s"(risk: $risk)"
      r.ledgerNote = if (r.ledgerNote.isEmpty) clause else s"${r.ledgerNote}; $clause"
    }
  }

  /** The batch's genotype rows, anonymized and filtered as the flags ask. */
  private def genotypeRows(r: Run, opts: VcfReader.Options,
      anonymize: Boolean, dosageOnly: Boolean): DataFrame = {
    var g = VcfReader.genotypes(r.spark, r.vcf, opts.humanGenome,
        opts.skipMalformed)
      .withColumn("load_batch_id", lit(r.batchId))
    if (anonymize) g = g.withColumn("sample_id", anonId(r)(col("sample_id")))
    // `--adj-filter` (`cli.py:327-331`, `genotype_loader.py:279-282`):
    // store only rows passing gnomAD ADJ. Runs BEFORE --dosage-only, like
    // the reference (the filter reads the real GQ/DP/AB the nulling
    // would erase)
    if (has(r.args, "--adj-filter")) g = g.filter(col("passes_adj"))
    // `--dosage-only` (`cli.py:332-334`, `genotype_loader.py:288-293`):
    // hard-call fields null out, dosage + its GP/DS sources survive.
    // passes_adj keeps the ORIGINAL call's ADJ verdict.
    if (dosageOnly)
      g = g
        .withColumn("gt", lit("."))
        .withColumn("phased", lit(false))
        .withColumn("a1", lit(null).cast("int"))
        .withColumn("a2", lit(null).cast("int"))
        .withColumn("gq", lit(null).cast("int"))
        .withColumn("dp", lit(null).cast("int"))
        .withColumn("ad", lit(null).cast("array<int>"))
        .withColumn("allele_balance", lit(null).cast("double"))
    g
  }

  /** The genotype side: hive append, reload drop, then the per-batch
    * variant QC aggregated from the WRITTEN rows (cached and counted), or
    * None for a dosage-only store. */
  private def genotypeSide(r: Run, g: DataFrame,
      dosageOnly: Boolean): Option[DataFrame] = {
    // hive-partitioned by chrom from the FIRST append (the variants
    // layout): the genotype probe lists one chrom directory. A narrow
    // write — rows land unsorted; `compact` pays the ordering debt. A
    // pre-hive db has FLAT files at the table root, and a hive append
    // there would mix layouts into an unreadable table, so such stores
    // keep appending flat until a `compact` migrates them.
    val gDir = tbl(r.db, "genotypes")
    val legacyFlat = DbFs.hasFlatParquet(gDir)
    r.progress.stage("write_genotypes") {
      val w = g.write.mode("append")
      (if (legacyFlat) w else w.partitionBy("chrom")).parquet(gDir)
    }
    Graft.invalidateListings(r.db, Seq("genotypes"))
    // force-reload drops the previous batch's genotype rows AFTER the new
    // batch's append succeeded (a corrupt reload file never destroys the
    // batch it replaces) and BEFORE the QC plan below lists the directory
    // (a lazy plan would capture the doomed files)
    r.prevBatch.foreach(dropPrevGenotypes(r, _))
    // a dosage-only store holds NO hard calls by design — QC from the
    // nulled rows would PERSIST a claim the source data contradicts; the
    // QC columns stay typed-null (`models.py:54-61`)
    if (dosageOnly) return None
    // a column-pruned scan of the written parquet (other batches prune on
    // load_batch_id stats) beats re-parsing the VCF text a third time;
    // chrom is a hive partition column on read-back, cast to match v's
    // key type. A zero-row batch on a fresh db leaves no parquet to infer
    // a schema from, so QC falls back to the parse plan.
    val written = DbFs.hasData(gDir)
    Some(r.progress.stage("genotype_qc") {
      val q = r.cache((if (written)
          graft.qc.VariantQc.fromGenotypes(r.spark.read.parquet(gDir)
            .withColumn("chrom", col("chrom").cast("string"))
            .filter(col("load_batch_id") === r.batchId))
        else graft.qc.VariantQc.fromGenotypes(g)).drop("n_samples"))
      q.count()
      q
    })
  }

  /** Surgical O(batch) drop of a reloaded file's previous genotype rows
    * (DELETE WHERE load_batch_id, `loader.py:244-252`): footer-stat
    * identified files are renamed away; only post-compact files mixing
    * batches pay a filtered single-file rewrite. A failure between this
    * drop and the commit leaves the file reading as not loaded;
    * re-running the load recovers. */
  private def dropPrevGenotypes(r: Run, b: String): Unit = {
    r.progress.stage("drop_prev_genotypes") {
      Writers.dropBatchFiles(r.spark, s"${r.db}/genotypes", b)
    }
    Graft.invalidateListings(r.db, Seq("genotypes"))
  }

  /** Join the per-batch QC on the full decomposed key ((chrom,pos,ref)
    * alone would row-multiply sites that share a position across ALTs);
    * the left join is count-preserving, so the parse count stays the
    * ledger number. Every batch then carries the QC columns, null when
    * the file had no genotypes (`schema.py:110-187`), so sample-less and
    * genotyped loads produce identical columns and stay on the append
    * path. */
  private def joinQc(r: Run, vCache: DataFrame,
      qc: Option[DataFrame]): DataFrame = {
    var vc = qc.fold(vCache)(q =>
      vCache.join(q, Seq("chrom", "pos", "ref", "alt"), "left"))
    graft.qc.VariantQc.joinedColumns.foreach { case (c, t) =>
      if (!vc.columns.contains(c)) vc = vc.withColumn(c, lit(null).cast(t))
    }
    // one execution of the QC join serves all three table writes (and
    // repartitionByRange's range-sampling pass)
    if (qc.isDefined) {
      vc = r.cache(vc)
      r.progress.stage("join_qc")(vc.count())
    }
    vc
  }

  /** Land the batch: an O(batch) append when the store accepts it, the
    * concurrent three-table swap on a fresh db, else the staged full
    * rewrite. */
  private def write(r: Run, b: Batch): Unit = {
    val db = r.db
    val storeExists = DbFs.exists(tbl(db, "variants"))
    r.progress.stage("schema_check")(
      if (storeExists) appendTarget(r, b.rows) else None) match {
      case Some((storeSchema, rsidSchema)) =>
        appendBatch(r, b.rows, storeSchema, rsidSchema)
      case None if !storeExists =>
        // a zero-variant batch on a FRESH db must not create the store: an
        // empty table leaves a marker-only directory no later read can
        // infer a schema from. Otherwise all three tables derive from the
        // cached batch — one concurrent group, one all-or-nothing swap.
        if (b.n > 0) r.progress.stage("write_tables") {
          Writers.replaceInPlaceAllStagedGrouped(Seq(Seq(
            (s"$db/variants", (t: Map[String, String]) =>
              Writers.writeVariants(b.rows, t(s"$db/variants"))),
            (s"$db/rsid_idx", (t: Map[String, String]) =>
              Writers.writeRsidIndex(b.rows, t(s"$db/rsid_idx"))),
            (s"$db/gene_idx", (t: Map[String, String]) =>
              Writers.writeGeneIndex(b.rows, t(s"$db/gene_idx"))))))
        }
      case None =>
        // schema evolution or legacy projections: survivors plus batch,
        // with both covering projections rebuilt in the same swap
        val stored = r.spark.read.parquet(tbl(db, "variants"))
        val survivors = r.prevBatch.fold(stored)(Audit.dropBatch(stored, _))
        r.progress.stage("write_tables") {
          Graft.replaceVariantsStaged(r.spark, db,
            graft.ingest.VariantMatching.withVariantId(
              survivors.unionByName(b.rows, allowMissingColumns = true)))
        }
    }
  }

  /** The (store, rsID projection) schemas when the batch can APPEND to
    * the existing store — §2.13 append-only cohort: the common load (an
    * existing store, a new file) lands as new pos-sorted files in the
    * chrom directories and new rows of both covering projections, reading
    * or rewriting no existing file (the reference's INSERTs are O(batch)
    * for the same reason). None routes to the staged full rewrite: schema
    * evolution, type drift, or a projection not in its covering shape. */
  private def appendTarget(r: Run,
      vc: DataFrame): Option[(StructType, StructType)] = {
    val storeSchema = r.spark.read.parquet(tbl(r.db, "variants")).schema
    // an unreadable projection (absent, or empty with no footer to infer
    // from) routes to the full-rewrite path, never fails
    def projSchema(t: String) =
      try {
        if (DbFs.exists(tbl(r.db, t))) Some(r.spark.read.parquet(tbl(r.db, t)).schema)
        else None
      } catch { case scala.util.control.NonFatal(_) => None }
    val storeTypes = storeSchema.fields.toSeq.map(f => f.name -> f.dataType).toMap
    val extra = vc.columns.toSet -- storeSchema.fieldNames.toSet
    // covering = the projection carries every store column at the store's
    // types: a slim legacy rsid_idx, or one with a drifted type, would
    // silently miss or null-cast appended rows
    val rsidSchema = projSchema("rsid_idx").filter(s =>
      s.fields.toSeq.map(f => f.name -> f.dataType).toSet == storeTypes.toSet)
    // load_batch_id is REQUIRED in the gene projection: the O(batch)
    // force-reload drops a batch's index rows by footer stats on it; a
    // legacy 8-column gene_idx routes to the full rewrite, which migrates
    // it
    val geneReady = projSchema("gene_idx").exists { s =>
      s.fieldNames.toSet == Set("gene", "chrom", "pos", "ref", "alt",
        "impact", "consequence", "variant_id", "load_batch_id") &&
      s.fields.forall(f => storeTypes.get(f.name).contains(f.dataType))
    }
    // NAME overlap is not enough: alignTo CASTS the batch to the store's
    // types, and a lossy cast silently nulls data (e.g. an all-numeric
    // chrom layout read back as integers would null a later chrX batch).
    // Any common-column type mismatch takes the full rewrite, where
    // unionByName reconciles.
    val batchTypes = vc.schema.map(f => f.name -> f.dataType).toMap
    val typeDrift = storeSchema.fields.toSeq.flatMap(f =>
      batchTypes.get(f.name).filter(_ != f.dataType)
        .map(t => s"${f.name}: $t vs store ${f.dataType}"))
    if (extra.nonEmpty)
      println(s"schema evolution (${extra.mkString(",")}): " +
        "full-rewrite load instead of batch append")
    else if (typeDrift.nonEmpty)
      println(s"schema type drift (${typeDrift.mkString("; ")}): " +
        "full-rewrite load instead of batch append")
    if (extra.isEmpty && typeDrift.isEmpty && geneReady)
      rsidSchema.map(storeSchema -> _)
    else None
  }

  /** O(batch) append of the batch to the store and both projections. A
    * force-reload first drops the previous batch's files (footer-stat
    * identified) — only AFTER the new file parsed and cached cleanly, so
    * a corrupt reload file never destroys the batch it replaces. */
  private def appendBatch(r: Run, vc: DataFrame, storeSchema: StructType,
      rsidSchema: StructType): Unit = {
    val db = r.db
    r.prevBatch.foreach { b =>
      r.progress.stage("drop_prev_batch") {
        Sites.foreach(t => Writers.dropBatchFiles(r.spark, s"$db/$t", b))
      }
      Graft.invalidateListings(db, Sites)
    }
    r.appendedV = true
    val aligned = Graft.alignTo(vc, storeSchema)
    // three independent writes from the materialized batch cache
    r.progress.stage("write_tables") {
      Writers.runConcurrently(Seq(
        () => Writers.writeVariants(aligned, tbl(db, "variants"), mode = "append"),
        () => Writers.writeRsidIndex(Graft.alignTo(vc, rsidSchema),
          tbl(db, "rsid_idx"), mode = "append"),
        () => Writers.writeGeneIndex(aligned, tbl(db, "gene_idx"), mode = "append")))
    }
    // appends can land within the directory-mtime tick of a cached probe
    // listing (same-JVM); a swapped-in table replaces the directory
    Graft.invalidateListings(db, Sites)
  }

  /** `--compact`: fold this load's appends back into sized files before
    * the commit, so a failure here ledgers as failed and rolls back. The
    * variants store compacts per chrom (content unchanged, so the
    * projections stay fresh and only need their own file-count fold). */
  private def fold(r: Run): Unit = if (has(r.args, "--compact")) {
    val mb = arg(r.args, "--target-file-mb").getOrElse("128").toLong
    if (r.appendedG) r.progress.stage("compact_genotypes") {
      Graft.compactTable(r.spark, r.db, "genotypes", mb)
    }
    if (r.appendedV) r.progress.stage("compact_variants") {
      Graft.compactTable(r.spark, r.db, "variants", mb, perChromMaxFiles = Some(1))
      Seq("rsid_idx", "gene_idx").foreach(Graft.compactTable(r.spark, r.db, _, mb))
    }
  }

  /** Write the completed ledger row (the commit point), then the
    * advisory vault rows, the progress lines and the report. */
  private def commit(r: Run, b: Batch): Unit = {
    // a zero-variant batch must not leave schema-less marker directories:
    // a directory holding only _SUCCESS poisons every later read of that
    // table. Unconditional: also covers a force-reload to an empty file
    // whose surgical drop removed the store's only batch.
    if (b.n == 0)
      (Sites ++ (if (r.appendedG) Seq("genotypes") else Nil)).foreach { t =>
        val d = tbl(r.db, t)
        if (DbFs.exists(d) && !DbFs.hasParquetRecursive(d)) {
          DbFs.deleteRecursive(d)
          DbFs.deleteRecursive(DbFs.pointerPath(s"${r.db}/$t"))
        }
      }
    r.progress.stage("ledger_commit")(r.ledgerRow("completed", b.n, r.ledgerNote))
    r.committed = true
    b.anonIds.foreach(writeVault(r, _))
    r.progress.print()
    println(s"loaded ${b.n} variants (batch ${r.batchId})")
    // variants_skipped is the reference's info-score drop count
    // (`loader.py:292-296`): an extra O(batch) recount paid only when both
    // --report and --min-info-score were given. Best-effort — the load is
    // committed, so a recount failure reports the reference's absent-key
    // default of 0 (`cli.py:479`)
    val skippedN =
      if (arg(r.args, "--report").isDefined && b.opts.minInfoScore.isDefined)
        scala.util.Try(math.max(0L, VcfReader.variants(r.spark, r.vcf,
            b.opts.copy(minInfoScore = None)).count() - b.n))
          .recover { case e =>
            println("WARNING: variants_skipped recount failed " +
              s"(${e.getMessage}); reporting 0")
            0L
          }.get
      else 0L
    report(r, Seq(
      "status" -> jsonStr("success"),
      "variants_loaded" -> b.n.toString,
      "variants_skipped" -> skippedN.toString,
      "load_batch_id" -> jsonStr(r.batchId),
      "file_hash" -> jsonStr(r.hash)))
  }

  /** Vault rows only after the commit (no orphan rows from failed loads),
    * deduped against prior loads of the same samples (the reference
    * upserts ON CONFLICT, `phi/anonymizer.py`); advisory, so an IO
    * failure must not roll back the committed batch. */
  private def writeVault(r: Run, ids: DataFrame): Unit =
    try {
      val vaultDir = s"${r.db}/phi_vault/sample_id_mapping"
      val fresh =
        if (DbFs.exists(vaultDir))
          ids.join(r.spark.read.parquet(vaultDir).select("anon_id"),
            Seq("anon_id"), "left_anti")
        else ids
      fresh.withColumn("load_batch_id", lit(r.batchId))
        .write.mode("append").parquet(vaultDir)
    } catch {
      case scala.util.control.NonFatal(e) =>
        println(s"WARNING: phi_vault write failed: ${e.getMessage}")
    }

  /** Roll back this batch's appends (best-effort; swapped tables never
    * committed), then ledger the failure — orphan data with no audit
    * trace is the reference's explicit no-no (`loader.py:547-623`). A
    * partially-appended batch rolls back by rewriting the survivors: the
    * failure path pays the O(store) rewrite the happy path does not. */
  private def rollback(r: Run, e: Throwable): Unit = {
    val db = r.db
    try {
      if (r.appendedG && DbFs.exists(tbl(db, "genotypes")))
        Writers.replaceInPlace(Audit.dropBatch(
            r.spark.read.parquet(tbl(db, "genotypes")), r.batchId),
          s"$db/genotypes")((d, p) => d.write.partitionBy("chrom").parquet(p))
    } catch { case _: Throwable => () }
    try {
      if (r.appendedV)
        Graft.replaceVariantsStaged(r.spark, db, Audit.dropBatch(
          r.spark.read.parquet(tbl(db, "variants")), r.batchId))
    } catch { case _: Throwable => () }
    r.ledgerRow("failed", 0L, s"error: ${e.getMessage}")
  }

  /** `--report` (`cli.py:282-283,458-497`): a machine-readable JSON load
    * report — the given status fields plus elapsed_seconds, vcf_file, an
    * UTC timestamp, sample_id (`--sample-id`, default the file stem,
    * `cli.py:491`) and the db as the reference's schema namespace. */
  private def report(r: Run, head: Seq[(String, String)]): Unit =
    arg(r.args, "--report").foreach { rp =>
      val base = new org.apache.hadoop.fs.Path(r.vcf).getName
      val stem =
        if (base.contains('.')) base.substring(0, base.lastIndexOf('.'))
        else base
      val ts = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
        .withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.now())
      val entries = head ++ Seq(
        // Locale.ROOT: a de/fr-locale JVM renders a comma decimal
        // separator, which is invalid JSON
        "elapsed_seconds" -> String.format(java.util.Locale.ROOT, "%.3f",
          Double.box((System.nanoTime() - r.t0) / 1e9)),
        "vcf_file" -> jsonStr(r.vcf),
        "timestamp" -> jsonStr(ts),
        "sample_id" -> jsonStr(arg(r.args, "--sample-id").getOrElse(stem)),
        "schema" -> jsonStr(r.db))
      DbFs.writeStringAtomic(rp, entries
        .map { case (k, v) => s"${jsonStr(k)}: $v" }
        .mkString("{\n  ", ",\n  ", "\n}\n"))
      println(s"  Report: $rp")
    }
}
