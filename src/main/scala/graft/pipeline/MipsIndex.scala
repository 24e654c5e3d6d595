package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.TableIO

/** Checkpointed SignALSH MIPS index — the persisted form of the hash-table
  * relation [[SignAlshRetrieval.corpusBits]] builds (O(n·T) packed longs;
  * at planFor(10⁹)'s 143 tables that projection is the index, and
  * recomputing it per query re-pays the full P-transform hashing pass).
  * Same store contract as [[IvfIndex]]: TableIO manifest stages with
  * chained config hashes — build-once/query-many, resume recomputes
  * nothing, a banding-plan change invalidates only the bits stage (the
  * quantized vectors stay valid), a partial or mixed-generation store
  * fails fast. Queries hash ONLY their probe rows (the Q-transform needs
  * no maxnorm, so probe bits computed against the store are bitwise the
  * ones the build-time path computes — pinned by MipsIndexSpec equality).
  *
  * The bits manifest records the corpus maxnorm M2 next to the plan tags:
  * the P-transform's norm terms are functions of ‖v‖²/M2, so [[append]]
  * hashes new vectors under the FROZEN base M2 (bitwise what a build-time
  * pass over them would have produced) and rejects a vector whose norm
  * exceeds it — the reference's maxnorm contract (sign_alsh.jl:95-105)
  * surfaced as a store-level invariant.
  */
object MipsIndex {
  import SignAlshRetrieval.MipsPlan

  final case class BuildReport(
      stages: Seq[CheckpointedDedup.StageResult], vectors: Long, plan: MipsPlan) {
    def recomputedStages: Seq[String] = stages.filter(_.recomputed).map(_.name)
  }

  final case class AppendReport(
      incDir: String, newVectors: Long, droppedDupOrStored: Long,
      stages: Seq[CheckpointedDedup.StageResult])

  // base and every inc-k snapshot hold the same two stages
  private val StageNames = Seq("vectors", "bits")

  private def planSalt(p: MipsPlan): String =
    s"${p.tables}:${p.planesPerTable}:${p.bucketBits}"

  private def bitsHash(h0: String, plan: MipsPlan): String =
    CheckpointedDedup.chainHash(h0, "mips_bits", planSalt(plan))

  /** Build (or resume) the index store at baseDir from a
    * (vec_id, embedding: array<float>) relation. The banding plan defaults
    * to [[SignAlshRetrieval.planFor]] over the corpus row count (taken from
    * the vectors-stage manifest — no extra job). */
  def build(
      spark: SparkSession, emb: DataFrame, baseDir: String,
      plan: Option[MipsPlan] = None): BuildReport = {
    graft.functions.GraftExpressions.register(spark)
    val runner = new StageRunner(spark, baseDir)
    val h0 = CheckpointedDedup.chainHash("root", "mips_vectors",
      s"v1:${StageRunner.inputFingerprint(emb, "vec_id", "embedding")}")
    val vectorsStage = runner.stage("vectors", h0) { IvfIndex.quantized(emb) }
    val nVecs = TableIO.readManifest(s"$baseDir/vectors").map(_.rows).getOrElse(0L)
    val p = plan.getOrElse(SignAlshRetrieval.planFor(nVecs))
    // maxnorm M2 computed ONCE driver-side (one narrow agg over the
    // quantized vectors) so the manifest can carry it for [[append]]; the
    // in-plan-broadcast form (SignAlshRetrieval.corpusBits) computes the
    // same max — bitwise-equal bits either way (MipsIndexSpec pins the
    // store ≡ in-memory equality)
    lazy val m2 = vectorsStage.df
      .agg(coalesce(max(call_function("graft_dot", col("v"), col("v"))), lit(0L)))
      .first().getLong(0)
    // LEGACY UPGRADE: a store built before the m2 tag resumes here (the
    // bits hash doesn't cover manifest extras), so "re-run build" would be
    // a no-op and append would fail forever with the rebuild hint (round-6
    // review). Detect the m2-less manifest and force the stage to
    // recompute — manifest deleted FIRST, the crash-safe rewrite protocol.
    val bitsDir = s"$baseDir/bits"
    if (TableIO.isComplete(bitsDir, bitsHash(h0, p)) &&
        !TableIO.readManifest(bitsDir).exists(_.extra.contains("m2"))) {
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(bitsDir, "_manifest.json"))
    }
    runner.stage("bits", bitsHash(h0, p), Map(
      "tables" -> p.tables.toString,
      "planesPerTable" -> p.planesPerTable.toString,
      "bucketBits" -> p.bucketBits.toString,
      "m2" -> m2.toString)) {
      SignAlshRetrieval.corpusBitsWithM2(vectorsStage.df, p, m2)
    }
    runner.writeBasicMetrics()
    BuildReport(runner.stages.toSeq, nVecs, p)
  }

  /** Append new (vec_id, embedding) rows to a completed store WITHOUT
    * re-hashing the stored corpus (the IvfIndex.append posture): the plan
    * AND the maxnorm M2 are frozen from the base bits manifest, new rows
    * are id-anti-joined against the stored ids (re-deliveries dropped),
    * only the genuinely-new rows pay quantization + the O(new·T·P)
    * P-transform, and the result commits as an `inc-k/{vectors,bits}`
    * snapshot (gap-free numbering, manifest-complete = committed, atomic
    * rename, loud lost-race — [[IncDirs]]).
    *
    * A new vector with ‖v‖² > the frozen M2 fails fast: under SignALSH the
    * norm terms require ‖v‖ ≤ maxnorm, and silently hashing it under the
    * base M2 would index it with out-of-contract bits (missed matches) —
    * rebuild the store when the corpus outgrows its maxnorm. */
  def append(spark: SparkSession, newEmb: DataFrame, baseDir: String): AppendReport = {
    graft.functions.GraftExpressions.register(spark)
    val (manifests, p, m2Opt, incs) = validateStore(baseDir)
    val m2 = m2Opt.getOrElse(throw new IllegalStateException(
      s"MIPS store at $baseDir predates the append feature (bits manifest " +
        s"lacks the m2 tag) — re-run MipsIndex.build once to enable appends " +
        s"(build detects the legacy manifest and refreshes the bits stage)"))
    val baseChain = bitsHash(manifests("vectors").configHash, p)
    val (incDir, nNew, nDropped, stages) = IncDirs.appendStages(
      spark, newEmb, baseDir, "MIPS store",
      incs = incs, baseChain = baseChain, saltPrefix = "mips_append",
      secondStage = "bits", secondSalt = planSalt(p),
      // maxnorm check FUSED into the core's count agg (one job)
      extraStat = Some(coalesce(max(call_function("graft_dot", col("v"), col("v"))), lit(0L))),
      validate = mx => require(mx <= m2,
        s"MIPS store at $baseDir: an appended vector has ‖v‖² = $mx > the " +
          s"store's frozen maxnorm M2 = $m2 — SignALSH bits for it would be " +
          s"out of contract; rebuild the store (MipsIndex.build) to re-fit " +
          s"the maxnorm"),
      computeSecond = newVecs => SignAlshRetrieval.corpusBitsWithM2(newVecs, p, m2))
    AppendReport(incDir, nNew, nDropped, stages)
  }

  /** Top-k MIPS for every stored vector matching probeFilter — from the
    * checkpoints alone: the corpus (base AND appends) is never re-hashed;
    * only the probe rows pay the Q-transform. */
  def topKWithHandle(
      spark: SparkSession, baseDir: String, probeFilter: Column,
      k: Int = 10): (DataFrame, Seq[DataFrame]) = {
    val (vectors, corpus, p) = openStore(spark, baseDir)
    val probes = SignAlshRetrieval.probeBits(vectors, p, probeFilter)
    val (out, pinned) = SignAlshRetrieval.bucketRank(corpus, probes, p, k)
    (out, corpus +: pinned)
  }

  /** [[topKWithHandle]] with the probe set as a (vec_id) relation — the
    * broadcast-semi-join posture (see IvfIndex.probeRerankIds); the CLI's
    * form. Callers guarantee the id relation is small (the CLI counts it). */
  def topKWithHandleIds(
      spark: SparkSession, baseDir: String, probeIds: DataFrame,
      k: Int = 10): (DataFrame, Seq[DataFrame]) = {
    val (vectors, corpus, p) = openStore(spark, baseDir)
    // empty id relation short-circuited BEFORE the broadcast join is planned
    // (evaluating broadcast(empty) is the phantom-broadcast trap)
    // distinct: a duplicated probe id would ride the inner join into
    // duplicate probe rows — duplicate bucket probes and repeated result
    // rows burning rnk ≤ k slots (round-6 review, the IvfIndex rationale)
    val probeVecs =
      if (probeIds.limit(1).count() == 0) vectors.limit(0)
      else vectors.join(broadcast(probeIds.select(col("vec_id")).distinct()), "vec_id")
    val probes = SignAlshRetrieval.probeBits(probeVecs, p, lit(true))
    val (out, pinned) = SignAlshRetrieval.bucketRank(corpus, probes, p, k)
    (out, corpus +: pinned)
  }

  /** Validate base + appends and open (vectors∪, cached bits∪, plan). */
  private def openStore(
      spark: SparkSession, baseDir: String): (DataFrame, DataFrame, MipsPlan) = {
    graft.functions.GraftExpressions.register(spark)
    val (_, p, _, incs) = validateStore(baseDir)
    val vectors = IncDirs.union(spark, baseDir, incs, "vectors")
    // the bits read-back feeds two plan branches (bucket join + rerank)
    val corpus = IncDirs.union(spark, baseDir, incs, "bits").cache()
    (vectors, corpus, p)
  }

  /** Store-consistency gate shared by queries and [[append]]: base
    * manifests present, plan tags present, bits hash chained off the
    * current vectors hash, every append committed AND chained off THIS
    * base generation. m2 is None on a pre-append-era store (queryable —
    * m2 is unused by queries — but [[append]] requires it). */
  private def validateStore(
      baseDir: String): (Map[String, TableIO.Manifest], MipsPlan, Option[Long], Seq[(Int, String)]) = {
    val manifests = StageNames.map { n =>
      n -> TableIO.readManifest(s"$baseDir/$n").getOrElse(
        throw new IllegalStateException(
          s"MIPS store at $baseDir is incomplete: stage '$n' has no manifest " +
            s"(crashed or never-finished build) — re-run MipsIndex.build"))
    }.toMap
    val extra = manifests("bits").extra
    val p = MipsPlan(
      tables = extra.getOrElse("tables", missingTag(baseDir, "tables")).toInt,
      planesPerTable = extra.getOrElse("planesPerTable", missingTag(baseDir, "planesPerTable")).toInt,
      bucketBits = extra.getOrElse("bucketBits", missingTag(baseDir, "bucketBits")).toInt)
    val m2 = extra.get("m2").map(_.toLong)
    val baseChain = bitsHash(manifests("vectors").configHash, p)
    require(manifests("bits").configHash == baseChain,
      s"MIPS store at $baseDir: the bits stage was written for a different " +
        s"input/plan than the current vectors stage (hash chain broken) — " +
        s"re-run MipsIndex.build")
    val incs = IncDirs.committed(baseDir, StageNames, "MIPS store")
    incs.foreach { case (_, dir) =>
      val vm = TableIO.readManifest(s"$dir/vectors").get
      val bm = TableIO.readManifest(s"$dir/bits").get
      require(vm.extra.get("base").contains(baseChain),
        s"MIPS store append at $dir was built against a DIFFERENT base " +
          s"generation (the base was rebuilt under other input/plan since) — " +
          s"delete the inc-* dirs and re-append, or rebuild the store")
      require(bm.configHash ==
        CheckpointedDedup.chainHash(vm.configHash, "mips_append_bits", planSalt(p)),
        s"MIPS store append at $dir: bits do not chain off their own vectors " +
          s"stage (hash chain broken) — quarantine that increment")
    }
    (manifests, p, m2, incs)
  }

  private def missingTag(baseDir: String, tag: String): Nothing =
    throw new IllegalStateException(
      s"MIPS store at $baseDir: bits manifest lacks the '$tag' plan tag")
}
