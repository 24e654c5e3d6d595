package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{IvfIndex, SignAlshRetrieval}
import graft.testkit.PagesGen

/** The `functions` kernel layer: each kernel's time per row at local[N]
  * over a cached batch, on the noop sink (so the kernel column is computed
  * for every row). Each kernel pass is timed next to a pass that projects
  * only the kernel's input columns from the same batch, and the figure is
  * the difference per row, so it leaves out the job's fixed scheduling,
  * task launch and scan costs. The batch is the same for every workload of
  * a seed. */
object Kernels {
  // rows per batch: enough that the kernel work in a pass is 50-300 ms on
  // a 4-core host, above the few-ms jitter of a Spark job
  private val Docs = 4000L
  private val Copies = 16 // the cheap band and Jaccard kernels run on copies
  private val Vecs = 64000L
  private val LcsPairs = 500L // graft_lcs_len is the slowest per row
  private val BitsVecs = 500L // so is the corpusBits tree
  private val Reps = 5

  /** `n` copies of every row of `df`, keyed `key` afresh, spread evenly
    * over 2 × cores partitions. */
  private def copies(df: DataFrame, key: String, n: Int, cores: Int): DataFrame =
    df.crossJoin(df.sparkSession.range(n).toDF("copy"))
      .withColumn(key, col(key) * n + col("copy")).drop("copy").repartition(cores * 2)

  def measure(spark: SparkSession, seed: Long, cores: Int): Map[String, Double] = {
    graft.functions.GraftExpressions.register(spark)
    val cfg = graft.SparkEntry.lshConfig
    val docs = PagesGen.pages(spark, Docs, seed, cores * 2).select("id", "text").cache()
    val sh = docs.select(col("id"), col("text"),
      call_function("graft_shingle_hashes", col("text"), lit(cfg.shingleWords), lit(cfg.seed)).as("s")).cache()
    val sig = sh.select(col("id"),
      call_function("graft_minhash_sig", col("s"), lit(cfg.numHashes), lit(cfg.seed)).as("sig")).cache()
    val pairs = {
      import spark.implicits._
      val p = PagesGen.plantedPairs(Docs).toDF("a", "b")
      p.join(sh.select(col("id").as("a"), col("s").as("sa"), col("text").as("ta")), "a")
        .join(sh.select(col("id").as("b"), col("s").as("sb"), col("text").as("tb")), "b")
        .repartition(cores * 2).cache()
    }
    // every batch is spread evenly over 2 × cores partitions
    val lcsPairs = pairs.where(col("a") < LcsPairs).repartition(cores * 2).cache()
    val sigCopies = copies(sig, "id", Copies, cores).cache()
    val setCopies = copies(pairs.select("a", "sa", "sb"), "a", Copies / 2, cores).cache()
    val vecs = IvfIndex.quantized(spark.range(0, Vecs, 1, cores * 2).toDF("vec_id")
      .select(col("vec_id"), expr(s"transform(sequence(0, 63), i -> cast(" +
        s"(pmod(xxhash64(concat('$seed:', cast(vec_id as string), ':', cast(i as string))), 2001) - 1000)" +
        " / 1000.0 as float))").as("embedding"))).cache()
    val cent = vecs.orderBy("vec_id").limit(64).collect()
    val flat = cent.flatMap(_.getSeq[Long](1))
    val norms = cent.map(r => math.sqrt(r.getSeq[Long](1).map(x => x.toDouble * x).sum))
    val bitsVecs = vecs.where(col("vec_id") < BitsVecs).repartition(cores * 2).cache()
    val cached = Seq(docs, sh, sig, pairs, lcsPairs, sigCopies, setCopies, vecs, bitsVecs)
    cached.foreach(_.count())
    val m2 = vecs.agg(max(call_function("graft_dot", col("v"), col("v")))).first().getLong(0)

    def noop(df: DataFrame): Long = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      System.nanoTime() - t0
    }
    /** Median over paired passes of (kernel pass - input-only pass) per row. */
    def time(kernel: DataFrame, inputs: DataFrame): Double = {
      val rows = inputs.count().toDouble
      noop(kernel); noop(inputs) // compile + warm
      Trace.median((1 to Reps).map(_ => (noop(kernel) - noop(inputs)) / rows))
    }
    def per(batch: DataFrame, c: Column, in: String*): Double =
      time(batch.select(c), batch.select(in.map(col): _*))
    val out = Map(
      "functions.graft_shingle_hashes.ns_per_row" -> per(docs,
        call_function("graft_shingle_hashes", col("text"), lit(cfg.shingleWords), lit(cfg.seed)), "text"),
      "functions.graft_minhash_sig.ns_per_row" -> per(sh,
        call_function("graft_minhash_sig", col("s"), lit(cfg.numHashes), lit(cfg.seed)), "s"),
      "functions.graft_band_hashes.ns_per_row" -> per(sigCopies,
        call_function("graft_band_hashes", col("sig"), lit(cfg.bands), lit(cfg.rowsPerBand), lit(cfg.seed)), "sig"),
      "functions.graft_jaccard_sorted.ns_per_row" -> per(setCopies,
        call_function("graft_jaccard_sorted", col("sa"), col("sb")), "sa", "sb"),
      "functions.graft_lcs_len.ns_per_row" -> per(lcsPairs,
        call_function("graft_lcs_len", col("ta"), col("tb")), "ta", "tb"),
      "functions.graft_ivf_argmax.ns_per_row" -> per(vecs,
        call_function("graft_ivf_argmax", col("v"), lit(flat), lit(norms)), "v"),
      // The MIPS bits tree in the append path's form (maxnorm frozen, one
      // job per pass), on the banding plan daily_append's MIPS store uses.
      // That tree overflows Janino's method limit, so the append runs it
      // interpreted after a failed whole-stage compile and a failed
      // projection compile in every task. This pass runs it interpreted
      // from the start: the failed compiles cost 0.5-1.7 s a pass on a
      // 4-core host, varying by tenths of a second, and would swamp the
      // per-row figure. They show in codegen.* and MipsIndex.append.bits.ms.
      "functions.SignAlshRetrieval.corpusBits.ns_per_row" -> interpreted(spark)(time(
        SignAlshRetrieval.corpusBitsWithM2(bitsVecs, SignAlshRetrieval.planFor(DailyAppend.MipsPlanVectors), m2),
        bitsVecs.select("vec_id", "v"))))
    cached.foreach(_.unpersist(blocking = true))
    out
  }

  /** Runs `body` with code generation off in the session. */
  private def interpreted[T](spark: SparkSession)(body: => T): T = {
    val keys = Seq("spark.sql.codegen.wholeStage" -> "false", "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally keys.foreach { case (k, _) => spark.conf.unset(k) }
  }
}
