package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.{MinHasher, Rng, Similarities}
import graft.pipeline.SignAlshRetrieval.MipsPlan

/** Reference twins of the engine's codegen kernels: the built-in Column
  * trees and Scala UDFs the `graft_*` expressions replaced. No production
  * code calls them; the specs pin each kernel bitwise (or set-for-set)
  * against its twin here. */
object ReferenceTwins {

  // ---------------------------------------------------------------- shingling

  /** Word-n-gram shingle hash set as a UDF (kernel: `graft_shingle_hashes`). */
  def shingleHashesUdf(n: Int, seed: Long): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((text: String) =>
      if (text == null) Array.empty[Long] else GraftFunctions.wordNgramHashSet(text, n, seed))

  /** Char-n-gram twin of [[shingleHashesUdf]] (kernel: `graft_char_shingle_hashes`). */
  def charShingleHashesUdf(n: Int, seed: Long): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((text: String) =>
      if (text == null) Array.empty[Long]
      else GraftFunctions.shingleHashSet(GraftFunctions.charNgrams(text, n), seed))

  // ------------------------------------------------------------- signatures

  /** MinHash signature, all k lanes in one pass (kernel: `graft_minhash_sig`). */
  def minhashSigUdf(k: Int, seed: Long): org.apache.spark.sql.expressions.UserDefinedFunction = {
    val hasher = MinHasher(k, seed)
    udf((shingles: Array[Long]) => if (shingles == null) null else hasher(shingles))
  }

  /** LSH band hashes: signature (length b·r) → b band keys, each a seeded
    * 64-bit combine of its r rows (kernel: `graft_band_hashes`). */
  def bandHashes(sig: Array[Long], bands: Int, rows: Int, seed: Long): Array[Long] = {
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = Rng.derive(seed, 0x42414E44L /* "BAND" */ + b.toLong)
      var r = 0
      while (r < rows) { h = Rng.hash2(h, sig(b * rows + r)); r += 1 }
      out(b) = h
      b += 1
    }
    out
  }

  /** Exact Jaccard on two sorted-distinct shingle-hash arrays, null → 0.0
    * (kernel: `graft_jaccard_sorted`). */
  val jaccardSortedUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((a: Array[Long], b: Array[Long]) =>
      if (a == null || b == null) 0.0 else Similarities.jaccardSorted(a, b))

  // ------------------------------------------------- embedding similarity

  /** 1e3 embedding quantization (kernel: `graft_quantize`). */
  def quantize(col: Column, q: Int = 1000): Column =
    transform(col, e => round(e.cast("double") * q).cast("long"))

  /** Exact int64 dot product (kernel: `graft_dot`). */
  def dotLong(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  /** Quantized cosine, one sqrt/div (kernel: `graft_cosq`). */
  def cosineQuantized(a: Column, b: Column): Column =
    dotLong(a, b).cast("double") /
      (sqrt(dotLong(a, a).cast("double")) * sqrt(dotLong(b, b).cast("double")))

  // ------------------------------------------------------------ SignALSH

  /** Raw dots of "mips" planes 0..n−1, derived straight from
    * CrossEngine.rademacher (no shared plane cache); null v → null. */
  private def mipsPlaneDots(n: Int) = udf((v: Seq[Long]) =>
    if (v == null) null
    else Array.tabulate(n)(g =>
      v.indices.map(i => CrossEngine.rademacher("mips", g, i).toLong * v(i)).sum))

  private def signBits(plan: MipsPlan)(term: Int => Column): Column =
    (0 until plan.planesPerTable)
      .map(p => when(term(p) >= 0, lit(1L << p)).otherwise(lit(0L))).reduce(_ + _)

  private def withDots(in: DataFrame, plan: MipsPlan): DataFrame =
    in.withColumn("nv", call_function("graft_dot", col("v"), col("v")))
      .withColumn("pd", mipsPlaneDots(plan.tables * plan.planesPerTable)(col("v")))

  /** (vec_id, bits): index-side P-transform bits of (vec_id, v, m2) rows as
    * the Column tree (kernel: `graft_mips_bits(v, m2, T, P)`). */
  def mipsIndexBits(eWithM2: DataFrame, plan: MipsPlan): DataFrame = {
    val P = plan.planesPerTable
    val base = withDots(eWithM2, plan)
    val m2d = col("m2").cast("double")
    val n2 = col("nv").cast("double") / m2d
    val n2sq = n2 * n2
    def idxTerm(t: Int)(p: Int): Column = {
      val g = t * P + p
      val d = element_at(col("pd"), g + 1).cast("double") / sqrt(m2d)
      d + lit(CrossEngine.rademacher("mips", g, 64).toDouble) * (lit(0.5) - n2) +
        lit(CrossEngine.rademacher("mips", g, 65).toDouble) * (lit(0.5) - n2sq) +
        lit(CrossEngine.rademacher("mips", g, 66).toDouble) * (lit(0.5) - n2sq * n2sq)
    }
    base.select(col("vec_id"),
      array((0 until plan.tables).map(t => signBits(plan)(idxTerm(t))): _*).as("bits"))
  }

  /** (probe_id, qbits): query-side Q-transform bits of (vec_id, v) rows as
    * the Column tree (kernel: `graft_mips_bits(v, T, P)`). */
  def mipsProbeBits(e: DataFrame, plan: MipsPlan): DataFrame = {
    val P = plan.planesPerTable
    val base = withDots(e, plan)
    def qryTerm(t: Int)(p: Int): Column =
      element_at(col("pd"), t * P + p + 1).cast("double") / sqrt(col("nv").cast("double"))
    base.select(col("vec_id").as("probe_id"),
      array((0 until plan.tables).map(t => signBits(plan)(qryTerm(t))): _*).as("qbits"))
  }
}
