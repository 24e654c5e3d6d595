package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** North-rule scaling evidence for the IVF ANN operator
  * (SparkEntry.ivfTopK): the same in-memory job at N and 4N local cores
  * over the same deterministic vector corpus, reporting throughput at both
  * plus the efficiency ratio. The timed unit covers the full operator:
  * quantization, the ceil(√n)-centroid sample, the O(n·C·d) assignment
  * pass, probing, and the exact rerank — assignment dominates, which is
  * the honest IVF build cost.
  *
  * Vectors use BigSmoke's 4-member cluster structure (base coords from the
  * cluster id, ±0.01 member noise) so probed cells contain genuine
  * neighbors and the rerank emits pairs, not empty frames.
  *
  * Usage: runMain graft.tools.IvfProbe [nVecs] [nLow] [nHigh] [reps]
  */
object IvfProbe {
  private[tools] def vectors(spark: SparkSession, n: Long, partitions: Int): DataFrame =
    spark.range(0, n, 1, partitions).toDF("vec_id")
      .select(col("vec_id"), (col("vec_id") / 4).cast("long").as("cid"))
      .select(col("vec_id"), expr(
        """transform(sequence(0, 63), i -> cast(
           ((pmod(xxhash64(concat(cast(cid as string), ':', cast(i as string))), 2001) - 1000) / 1000.0
            + (pmod(xxhash64(concat(cast(vec_id as string), '#', cast(i as string))), 21) - 10) / 1000.0)
           as float))""").as("embedding"))

  def main(args: Array[String]): Unit = {
    val nVecs = if (args.length > 0) args(0).toLong else 200000L
    val nLow = if (args.length > 1) args(1).toInt else 2
    val nHigh = if (args.length > 2) args(2).toInt else 8
    val reps = if (args.length > 3) args(3).toInt else 2

    def levelRun(cores: Int): Double = {
      val spark = graft.GraftSession.get(cores, s"ivf-probe-$cores")
      try {
        def run(n: Long): Double = {
          // input synthesis is NOT the operator: materialize the float
          // vectors untimed (the per-element string-concat + xxhash64
          // generation otherwise dominates the timed region — the same
          // honesty fix DeconProbe needed in round 5)
          val emb = vectors(spark, n, cores * 4).cache()
          emb.count()
          val nCells = math.ceil(math.sqrt(n.toDouble)).toInt
          val t0 = System.nanoTime()
          val (res, pinned) = graft.SparkEntry.ivfTopKWithHandle(
            emb, col("vec_id") < 32, nCells)
          val rows = res.count()
          val w = (System.nanoTime() - t0) / 1e9
          pinned.foreach(_.unpersist(blocking = false))
          emb.unpersist(blocking = false)
          println(f"[ivf-probe] cores=$cores vecs=$n cells=$nCells wall=$w%.2f s rows=$rows")
          w
        }
        run(nVecs / 8); run(nVecs / 8) // JIT warm-up (5-20× on iteration 1)
        (1 to reps).map(_ => run(nVecs)).min
      } finally spark.stop()
    }

    val tLow = levelRun(nLow)
    val tHigh = levelRun(nHigh)
    val eff = (tLow / tHigh) / (nHigh.toDouble / nLow)
    println(s"""{"metric":"ivf_scaling","vecs":$nVecs,""" +
      s""""cores":[$nLow,$nHigh],"tN_sec":${f"$tLow%.2f"},"t4N_sec":${f"$tHigh%.2f"},""" +
      s""""efficiency":${f"$eff%.4f"},"vecs_per_sec_4N":${f"${nVecs / tHigh}%.1f"}}""")
  }
}
