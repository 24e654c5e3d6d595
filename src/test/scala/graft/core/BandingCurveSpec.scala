package graft.core

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.DedupConfig
import graft.functions.ReferenceTwins

/** The banding curve p(s) = 1 − (1 − s^r)^b is the design contract behind
  * (b, r, threshold) choices (docs/DESIGN-br.md). Mirrors the reference's
  * monotonicity tests (/root/reference/test/hashes/test_minhash.jl:76-95):
  * more-similar pairs collide more — here at the BAND level, both analytically
  * and empirically through the real signature/banding kernels. */
class BandingCurveSpec extends AnyFunSuite {

  test("candidate probability is monotone in similarity, 0 at 0, 1 at 1") {
    for ((b, r) <- Seq((42, 3), (16, 8), (21, 6), (63, 2))) {
      val cfg = DedupConfig(numHashes = b * r, bands = b)
      val ps = (0 to 100).map(i => cfg.candidateProbability(i / 100.0))
      assert(ps.head == 0.0 && math.abs(ps.last - 1.0) < 1e-12, s"(b=$b,r=$r)")
      assert(ps.zip(ps.tail).forall { case (lo, hi) => hi >= lo }, s"(b=$b,r=$r) not monotone")
    }
  }

  test("for fixed k, more bands (smaller r) means higher recall at every s") {
    val k = 126
    for (s <- Seq(0.2, 0.5, 0.8)) {
      val byBands = Seq(14, 21, 42, 63).map { b =>
        DedupConfig(numHashes = k, bands = b).candidateProbability(s)
      }
      assert(byBands.zip(byBands.tail).forall { case (lo, hi) => hi >= lo },
        s"s=$s recall not increasing in b: $byBands")
    }
  }

  test("the S-curve midpoint sits near the (1/b)^(1/r) threshold rule") {
    for ((b, r) <- Seq((42, 3), (16, 8))) {
      val cfg = DedupConfig(numHashes = b * r, bands = b)
      val sStar = math.pow(1.0 / b, 1.0 / r)
      val pAt = cfg.candidateProbability(sStar)
      assert(pAt > 0.5 && pAt < 0.75, s"(b=$b,r=$r) p(s*)=$pAt") // 1-(1-1/b)^b → 1-1/e ≈ 0.632
    }
  }

  /** Empirical: run the REAL signature + band kernels over pairs of shingle
    * sets at controlled Jaccard, across many seeds; observed band-collision
    * frequency must be ordered by similarity and near the analytic curve. */
  test("observed candidate frequency through the real kernels tracks the curve") {
    // r=2, b=6: gentle curve whose values at the test sims stay well inside
    // (0,1) — saturated points would make the ordering assertion flaky
    val cfg = DedupConfig(numHashes = 12, bands = 6)
    val universe = (0L until 1000L).toArray
    def setPair(jaccard: Double): (Array[Long], Array[Long]) = {
      // |A|=|B|=n, overlap m: J = m/(2n-m) → m = 2nJ/(1+J)
      val n = 200
      val m = math.round(2 * n * jaccard / (1 + jaccard)).toInt
      val a = universe.slice(0, n)
      val b = universe.slice(n - m, 2 * n - m)
      (a, b)
    }
    val sims = Seq(0.2, 0.4, 0.6)
    val freqs = sims.map { s =>
      val (a0, b0) = setPair(s)
      val trials = 200
      val hits = (0 until trials).count { t =>
        val seed = 1000L + t
        // re-hash the symbols per seed so every trial draws a fresh family
        val a = a0.map(x => Rng.hash2(seed, x)).distinct.sorted
        val b = b0.map(x => Rng.hash2(seed, x)).distinct.sorted
        val sigA = MinHasher(cfg.numHashes, seed)(a)
        val sigB = MinHasher(cfg.numHashes, seed)(b)
        val bandsA = ReferenceTwins.bandHashes(sigA, cfg.bands, cfg.rowsPerBand, seed)
        val bandsB = ReferenceTwins.bandHashes(sigB, cfg.bands, cfg.rowsPerBand, seed)
        bandsA.zip(bandsB).exists { case (x, y) => x == y }
      }
      hits.toDouble / trials
    }
    assert(freqs(0) < freqs(1) && freqs(1) < freqs(2), s"not ordered: $freqs")
    sims.zip(freqs).foreach { case (s, f) =>
      val p = cfg.candidateProbability(s)
      assert(math.abs(f - p) < 0.12, s"s=$s observed=$f analytic=$p")
    }
  }
}
