package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.CrossEngine

/** The cross-engine kernels exist so Spark, plain JVM code, and DuckDB derive
  * the SAME hash/plane values — this spec pins the JVM↔Spark half of that
  * triangle (the Spark↔DuckDB half is the driver's oracle gate itself). */
class CrossEngineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("Scala md5hex matches Spark's md5 built-in") {
    import spark.implicits._
    val inputs = Seq("", "a", "hello world", "ann:3:17", "mips:0:64", "lp:2:63:11", "ünïcode")
    val got = inputs.toDF("s").select(md5(col("s"))).collect().map(_.getString(0))
    assert(got.toSeq == inputs.map(CrossEngine.md5hex))
  }

  test("Scala md5long matches Spark's conv(substring(md5)) column form") {
    import spark.implicits._
    val inputs = Seq("0:tok1 tok2 tok3", "15:x y z", "lpshift:3")
    val got = inputs.toDF("s").select(CrossEngine.md5longCol(col("s"))).collect().map(_.getLong(0))
    assert(got.toSeq == inputs.map(s => CrossEngine.md5long(s)))
  }

  test("md5long15 over raw UTF-8 bytes equals the hex-string path") {
    val inputs = Seq("", "a", "gram tex", "ünïcode gräm", "0:tok1 tok2 tok3",
      new String(Character.toChars(0x1D11E)) + "clef")
    inputs.foreach { s =>
      assert(CrossEngine.md5long15(s.getBytes("UTF-8")) == CrossEngine.md5long(s), s"input '$s'")
    }
  }

  test("md5MinHash kernel equals the per-lane md5long string path") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val grams = Seq("tok1 tok2 tok3", "a b c", "ünïcode gram", "", "x:y")
    val arr = new GenericArrayData(grams.map(UTF8String.fromString).toArray[Any])
    val k = 16
    val fused = CrossEngine.md5MinHash(arr, k)
    (0 until k).foreach { l =>
      val want = grams.map(s => CrossEngine.md5long(s"$l:$s")).min
      assert(fused.getLong(l) == want, s"lane $l")
    }
    // EMPTY gram set → EMPTY signature (the relational groupBy(min) twin
    // emits no rows; the old [MaxValue × k] sentinel made every empty-gram
    // doc share one signature — identical band hashes, one hot bucket of
    // all empties; round-6 review)
    val empty = CrossEngine.md5MinHash(new GenericArrayData(Array.empty[Any]), k)
    assert(empty.numElements() == 0)
  }

  test("graft_cosq kernel is bitwise-equal to the built-in cosine tree") {
    import spark.implicits._
    import graft.functions.ReferenceTwins
    graft.functions.GraftExpressions.register(spark)
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(50)((
      Array.fill(64)(rnd.nextInt(2001).toLong - 1000),
      Array.fill(64)(rnd.nextInt(2001).toLong - 1000)))
    val df = rows.toDF("a", "b")
    val both = df.select(
      call_function("graft_cosq", col("a"), col("b")).as("fused"),
      ReferenceTwins.cosineQuantized(col("a"), col("b")).as("tree"))
      .collect()
    assert(both.forall(r =>
      java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1))))
  }

  test("rademacher entries are ±1 and roughly balanced") {
    val entries = for (p <- 0 until 32; i <- 0 until 64) yield CrossEngine.rademacher("ann", p, i)
    assert(entries.forall(e => e == 1 || e == -1))
    val mean = entries.sum.toDouble / entries.size
    assert(math.abs(mean) < 0.1, s"mean=$mean") // 2048 draws, sd≈0.022
  }

  test("gaussInt approximates N(0, 2001²): mean and variance in band") {
    val draws = for (j <- 0 until 8; i <- 0 until 64) yield CrossEngine.gaussInt("lp", j, i).toDouble
    val n = draws.size
    val mean = draws.sum / n
    val sd = math.sqrt(draws.map(d => (d - mean) * (d - mean)).sum / n)
    assert(math.abs(mean) < 300, s"mean=$mean")     // sd of mean ≈ 2001/√512 ≈ 88
    assert(sd > 1600 && sd < 2400, s"sd=$sd")
  }

  test("simhash56: identical texts collide, near texts are near, disjoint far") {
    import CrossEngine.SimHash56.fingerprint
    val a = (1 to 200).map(i => s"w$i").mkString(" ")
    val b = (1 to 200).map(i => if (i % 50 == 0) s"CHANGED$i" else s"w$i").mkString(" ")
    val c = (1 to 200).map(i => s"other$i").mkString(" ")
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(fingerprint(a.split(" ")), fingerprint(a.split(" "))) == 0)
    val near = ham(fingerprint(a.split(" ")), fingerprint(b.split(" ")))
    val far = ham(fingerprint(a.split(" ")), fingerprint(c.split(" ")))
    assert(near < far, s"near=$near far=$far")
    assert(near <= 10, s"2% token change moved $near/56 bits")
    assert(far >= 15, s"disjoint texts only $far/56 bits apart")
  }

  test("fingerprint is order-insensitive in token multiset, sensitive to counts") {
    import CrossEngine.SimHash56.fingerprint
    val toks = (1 to 100).map(i => s"w$i").toArray
    assert(fingerprint(toks) == fingerprint(toks.reverse))
  }
}
