package graft.pipeline

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.TableIO

/** The inc-dir store layer on its own: naming, commit, lost race, union
  * order. The gap and partial checks are covered through the stores'
  * public entry points (IncrementalDedupSpec, IvfIndexSpec). */
class IncDirsSpec extends AnyFunSuite {
  private def tmp(): String = Files.createTempDirectory("graft-incdirs").toString
  private def names(dir: String): Set[String] = {
    val it = Files.list(Paths.get(dir))
    try it.iterator().asScala.map(_.getFileName.toString).toSet finally it.close()
  }

  test("a lost commit race is loud, leaves the winner untouched and removes only the loser's staging dir") {
    val base = tmp()
    val e = intercept[IllegalStateException] {
      IncDirs.commit(base, 1, "test store") { staging =>
        Files.createDirectories(Paths.get(staging, "vectors"))
        Files.writeString(Paths.get(staging, "vectors", "part"), "loser")
        // a concurrent writer publishes inc-1 while this one is computing
        val winner = Files.createDirectories(Paths.get(base, "inc-1"))
        Files.writeString(winner.resolve("marker"), "winner")
      }
    }
    assert(e.getMessage.contains("lost a commit race") && e.getMessage.contains("inc-1"))
    assert(e.getSuppressed.isEmpty, "the staging dir was deleted cleanly")
    assert(names(base) == Set("inc-1"), "no inc-1.tmp-* left behind")
    assert(names(s"$base/inc-1") == Set("marker"))
    assert(Files.readString(Paths.get(base, "inc-1", "marker")) == "winner")
  }

  test("a stage write that throws inside commit publishes no inc-k") {
    val base = tmp()
    val e = intercept[RuntimeException] {
      IncDirs.commit(base, 1, "test store") { staging =>
        Files.createDirectories(Paths.get(staging, "vectors"))
        throw new RuntimeException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(!Files.exists(Paths.get(base, "inc-1")))
    assert(IncDirs.committed(base, Seq.empty, "test store").isEmpty)
    // a retry takes the same number and publishes normally
    val (dir, v) = IncDirs.commit(base, 1, "test store")(_ => 42)
    assert(dir == s"$base/inc-1" && v == 42)
    assert(IncDirs.committed(base, Seq.empty, "test store") == Seq(1 -> dir))
  }

  test("stray inc-prefixed names are ignored by committed") {
    // inc-0: the engine numbers from 1; inc-01: parses to a valid number
    // but is not canonical; inc-9999999999: overflows Int; the rest do not
    // match the strict pattern at all
    for (stray <- Seq("inc-0", "inc-01", "inc-9999999999", "inc-1.bak",
        "inc-notanum", "inc-2.tmp-0123abcd")) {
      val base = tmp()
      Files.createDirectories(Paths.get(base, "inc-1"))
      Files.createDirectories(Paths.get(base, stray))
      withClue(stray) {
        assert(IncDirs.committed(base, Seq.empty, "test store") == Seq(1 -> s"$base/inc-1"))
      }
    }
  }

  test("union reads base first, then inc-1..k; latest is the newest snapshot's copy") {
    val spark = graft.spark.TestSpark.spark
    import spark.implicits._
    val base = tmp()
    def put(dir: String, v: Long): Unit =
      TableIO.write(Seq(v).toDF("v").coalesce(1), s"$dir/s", "s", "h", 0L)
    put(base, 0L)
    assert(IncDirs.latest(base, Seq.empty, "s") == s"$base/s")
    for (k <- 1 to 3) IncDirs.commit(base, k, "test store")(put(_, k.toLong))
    val incs = IncDirs.committed(base, Seq("s"), "test store")
    assert(incs.map(_._1) == Seq(1, 2, 3))
    assert(IncDirs.union(spark, base, incs, "s").as[Long].collect().toSeq == Seq(0L, 1L, 2L, 3L))
    assert(IncDirs.latest(base, incs, "s") == s"$base/inc-3/s")
    assert(IncDirs.next(incs) == 4)
  }
}
