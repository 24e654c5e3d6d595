package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.json4s._
import org.json4s.jackson.JsonMethods

import org.apache.spark.sql.PerfbenchBus

import graft.{GraftSession, SparkEntry}

/** The benchmark's JVM side: set-up, the timed unit, output checks, and the
  * result line. Run through perfbench/run.py, which builds it. Arguments:
  * --workload NAME --seed N --seconds S --trace 0|1 [--smoke] [--corrupt],
  * with --build-base to build daily_append's base stores instead of
  * running, or --record-golden sf0.01|sf0.001 to re-record the
  * driver_queries reference digests. A run times one unit, which takes
  * longer than the --seconds of BENCHMARK.json, so that argument is
  * accepted and not otherwise used. */
object Harness {
  val recorder = new SparkRecorder

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Peak of the memory Spark's memory manager holds (execution plus
    * storage: sort and aggregation buffers, cached and broadcast blocks),
    * sampled every 5 ms while a unit runs. Unlike the JVM's heap use it does
    * not depend on when the collector last ran. */
  private final class PeakSampler extends Thread("perfbench-peak") {
    @volatile var running = true
    @volatile var peak = 0L
    setDaemon(true)
    override def run(): Unit = while (running) {
      peak = peak.max(PerfbenchBus.managedBytes())
      Thread.sleep(5)
    }
    def finish(): Long = { running = false; join(); peak }
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val opts = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val flags = args.filter(_.startsWith("--")).map(_.drop(2)).toSet
    val root = Paths.get("").toAbsolutePath
    val fixtures = root.resolve("perfbench/fixtures")
    val cores = Runtime.getRuntime.availableProcessors

    opts.get("record-golden").foreach { sf =>
      val spark = GraftSession.plain(cores, "perfbench-golden")
      val m = SparkEntry.queries.keys.toSeq.sorted.map { q =>
        val d = Golden.digest(SparkEntry.queries(q)(spark, fixtures.resolve(sf).toString).collect())
        spark.catalog.clearCache()
        q -> d
      }.toMap
      Files.writeString(root.resolve(s"perfbench/golden/driver_queries_$sf.json"), Golden.json(m))
      spark.stop()
      return
    }

    val workload = opts("workload")
    val seed = opts("seed").toLong
    val trace = opts.getOrElse("trace", "0") == "1"
    implicit val formats: Formats = DefaultFormats
    val spec = JsonMethods.parse(Files.readString(root.resolve("BENCHMARK.json")))
    def names(key: String): Seq[(String, String)] =
      (spec \ key).extract[List[Map[String, Any]]].map(m => m("name").toString -> m("unit").toString)

    val work = root.resolve(s".bench_out/$workload-$seed-${if (trace) "traced" else "plain"}")
    Workload.delete(work)
    Files.createDirectories(work)
    val tr = new Trace
    val spark =
      if (workload == "driver_queries") GraftSession.plain(cores, "perfbench")
      else GraftSession.get(cores, "perfbench")
    val codegen = if (trace) CodegenLog.attach() else null
    if (trace) spark.sparkContext.addSparkListener(recorder)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val w = Workload(workload, Ctx(spark, seed, flags("smoke"), work, cores, tr, flags("corrupt"), fixtures))
    if (flags("build-base")) {
      w match { case d: DailyAppend => d.buildBase() case _ => }
      System.err.println(f"[perfbench] base stores built at ${(System.currentTimeMillis() - jvmStart) / 1e3}%.1f s")
      spark.stop()
      return
    }

    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    w.setUpOnce()
    val onceS = (System.currentTimeMillis() - jvmStart) / 1e3
    System.err.println(f"[perfbench] session ready at $sessionS%.1f s, one-time set-up done at $onceS%.1f s")

    val p0 = System.nanoTime()
    w.prepare()
    val prepS = (System.nanoTime() - p0) / 1e9
    // A run times one unit; a traced run traces it. Drain the listener bus
    // on both edges, so the recorder sees exactly the unit's events: none
    // of prepare()'s, all of the unit's last jobs'.
    if (trace) { PerfbenchBus.drain(spark.sparkContext); recorder.active = true; codegen.active = true }
    val gc0 = gcMs
    val sampler = new PeakSampler
    sampler.start()
    val uid = tr.open(-1, "unit", "unit")
    val outcome = try Right(w.unit(uid)) catch { case NonFatal(e) => Left(e) }
    tr.close(uid)
    if (trace) { PerfbenchBus.drain(spark.sparkContext); recorder.active = false; codegen.active = false }
    val wallMs = tr.get(uid).ms
    val gc = (gcMs - gc0).toDouble
    val peakMb = sampler.finish() / 1048576.0
    val notes = outcome match {
      case Left(e) => Seq(s"unit threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      case Right(o) => try w.check(o) catch { case NonFatal(e) => Seq(s"check threw $e") }
    }
    val unitFailed = if (w.attemptsPerUnit == 1) notes.size.min(1) else notes.size
    val finalNotes = try w.finalCheck() catch { case NonFatal(e) => Seq(s"final check threw $e") }
    // a traced pipeline run also times the SparkEntry layer, after the unit
    val entry =
      if (trace && outcome.isRight && workload != "driver_queries")
        Some(EntryPass.layer(spark, fixtures.resolve("sf0.001").toString, tr))
      else None
    val entryNotes = entry.map(_.errors).getOrElse(Nil)
    val attempted = w.attemptsPerUnit + w.finalAttempts + entry.map(_.secs.size).getOrElse(0)
    val failed = unitFailed + finalNotes.size + entryNotes.size
    val allNotes = notes ++ finalNotes ++ entryNotes
    System.err.println(f"[perfbench] $workload wall=${wallMs / 1e3}%.3f s prep=$prepS%.3f s " +
      f"peak=$peakMb%.0f MB failed=$failed")

    val values: Map[String, Double] = outcome match {
      case Right(o) if trace =>
        val l = w.layers(o, uid)
        recorder.addSpans(tr, uid)
        val sub = tr.subtree(uid)
        val start = tr.get(uid).start
        def cov(layer: String) =
          Trace.covered(sub.filter(_.layer == layer).map(s => (s.start, s.end)), start, start + wallMs) / wallMs
        l ++ recorder.metrics(wallMs, cores) ++ codegen.metrics ++
          tr.span(-1, "unit", "functions kernels")(_ => Kernels.measure(spark, seed, cores)) ++
          entry.map(_.metrics).getOrElse(Map.empty) ++
          Trace.selfTimes(sub).map { case (k, v) => s"self.${k}_ms" -> v } ++ Map(
            "jvm.gc_ms" -> gc, "trace.coverage" -> cov("call"), "trace.job_coverage" -> cov("job"),
            "trace.wall_s" -> wallMs / 1e3,
            "trace.overhead_s" -> (recorder.hookNs.get + codegen.hookNs.get) / 1e9)
      case _ if trace => Map.empty
      case _ => Map(
        "setup_s" -> (onceS + prepS),
        "wall_s" -> wallMs / 1e3,
        "docs_per_s" -> w.docsPerUnit / (wallMs / 1e3),
        "pair_recall" -> w.pairRecall,
        "peak_heap_mb" -> peakMb,
        "store_mb" -> outcome.map(w.storeBytes).getOrElse(0L) / 1048576.0)
    }
    outcome.foreach(w.cleanUp)
    val declared = names(if (trace) "per_layer" else "end_to_end")
    val metrics = declared.map { case (n, u) =>
      f""""$n": {"value": ${values.getOrElse(n, 0.0)}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    Files.writeString(work.resolve("trace.json"),
      s"""{"workload": "$workload", "seed": $seed, "traced": $trace,\n""" +
        s""""notes": [${allNotes.map(n => "\"" + Trace.esc(n) + "\"").mkString(", ")}],\n""" +
        s""""fingerprint": "${w.fingerprint}",\n""" +
        s""""values": {${values.toSeq.sorted.map { case (k, v) => s""""$k": $v""" }.mkString(", ")}},\n""" +
        s""""pinned": ${entry.map(e => EntryPass.pinnedJson(e.pinned)).getOrElse(w.detail)},\n"spans": ${tr.json}}""")
    allNotes.foreach(n => System.err.println(s"[perfbench] CHECK FAILED: $n"))
    w.close()
    System.err.println(f"[perfbench] result ready at ${(System.currentTimeMillis() - jvmStart) / 1e3}%.1f s")
    spark.stop()
    println(s"""{"correct": ${failed == 0 && allNotes.isEmpty}, "attempted": $attempted, "failed": $failed, "metrics": $metrics}""")
  }
}
