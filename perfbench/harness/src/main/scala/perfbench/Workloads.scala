package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.pipeline._
import graft.sources.TableIO
import graft.testkit.PagesGen

/** What every workload gives the runner. A unit is the timed region; all
  * other methods run untimed. */
abstract class Workload(val ctx: Ctx) {
  /** Input docs one unit processes (for docs_per_s). */
  def docsPerUnit: Long
  /** Attempts one unit makes (the result's `attempted`). */
  def attemptsPerUnit: Int = 1
  /** One-time set-up after the session starts (warm-up, base stores). */
  def setUpOnce(): Unit = ()
  /** The set-up step right before the unit: input generation and caching,
    * or the pristine-store restore. */
  def prepare(): Unit
  /** The timed unit. Call spans go under `root`. */
  def unit(root: Int): Outcome
  /** Untimed output checks of one unit: failed attempts and messages. */
  def check(o: Outcome): Seq[String]
  /** Untimed checks run once per run after the last unit, one failure
    * message per failed attempt out of [[finalAttempts]]. */
  def finalCheck(): Seq[String] = Nil
  def finalAttempts: Int = 0
  /** Workload detail for the trace file, as JSON. */
  def detail: String = "{}"
  /** Per-layer metrics of one traced unit (pipeline stage spans are added
    * here too, from the walls the program reports). */
  def layers(o: Outcome, root: Int): Map[String, Double]
  /** Bytes the unit left in its store dirs. */
  def storeBytes(o: Outcome): Long
  /** Drop what the unit left behind. */
  def cleanUp(o: Outcome): Unit = ()
  /** Drop the run's stores (the trace file stays). */
  def close(): Unit = ()
  /** Identifies the generated inputs, for the self-test that seeds differ. */
  def fingerprint: String
  /** The pair recall of the last checked output. */
  var pairRecall: Double = 1.0
}

/** What a unit returns for its untimed checks. */
trait Outcome

final case class Ctx(spark: SparkSession, seed: Long, smoke: Boolean, work: Path,
    cores: Int, tr: Trace, corrupt: Boolean, fixtures: Path)

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "pages_dedup" => new DedupWorkload(ctx, boilerplate = false)
    case "boilerplate_dedup" => new DedupWorkload(ctx, boilerplate = true)
    case "daily_append" => new DailyAppend(ctx)
    case "driver_queries" => new DriverQueries(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Row count and order-independent xor of row hashes. */
  def fingerprint(df: DataFrame): String = {
    val r = df.agg(count(lit(1)), bit_xor(xxhash64(df.columns.map(col): _*))).first()
    s"${r.getLong(0)}:${r.getLong(1)}"
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  def copy(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { f =>
      val t = to.resolve(from.relativize(f))
      if (Files.isDirectory(f)) Files.createDirectories(t)
      else Files.copy(f, t, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  /** Benchmark doc id from a page url: PagesGen pages end in `page-<id>`,
    * boilerplate docs in `tpl-<j>` and are numbered after the pages. */
  def docId(url: String, nPages: Long): Long = {
    val i = url.lastIndexOf('-')
    val n = url.substring(i + 1).toLong
    if (url.contains("/tpl-")) nPages + n else n
  }

  /** Pipeline stage spans under `parent`, rebuilt from the stage walls the
    * program reports: each stage's manifest is its last write, so the
    * manifest's mtime is the stage's end and the wall gives its start. */
  def stageSpans(tr: Trace, parent: Int, dir: String, walls: Seq[(String, Long)]): Map[String, Int] =
    walls.flatMap { case (name, ms) =>
      val m = Paths.get(dir, name, "_manifest.json")
      if (!Files.exists(m)) None
      else {
        val t = Files.getLastModifiedTime(m).toInstant
        val end = t.getEpochSecond * 1e3 + t.getNano / 1e6
        Some(name -> tr.add(parent, "stage", name, end - ms, end))
      }
    }.toMap

  /** Manifest-file count written under the given stage dirs (TableIO lineage). */
  def tableFiles(dirs: Seq[String]): Double =
    dirs.flatMap(TableIO.readManifest).map(_.files.size).sum.toDouble
}

/** pages_dedup and boilerplate_dedup: a CheckpointedDedup.run into an
  * empty store, after a warm-up run on another seed and size. (Timed cold,
  * this unit spread 0.35 between seeds against 0.12 warm, mostly from JIT
  * work competing for the four cores.) */
final class DedupWorkload(ctx: Ctx, boilerplate: Boolean) extends Workload(ctx) {
  import ctx._
  private val nPages = if (smoke) 200L else 5000L
  // The group is twice the hot-bucket cap, so most of its band buckets go
  // over the cap (salted cells) while a few stay under it (all-pairs), and
  // at full size it is 2.5 % of the corpus, r6's measured share. Cap 64
  // instead of the production 256 keeps the group, and so the verify work
  // it brings, small enough for a run near 50 s on a 4-core host.
  private val nGroup = if (boilerplate) 128L else 0L
  val cfg: DedupConfig =
    if (boilerplate) DedupConfig(seed = 42L, maxBucket = 64, saltWindow = 8)
    else DedupConfig(seed = 42L)
  def docsPerUnit: Long = nPages + nGroup

  private def corpus(seed: Long, n: Long, group: Long): DataFrame = {
    import spark.implicits._
    val pages = PagesGen.pages(spark, n, seed, cores * 2).select("url", "text")
    if (group == 0) pages
    else pages.union(spark.range(0, group, 1, cores).as[Long]
      .map(j => (s"https://boiler.example/tpl-$j", PagesGen.boilerplateText(seed, j, 1)))
      .toDF("url", "text"))
  }

  private var input: DataFrame = _

  override def setUpOnce(): Unit = {
    val warm = work.resolve("warm")
    CheckpointedDedup.run(spark, corpus(seed + 7919, nPages / 4, nGroup), cfg, warm.toString)
    Workload.delete(warm)
  }

  def prepare(): Unit = {
    input = corpus(seed, nPages, nGroup).cache()
    input.count()
  }

  final class Out(val dir: String, val report: CheckpointedDedup.RunReport, val call: Int)
    extends Outcome

  def unit(root: Int): Outcome = {
    val dir = work.resolve("store").toString
    tr.span(root, "call", "CheckpointedDedup.run") { id =>
      new Out(dir, CheckpointedDedup.run(spark, input, cfg, dir), id)
    }
  }

  lazy val truth: Truth = new Truth(
    id => if (id < nPages) PagesGen.textFor(seed, id) else PagesGen.boilerplateText(seed, id - nPages, 1),
    PagesGen.plantedPairs(nPages), (nPages until nPages + nGroup), cfg)

  def check(o: Outcome): Seq[String] = {
    val out = o.asInstanceOf[Out]
    val ids = TableIO.read(spark, s"${out.dir}/docs").select("id", "url").collect()
      .map(r => r.getLong(0) -> Workload.docId(r.getString(1), nPages)).toMap
    val res = DedupOutput(
      out.report.verifiedPairs.select("id_a", "id_b").collect().map(r => (ids(r.getLong(0)), ids(r.getLong(1)))).toSeq,
      out.report.clusters.select("id", "cluster_id").collect().map(r => ids(r.getLong(0)) -> r.getLong(1)).toMap)
    val (recall, fails) = truth.check(if (corrupt) truth.corrupt(res) else res)
    pairRecall = recall
    fails
  }

  def layers(o: Outcome, root: Int): Map[String, Double] = {
    val out = o.asInstanceOf[Out]
    val walls = out.report.stages.map(s => s.name -> s.millis)
    val spans = Workload.stageSpans(tr, out.call, out.dir, walls)
    def man(stage: String) = TableIO.readManifest(s"${out.dir}/$stage")
    val cand = man("candidates").map(_.rows).getOrElse(0L).toDouble
    val ver = man("verified_pairs").map(_.rows).getOrElse(0L).toDouble
    val census = man("census").map(_.extra).getOrElse(Map.empty)
    walls.flatMap { case (n, ms) =>
      Seq(s"CheckpointedDedup.$n.ms" -> ms.toDouble,
        s"CheckpointedDedup.$n.rows" -> man(n).map(_.rows).getOrElse(0L).toDouble)
    }.toMap ++ Map(
      "Dedup.candidate_pairs" -> cand,
      "Dedup.verified_pairs" -> ver,
      "Dedup.verify_yield" -> (if (cand > 0) ver / cand else 0.0),
      "Dedup.capped_buckets" -> census.get("cappedBuckets").map(_.toDouble).getOrElse(0.0),
      "Dedup.max_bucket" -> census.get("maxBucketSize").map(_.toDouble).getOrElse(0.0),
      "TableIO.files" -> Workload.tableFiles(walls.map(w => s"${out.dir}/${w._1}"))
    ) ++ spans.get("clusters").map(id => Harness.recorder.ccMetrics(tr.get(id))).getOrElse(Map.empty)
  }

  def storeBytes(o: Outcome): Long = Workload.dirBytes(Paths.get(o.asInstanceOf[Out].dir))
  override def cleanUp(o: Outcome): Unit = Workload.delete(Paths.get(o.asInstanceOf[Out].dir))
  def fingerprint: String = Workload.fingerprint(input)
}

/** daily_append: a block-split 1/8 page drop through IncrementalDedup.run
  * and a 1/8 vector drop through IvfIndex.append + MipsIndex.append, then
  * top-K queries on both grown stores. The base stores come from a fixed
  * seed and are built once per build of the harness; each unit starts
  * from a pristine copy of them. The drops come from the run's seed. */
final class DailyAppend(ctx: Ctx) extends Workload(ctx) {
  import ctx._
  private val nBase = if (smoke) 160L else 384L
  private val nDrop = nBase / 8 // whole trailing 4-doc blocks: nBase is a multiple of 32
  private val nVec = if (smoke) 1000L else 2000L
  private val vDrop = nVec / 8
  private val probes = 16L
  private val cfg = DedupConfig(seed = 42L)
  private val incStages = Seq("docs", "shingles", "signatures", "bands", "census",
    "candidates", "verified_pairs", "clusters")
  def docsPerUnit: Long = nDrop

  private val baseSeed = 0L

  /** BigSmoke-style 4-member vector clusters of the base seed; 64 dims. */
  private def vectors(n: Long): DataFrame =

    spark.range(0, n, 1, cores * 2).toDF("vec_id")
      .select(col("vec_id"), (col("vec_id") / 4).cast("long").as("cid"))
      .select(col("vec_id"), expr(
        s"""transform(sequence(0, 63), i -> cast(
           ((pmod(xxhash64(concat('$baseSeed:', cast(cid as string), ':', cast(i as string))), 2001) - 1000) / 1000.0
            + (pmod(xxhash64(concat('$baseSeed#', cast(vec_id as string), '#', cast(i as string))), 21) - 10) / 1000.0)
           as float))""").as("embedding"))

  private val pristine = DailyAppend.baseDir(work.getParent, smoke)
  private val live = work.resolve("live")

  /** A drop: new pages, and base embeddings re-delivered under fresh ids
    * starting at `firstId` (so the MIPS store's frozen maxnorm holds by
    * construction, as in StoreProbe's drop). */
  private final class Drop(val pages: DataFrame, val vecs: DataFrame, val firstId: Long)
  private var drop: Drop = _

  /** Builds the pristine base stores. They depend only on the code and the
    * fixed base seed, so run.py calls this once per build of the harness,
    * in a JVM of its own (so that every timed unit runs in a cold JVM), and
    * drops them when it rebuilds. The build goes to a temporary dir renamed
    * into place when complete. */
  def buildBase(): Unit = {
    val tmp = work.resolve("base-build")
    CheckpointedDedup.run(spark, PagesGen.pages(spark, nBase, baseSeed, cores * 2).select("url", "text"),
      cfg, tmp.resolve("dedup").toString)
    val e = vectors(nVec).cache()
    IvfIndex.build(spark, e, tmp.resolve("ivf").toString, math.ceil(math.sqrt(nVec.toDouble)).toInt)
    MipsIndex.build(spark, e, tmp.resolve("mips").toString,
      Some(SignAlshRetrieval.planFor(DailyAppend.MipsPlanVectors)))
    e.unpersist(blocking = true)
    Files.createDirectories(pristine.getParent)
    Files.move(tmp, pristine)
  }

  override def setUpOnce(): Unit = {
    if (!Files.exists(pristine))
      throw new IllegalStateException(s"no base stores at $pristine: build them with --build-base")
    val emb = vectors(nVec)
    // the page drop continues the base ids with the run's seed; the vector
    // drop re-delivers one seed-chosen eighth of the base vectors
    val k = java.lang.Math.floorMod(seed, 8L)
    drop = new Drop(
      PagesGen.pages(spark, nBase + nDrop, seed, cores * 2).where(col("id") >= nBase).select("url", "text"),
      emb.where(col("vec_id") >= k * vDrop && col("vec_id") < (k + 1) * vDrop)
        .withColumn("vec_id", col("vec_id") + nVec),
      nVec + k * vDrop)
  }

  def prepare(): Unit = {
    Workload.delete(live)
    Workload.copy(pristine, live)
    drop.pages.cache().count()
    drop.vecs.cache().count()
  }

  final class Out(val inc: IncrementalDedup.IncReport, val ivf: IvfIndex.AppendReport,
      val mips: MipsIndex.AppendReport, val ivfRows: Seq[(Long, Long)], val mipsRows: Long,
      val calls: Map[String, Int]) extends Outcome

  def unit(root: Int): Outcome = {
    def call[T](name: String)(body: => T): (T, Int) = {
      var sid = -1
      val r = tr.span(root, "call", name) { id => sid = id; body }
      (r, sid)
    }
    val probe = col("vec_id") >= drop.firstId && col("vec_id") < drop.firstId + probes
    val (inc, c1) = call("IncrementalDedup.run")(
      IncrementalDedup.run(spark, drop.pages, cfg, live.resolve("dedup").toString))
    val (ivf, c2) = call("IvfIndex.append")(IvfIndex.append(spark, drop.vecs, live.resolve("ivf").toString))
    val (mips, c3) = call("MipsIndex.append")(MipsIndex.append(spark, drop.vecs, live.resolve("mips").toString))
    val (ivfRows, c4) = call("IvfIndex.query") {
      val (df, pinned) = IvfIndex.topKWithHandle(spark, live.resolve("ivf").toString, probe)
      try df.select("probe_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      finally pinned.foreach(_.unpersist(blocking = false))
    }
    val (mipsRows, c5) = call("MipsIndex.query") {
      val (df, pinned) = MipsIndex.topKWithHandle(spark, live.resolve("mips").toString, probe)
      try df.count() finally pinned.foreach(_.unpersist(blocking = false))
    }
    new Out(inc, ivf, mips, ivfRows, mipsRows, Map("IncrementalDedup.run" -> c1,
      "IvfIndex.append" -> c2, "MipsIndex.append" -> c3, "IvfIndex.query" -> c4, "MipsIndex.query" -> c5))
  }

  lazy val truth: Truth = new Truth(id => PagesGen.textFor(if (id < nBase) baseSeed else seed, id),
    PagesGen.plantedPairs(nBase + nDrop), Nil, cfg)
  def check(o: Outcome): Seq[String] = {
    val out = o.asInstanceOf[Out]
    val fails = Seq(
      if (out.inc.newDocs != nDrop) Some(s"IncrementalDedup newDocs ${out.inc.newDocs} != $nDrop") else None,
      if (out.ivf.newVectors != vDrop) Some(s"IvfIndex newVectors ${out.ivf.newVectors} != $vDrop") else None,
      if (out.mips.newVectors != vDrop) Some(s"MipsIndex newVectors ${out.mips.newVectors} != $vDrop") else None,
      if (out.mipsRows == 0) Some("MIPS top-K after the append is empty") else None,
      if (out.ivfRows.isEmpty) Some("IVF top-K after the append is empty") else None,
      // each probe is a re-delivered base vector: its twin must rank
      { val missing = (drop.firstId until drop.firstId + probes).count(p => !out.ivfRows.contains((p, p - nVec)))
        if (missing > 0) Some(s"$missing IVF probes miss their identical base twin") else None }
    ).flatten
    val dedup = live.resolve("dedup").toString
    val ids = IncrementalDedup.readAll(spark, dedup, "docs").select("id", "url").collect()
      .map(r => r.getLong(0) -> Workload.docId(r.getString(1), Long.MaxValue)).toMap
    val res = DedupOutput(
      out.inc.verifiedPairs.select("id_a", "id_b").collect().map(r => (ids(r.getLong(0)), ids(r.getLong(1)))).toSeq,
      out.inc.clusters.select("id", "cluster_id").collect().map(r => ids(r.getLong(0)) -> r.getLong(1)).toMap)
    val (recall, dfails) = truth.check(if (corrupt) truth.corrupt(res) else res)
    pairRecall = recall
    fails ++ dfails
  }

  def layers(o: Outcome, root: Int): Map[String, Double] = {
    val out = o.asInstanceOf[Out]
    val incWalls = incStages.map(s =>
      s -> TableIO.readManifest(s"${out.inc.incDir}/$s").map(_.wallMillis).getOrElse(0L))
    val spans = Workload.stageSpans(tr, out.calls("IncrementalDedup.run"), out.inc.incDir, incWalls)
    val ivfWalls = out.ivf.stages.map(s => s.name -> s.millis)
    val mipsWalls = out.mips.stages.map(s => s.name -> s.millis)
    Workload.stageSpans(tr, out.calls("IvfIndex.append"), out.ivf.incDir, ivfWalls)
    Workload.stageSpans(tr, out.calls("MipsIndex.append"), out.mips.incDir, mipsWalls)
    incWalls.map { case (s, ms) => s"IncrementalDedup.$s.ms" -> ms.toDouble }.toMap ++
      ivfWalls.map { case (s, ms) => s"IvfIndex.append.$s.ms" -> ms.toDouble } ++
      mipsWalls.map { case (s, ms) => s"MipsIndex.append.$s.ms" -> ms.toDouble } ++ Map(
      "IncrementalDedup.pairs_verified" -> out.inc.pairsVerified.toDouble,
      "IvfIndex.query.ms" -> tr.get(out.calls("IvfIndex.query")).ms,
      "MipsIndex.query.ms" -> tr.get(out.calls("MipsIndex.query")).ms,
      "TableIO.files" -> Workload.tableFiles(
        incStages.map(s => s"${out.inc.incDir}/$s") ++
          ivfWalls.map(w => s"${out.ivf.incDir}/${w._1}") ++ mipsWalls.map(w => s"${out.mips.incDir}/${w._1}"))) ++
      spans.get("clusters").map(id => Harness.recorder.ccMetrics(tr.get(id))).getOrElse(Map.empty)
  }

  def storeBytes(o: Outcome): Long = Workload.dirBytes(live)
  override def close(): Unit = Workload.delete(live)
  def fingerprint: String = Workload.fingerprint(drop.pages) + "/" + Workload.fingerprint(drop.vecs)
}

object DailyAppend {
  /** The MIPS store bands as for a 16k-vector corpus (11 tables of 16 sign
    * planes), the smallest plan whose bits Column tree overflows Janino's
    * 64 KB method limit (measured: 10+ tables fall back, 9 do not). So the
    * bits stage hits the whole-stage-codegen fallbacks StoreProbe shows at
    * 100k vectors, at a vector count cheap enough to append in every run. */
  val MipsPlanVectors = 16000L

  /** The pristine base stores under the run output dir (run.py checks the
    * same path before it starts a timed JVM). */
  def baseDir(out: Path, smoke: Boolean): Path =
    out.resolve("cache").resolve(s"daily_append-base-${if (smoke) "smoke" else "full"}")
}

/** driver_queries: every SparkEntry.queries entry once per unit over the
  * oracle-checked sf0.01 fixture, each timed on Spark's `noop` sink (which
  * computes every column and the final sort, unlike count()), with the
  * caches cleared between queries. The seed sets the query order. Run by
  * hand (not in BENCHMARK.json): one run takes about 75 s, mostly the
  * cold first pass. */
final class DriverQueries(ctx: Ctx) extends Workload(ctx) {
  import ctx._
  private val sf = if (smoke) "sf0.001" else "sf0.01"
  private val dir = fixtures.resolve(sf).toString
  private val order: Seq[String] = new scala.util.Random(seed).shuffle(SparkEntry.queries.keys.toSeq.sorted)
  private val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")
  lazy val docsPerUnit: Long = spark.read.parquet(s"$dir/documents.parquet").count()
  override def attemptsPerUnit: Int = order.size
  override def finalAttempts: Int = order.size + 1
  private var lastPinned = Map.empty[String, Int]
  override def detail: String = EntryPass.pinnedJson(lastPinned)

  /** The output check runs first: every query collected once over the
    * timed tables (untimed). It also warms the JIT and codegen for the
    * timed pass, the one workload whose unit is not a cold batch job. */
  override def setUpOnce(): Unit = checkFails = checkPass()
  private var checkFails: Seq[String] = Nil

  /** Loads every input table's footers, the per-query read set-up. */
  def prepare(): Unit = tables.foreach(t => spark.read.parquet(s"$dir/$t.parquet").count())

  def unit(root: Int): Outcome = {
    val r = EntryPass.run(spark, dir, order, tr, root)
    lastPinned = r.pinned
    r
  }

  def check(o: Outcome): Seq[String] = o.asInstanceOf[EntryPass.Result].errors

  /** Each query's row count and order-independent row hash against the
    * values recorded when the benchmark was created (from outputs that
    * matched the DuckDB oracles), and the pair recall of q_dedup_clusters. */
  private def checkPass(): Seq[String] = {
    val golden = Golden.load(fixtures.resolveSibling("golden").resolve(s"driver_queries_$sf.json"))
    var pairs = Seq.empty[(Long, Long)]
    var clusters = Map.empty[Long, Long]
    val fails = order.flatMap { q =>
      val got = try {
        val rows = SparkEntry.queries(q)(spark, dir).collect()
        if (q == "q_minhash_lsh_pairs") pairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSeq
        if (q == "q_dedup_clusters") clusters = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
        Some(Golden.digest(rows))
      } catch { case scala.util.control.NonFatal(_) => None }
      spark.catalog.clearCache()
      (got, golden.get(q)) match {
        case (Some(g), Some(w)) if g == w => None
        case (g, w) => Some(s"$q: rows/hash $g != recorded $w")
      }
    }
    val docs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val ids = docs.keys.toSeq.sorted
    val truth = new Truth(docs, for (i <- ids.indices; j <- i + 1 until ids.size) yield (ids(i), ids(j)),
      Nil, SparkEntry.lshConfig)
    val res = DedupOutput(pairs, clusters)
    val (recall, dfails) = truth.check(if (corrupt) truth.corrupt(res) else res)
    pairRecall = recall
    fails ++ dfails
  }

  override def finalCheck(): Seq[String] = checkFails

  def layers(o: Outcome, root: Int): Map[String, Double] = o.asInstanceOf[EntryPass.Result].metrics

  def storeBytes(o: Outcome): Long = Workload.dirBytes(Paths.get(dir))
  def fingerprint: String = order.mkString(",")
}

/** One pass over every SparkEntry.queries entry, each on Spark's `noop`
  * sink (which computes every column and the final sort, unlike count()),
  * with the caches cleared between queries: each query's wall and the
  * cached relations it left pinned after returning. */
object EntryPass {
  final case class Result(secs: Map[String, Double], pinned: Map[String, Int], errors: Seq[String])
      extends Outcome {
    def metrics: Map[String, Double] = secs.map { case (q, s) => s"SparkEntry.$q.s" -> s } ++
      Map("SparkEntry.pinned_after" -> pinned.values.sum.toDouble)
  }

  def run(spark: SparkSession, dir: String, order: Seq[String], tr: Trace, root: Int): Result = {
    var secs = Map.empty[String, Double]
    var pinned = Map.empty[String, Int]
    var errors = Seq.empty[String]
    for (q <- order) {
      val t0 = System.nanoTime()
      tr.span(root, "call", s"SparkEntry.$q") { _ =>
        try SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()
        catch { case scala.util.control.NonFatal(e) => errors :+= s"$q threw ${e.getClass.getSimpleName}: ${e.getMessage}" }
      }
      secs += q -> (System.nanoTime() - t0) / 1e9
      pinned += q -> org.apache.spark.sql.PerfbenchBus.cachedRelations(spark)
      spark.catalog.clearCache()
    }
    Result(secs, pinned, errors)
  }

  def pinnedJson(pinned: Map[String, Int]): String =
    pinned.toSeq.sortBy(_._1).map { case (q, n) => s""""$q": $n""" }.mkString("{", ", ", "}")

  /** The SparkEntry layer of a pipeline workload's traced run: one pass in
    * sorted query order over the sf0.001 fixture, after the unit, in a
    * session without the pipeline session's AQE floor settings (the
    * queries' own session, `GraftSession.plain`, does not set them). A
    * query that throws is a failed check. */
  def layer(spark: SparkSession, dir: String, tr: Trace): Result = {
    val s = spark.newSession()
    Seq("spark.sql.adaptive.coalescePartitions.minPartitionSize",
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum").foreach(s.conf.unset)
    tr.span(-1, "unit", "SparkEntry pass")(id => run(s, dir, SparkEntry.queries.keys.toSeq.sorted, tr, id))
  }
}

/** Recorded per-query results: row count and an order-independent hash
  * (sum of the first 8 MD5 bytes of each row's string form). */
object Golden {
  def digest(rows: Array[org.apache.spark.sql.Row]): (Long, Long) = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = rows.map { r =>
      java.nio.ByteBuffer.wrap(md.digest(r.toString.getBytes("UTF-8"))).getLong
    }.sum
    (rows.length.toLong, h)
  }

  def load(p: Path): Map[String, (Long, Long)] =
    if (!Files.exists(p)) Map.empty
    else {
      import org.json4s._
      implicit val f: Formats = DefaultFormats
      org.json4s.jackson.JsonMethods.parse(Files.readString(p))
        .extract[Map[String, List[Long]]].map { case (q, l) => q -> (l(0), l(1)) }
    }

  def json(m: Map[String, (Long, Long)]): String =
    m.toSeq.sortBy(_._1).map { case (q, (n, h)) => s"""  "$q": [$n, $h]""" }.mkString("{\n", ",\n", "\n}\n")
}
