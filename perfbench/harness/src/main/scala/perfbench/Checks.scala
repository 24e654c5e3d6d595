package perfbench

import scala.collection.mutable

import graft.core.Similarities
import graft.functions.GraftFunctions
import graft.pipeline.DedupConfig

/** The output of one dedup run, in the benchmark's own doc ids. */
final case class DedupOutput(pairs: Seq[(Long, Long)], cluster: Map[Long, Long])

/** Ground truth for a generated corpus, with exact word-trigram Jaccard
  * recomputed in the harness JVM through the engine's core kernels.
  *
  * @param text   the doc text for a benchmark doc id
  * @param truth  candidate truth pairs (planted pairs); kept when J ≥ threshold
  * @param group  the boilerplate group (every pair inside it is checked), or empty
  */
final class Truth(text: Long => String, candidates: Seq[(Long, Long)], val group: Seq[Long],
    cfg: DedupConfig) {
  private val sets = mutable.HashMap.empty[Long, Array[Long]]
  private def set(id: Long): Array[Long] =
    sets.getOrElseUpdate(id, GraftFunctions.wordNgramHashSet(text(id), cfg.shingleWords, cfg.seed))
  def jaccard(a: Long, b: Long): Double = Similarities.jaccardSorted(set(a), set(b))

  private val groupSet = group.toSet
  /** Truth pairs outside the group, with their exact Jaccard. */
  val planted: Seq[((Long, Long), Double)] =
    candidates.map(p => p -> jaccard(p._1, p._2)).filter(_._2 >= cfg.threshold)
  val groupPairs: Seq[(Long, Long)] =
    (for (i <- group.indices; j <- i + 1 until group.size) yield (group(i), group(j)))
      .filter(p => jaccard(p._1, p._2) >= cfg.threshold)

  /** Misses LSH banding is allowed: the expected count of planted pairs
    * banding misses, (1 − J^r)^b each, plus three standard deviations. */
  val allowedMisses: Int = {
    val e = planted.map { case (_, j) => 1.0 - cfg.candidateProbability(j) }.sum
    math.floor(e + 3 * math.sqrt(e)).toInt
  }

  /** Checks one output; returns (pair_recall, failures). */
  def check(out: DedupOutput): (Double, Seq[String]) = {
    val fails = mutable.ArrayBuffer.empty[String]
    val emitted = out.pairs.map(p => if (p._1 < p._2) p else p.swap).toSet
    // precision: every emitted pair is a true near-duplicate
    val bad = emitted.count { case (a, b) => jaccard(a, b) < cfg.threshold }
    if (bad > 0) fails += s"$bad emitted pairs have exact Jaccard below ${cfg.threshold}"
    // cluster level: truth pairs whose two docs share a cluster id
    val allTruth = planted.map(_._1) ++ groupPairs
    def together(p: (Long, Long)): Boolean =
      out.cluster.get(p._1).exists(c => out.cluster.get(p._2).contains(c))
    val recall = if (allTruth.isEmpty) 1.0 else allTruth.count(together).toDouble / allTruth.size
    if (recall < 0.99) fails += f"pair_recall $recall%.4f < 0.99"
    val pairMiss = planted.count(p => !emitted(p._1))
    if (pairMiss > allowedMisses)
      fails += s"$pairMiss planted pairs not emitted (banding allows $allowedMisses)"
    val clusterMiss = planted.count(p => !together(p._1))
    if (clusterMiss > allowedMisses)
      fails += s"$clusterMiss planted pairs split across clusters (banding allows $allowedMisses)"
    // every output cluster sits inside one truth component (truth graph:
    // planted + group pairs + emitted pairs, all exact J ≥ threshold)
    val uf = new UnionFind
    (allTruth ++ emitted).foreach { case (a, b) => uf.union(a, b) }
    val mixed = out.cluster.groupBy(_._2).count { case (_, m) => m.keys.map(uf.find).toSet.size > 1 }
    if (mixed > 0) fails += s"$mixed output clusters span more than one truth component"
    if (group.nonEmpty) {
      val gc = group.flatMap(out.cluster.get).toSet
      if (gc.size != 1 || group.exists(g => !out.cluster.contains(g)))
        fails += s"boilerplate group of ${group.size} docs forms ${gc.size} clusters, not 1"
    }
    (recall, fails.toSeq)
  }

  /** A deliberately corrupted copy of `out`: one planted pair dropped and
    * one planted cluster split. The check must reject it. */
  def corrupt(out: DedupOutput): DedupOutput = {
    val victim = planted.map(_._1).find { case (a, b) =>
      out.pairs.exists(p => p == ((a, b)) || p == ((b, a)))
    }
    victim match {
      case None => out
      case Some((a, b)) =>
        val fresh = out.cluster.values.max + 1
        DedupOutput(out.pairs.filterNot(p => p == ((a, b)) || p == ((b, a))),
          out.cluster.updated(b, fresh))
    }
  }
}

final class UnionFind {
  private val parent = mutable.HashMap.empty[Long, Long]
  def find(x: Long): Long = {
    val p = parent.getOrElse(x, x)
    if (p == x) x else { val r = find(p); parent(x) = r; r }
  }
  def union(a: Long, b: Long): Unit = {
    val (ra, rb) = (find(a), find(b))
    if (ra != rb) parent(ra.max(rb)) = ra.min(rb)
  }
}
