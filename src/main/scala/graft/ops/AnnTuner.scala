package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, size}

/** Sample-driven auto-tuner for the ANN knobs.
  *
  * The LSH (planes/probe-radius) and IVF (nlist/nprobe) parameters trade
  * recall against the fraction of the corpus a probe reads, and the right
  * point depends entirely on the corpus's neighbor geometry: this repo's
  * test embeddings put true top-10 neighbors at cos 0.25-0.40 (hostile to
  * hyperplanes), but a corpus with real duplicate structure sits at
  * cos ≥ 0.8 where the same knobs would be far too loose. Hand-tuned
  * constants silently give a different corpus the wrong tradeoff — so
  * this tuner estimates the tradeoff from a BOUNDED sample and picks the
  * cheapest configuration that clears a requested recall.
  *
  * Scale contract: everything here is driver-side over at most `cap`
  * sampled vectors (default 2000 × 64 dims ≈ 1 MB) — the corpus itself is
  * never collected, and the estimate cost is independent of corpus size.
  * The in-sample ground-truth neighbors are at least as far apart as the
  * full-corpus ones (a sample can only remove closer neighbors), so the
  * recall estimate is conservative: the tuner errs toward MORE recall at
  * scale, never less.
  */
object AnnTuner {

  final case class LshKnobs(planes: Int, radius: Int,
                            estRecall: Double, estIoFrac: Double) {
    override def toString =
      f"LshKnobs(planes=$planes, radius=$radius, estRecall=$estRecall%.2f, estIo=$estIoFrac%.2f)"
  }
  final case class IvfKnobs(nlist: Int, nprobe: Int,
                            estRecall: Double, estIoFrac: Double) {
    override def toString =
      f"IvfKnobs(nlist=$nlist, nprobe=$nprobe, estRecall=$estRecall%.2f, estIo=$estIoFrac%.2f)"
  }

  /** Bounded driver-side sample of unit-normalized embeddings. count() is
    * parquet-footer metadata; the sample is one narrow pass; the collect
    * is capped at `cap` rows regardless of corpus size. */
  def sampleUnit(emb: DataFrame, cap: Int = 2000, seed: Long = 42): Array[Array[Double]] = {
    // null/empty vectors can't inform knobs and would NPE the collect
    // (the Clustering.sampleRaw guard, applied at the shared sampler)
    val base = emb.filter(col("embedding").isNotNull && size(col("embedding")) > 0)
      .select("vec_id", "embedding")
    val total = base.count()
    val picked =
      if (total <= cap) base
      else base.sample(withReplacement = false,
        math.min(1.0, cap * 1.2 / total), seed).limit(cap)
    picked.collect().map { r =>
      val v = r.getSeq[Float](1).toArray.map(_.toDouble)
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }
  }

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  private def sqDist(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val t = a(i) - b(i); s += t * t; i += 1 }
    s
  }

  /** Exact in-sample top-k neighbor indices for the first `nq` vectors
    * (cosine = dot on unit vectors; ties by index, like the engine's
    * vec_id tie-break). */
  private def trueTopK(sample: Array[Array[Double]], nq: Int, k: Int): Array[Array[Int]] =
    Array.tabulate(nq) { qi =>
      sample.indices.iterator.filter(_ != qi)
        .map(i => (dot(sample(qi), sample(i)), i)).toSeq
        .sortBy { case (c, i) => (-c, i) }.take(k).map(_._2).toArray
    }

  /** Driver-side replica of [[Similarity.lshSignature]] over the first
    * `planes` hyperplanes of table 0 — same splitmix64 components, so
    * the estimated buckets ARE the engine's buckets. */
  private def sigOf(v: Array[Double], planes: Int): Long = {
    var sig = 0L
    var j = 0
    while (j < planes) {
      var d = 0.0; var p = 0
      while (p < v.length) { d += v(p) * Similarity.planeComponent(0, j, p); p += 1 }
      if (d >= 0) sig |= (1L << j)
      j += 1
    }
    sig
  }

  /** All (planes, radius) candidates with their estimated recall and
    * probed-corpus fraction — the measured grid behind [[tuneLsh]]. */
  def lshGrid(sample: Array[Array[Double]], k: Int = 10): Seq[LshKnobs] = {
    val n = sample.length
    val nq = math.min(50, n)
    val truth = trueTopK(sample, nq, k)
    val maxPlanes = 12
    val sigs = sample.map(sigOf(_, maxPlanes))
    for {
      b <- Seq(2, 3, 4, 5, 6, 8, 10, 12)
      r <- Seq(1, 2, 3) if r < b
    } yield {
      val mask = (1L << b) - 1
      val occ = sigs.groupBy(_ & mask).map { case (s, xs) => s -> xs.length }
      val ring = Similarity.probeMasks(b, r)
      var rec = 0.0; var io = 0.0
      (0 until nq).foreach { qi =>
        val probed = ring.map(m => (sigs(qi) & mask) ^ m).toSet
        rec += truth(qi).count(t => probed(sigs(t) & mask)).toDouble / truth(qi).length
        io += probed.toSeq.map(s => occ.getOrElse(s, 0).toLong).sum.toDouble / n
      }
      LshKnobs(b, r, rec / nq, io / nq)
    }
  }

  /** Cheapest (planes, radius) whose estimated recall clears the target;
    * if nothing does (degenerate geometry), the highest-recall point. A
    * sample too small to estimate from (< 2 vectors) degrades to the
    * widest-probe default instead of returning NaN estimates. */
  def tuneLsh(sample: Array[Array[Double]], targetRecall: Double, k: Int = 10): LshKnobs =
    if (sample.length < 2) LshKnobs(planes = 2, radius = 1, estRecall = 1.0, estIoFrac = 1.0)
    else pick(lshGrid(sample, k), targetRecall)(_.estRecall, _.estIoFrac)

  /** Plain Lloyd's k-means with k-means++ seeding, deterministic, over
    * the (unit-normalized) sample — mirrors the engine's spherical
    * quantizer ([[Similarity.writeCellBucketed]]:
    * Spark ML KMeans over L2-normalized features). */
  private[ops] def kmeansCenters(sample: Array[Array[Double]], kCells: Int,
                                 iters: Int = 20, seed: Long = 42): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    val n = sample.length
    val dim = sample(0).length
    val centers = scala.collection.mutable.ArrayBuffer[Array[Double]](sample(rnd.nextInt(n)))
    while (centers.size < kCells) {
      val d2 = sample.map(v => centers.iterator.map(c => sqDist(v, c)).min)
      val total = d2.sum
      if (total == 0) centers += sample(rnd.nextInt(n))
      else {
        var t = rnd.nextDouble() * total; var i = 0
        while (i < n - 1 && t > d2(i)) { t -= d2(i); i += 1 }
        centers += sample(i)
      }
    }
    val ctrs = centers.toArray.map(_.clone())
    (1 to iters).foreach { _ =>
      val sums = Array.fill(kCells)(new Array[Double](dim))
      val counts = new Array[Int](kCells)
      sample.foreach { v =>
        val c = nearestIdx(v, ctrs)
        counts(c) += 1
        var i = 0; while (i < dim) { sums(c)(i) += v(i); i += 1 }
      }
      (0 until kCells).foreach { c =>
        if (counts(c) > 0) { // empty cell keeps its previous center
          var i = 0; while (i < dim) { ctrs(c)(i) = sums(c)(i) / counts(c); i += 1 }
        }
      }
    }
    ctrs
  }

  private def nearestIdx(v: Array[Double], ctrs: Array[Array[Double]]): Int = {
    var best = 0; var bd = Double.MaxValue; var c = 0
    while (c < ctrs.length) {
      val d = sqDist(v, ctrs(c))
      if (d < bd) { bd = d; best = c }
      c += 1
    }
    best
  }

  /** All (nlist, nprobe) candidates with estimated recall and probed
    * fraction — the measured grid behind [[tuneIvf]]. */
  def ivfGrid(sample: Array[Array[Double]], k: Int = 10): Seq[IvfKnobs] = {
    val n = sample.length
    val nq = math.min(50, n)
    val truth = trueTopK(sample, nq, k)
    for {
      nl <- Seq(8, 16, 32, 64, 128) if nl * 4 <= n
      ctrs = kmeansCenters(sample, nl)
      assign = sample.map(nearestIdx(_, ctrs))
      occ = assign.groupBy(identity).map { case (c, xs) => c -> xs.length }
      cellOrder = Array.tabulate(nq) { qi =>
        ctrs.indices.map(c => (sqDist(sample(qi), ctrs(c)), c)).sorted.map(_._2)
      }
      np <- Seq(1, 2, 3, 4, 6, 8, 12, 16, 24, 32) if np <= nl
    } yield {
      var rec = 0.0; var io = 0.0
      (0 until nq).foreach { qi =>
        val probed = cellOrder(qi).take(np).toSet
        rec += truth(qi).count(t => probed(assign(t))).toDouble / truth(qi).length
        io += probed.toSeq.map(c => occ.getOrElse(c, 0).toLong).sum.toDouble / n
      }
      IvfKnobs(nl, np, rec / nq, io / nq)
    }
  }

  /** Cheapest (nlist, nprobe) whose estimated recall clears the target;
    * highest-recall point if nothing does. A sample too small for the grid
    * (fewer than 32 vectors — every `nlist * 4 <= n` candidate is filtered
    * out) degrades to a probe-everything default instead of crashing:
    * nlist bounded by the sample size, nprobe = nlist, recall 1 by
    * construction. */
  def tuneIvf(sample: Array[Array[Double]], targetRecall: Double, k: Int = 10): IvfKnobs = {
    val grid = if (sample.length >= 2) ivfGrid(sample, k) else Seq.empty
    if (grid.isEmpty) {
      val nl = math.max(1, math.min(8, sample.length))
      IvfKnobs(nl, nl, estRecall = 1.0, estIoFrac = 1.0)
    } else pick(grid, targetRecall)(_.estRecall, _.estIoFrac)
  }

  private def pick[A](cands: Seq[A], target: Double)
                     (recall: A => Double, io: A => Double): A = {
    val ok = cands.filter(recall(_) >= target)
    if (ok.nonEmpty) ok.minBy(c => (io(c), -recall(c)))
    else cands.maxBy(c => (recall(c), -io(c)))
  }

  final case class SemDedupKnobs(nlist: Int, estRecall: Double,
                                 estPairFrac: Double) {
    override def toString =
      f"SemDedupKnobs(nlist=$nlist, estRecall=$estRecall%.2f, estPairFrac=$estPairFrac%.3f)"
  }

  /** Within-cell SemDeDup cell-count candidates with, per nlist: the
    * fraction of the sample's true near-dup pairs (cos ≥ threshold)
    * that land in the SAME k-means cell (= the recall the within-cell
    * pass can reach), and the per-cell quadratic work as a fraction of
    * all-pairs (Σ cell² / n²). More cells = cheaper but splits more
    * pairs — the tradeoff q47's scale path buys. */
  def semDedupGrid(sample: Array[Array[Double]],
                   threshold: Double = 0.45): Seq[SemDedupKnobs] = {
    val n = sample.length
    val truePairs = for {
      i <- 0 until n
      j <- (i + 1) until n
      if dot(sample(i), sample(j)) >= threshold
    } yield (i, j)
    if (truePairs.isEmpty) return Seq.empty
    Seq(2, 4, 8, 16, 32, 64, 128)
      .filter(nl => nl.toLong * 4 <= n)
      .map { nl =>
        val ctrs = kmeansCenters(sample, nl)
        val cellOf = sample.map(nearestIdx(_, ctrs))
        val kept = truePairs.count { case (i, j) => cellOf(i) == cellOf(j) }
        val counts = cellOf.groupBy(identity).values.map(_.length.toLong)
        val pairFrac = counts.map(c => c * c).sum.toDouble / (n.toLong * n)
        SemDedupKnobs(nl, kept.toDouble / truePairs.size, pairFrac)
      }
  }

  /** The candidate grid q226 persists (empty when the sample is too
    * small for any `nlist * 4 <= n` candidate or has no true pairs). */
  def semDedupCandidates(sample: Array[Array[Double]],
                         threshold: Double = 0.45): Seq[SemDedupKnobs] =
    if (sample.length >= 8) semDedupGrid(sample, threshold) else Seq.empty

  /** [[pick]] over SemDeDup candidates, exposed so q226's declared
    * decision and the oracle's SQL replay share one rule. */
  def pickSemDedup(grid: Seq[SemDedupKnobs], targetRecall: Double): SemDedupKnobs =
    pick(grid, targetRecall)(_.estRecall, _.estPairFrac)
}
