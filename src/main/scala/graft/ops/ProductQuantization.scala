package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Product quantization (PQ) — the memory-compression path for
  * similarity search at 100 TB (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011; the FAISS `IVF,PQ` default):
  * each unit vector is cut into M subvectors, each subvector replaced by
  * the id of its nearest per-subspace k-means centroid — M small codes
  * per vector instead of 4·dim bytes, here 8 codes vs 64 floats (32×
  * with byte-packed codes). Queries score compressed codes by ADC
  * (asymmetric distance computation): one M×K table of
  * query-subvector · centroid partial dots per query, then each row's
  * approximate cosine is M table lookups — no float vector is touched
  * until the exact re-rank of the top candidates.
  *
  * Scale shape:
  *  - training is the bounded driver-side sample pattern (AnnTuner's
  *    seeded sample + deterministic k-means++) — cost independent of
  *    corpus size;
  *  - encoding is one narrow distributed map with the broadcast
  *    codebook (the imperative-kernel path, same family as Multimodal's
  *    decode): argmin over K centroids × M subspaces per row in tight
  *    primitive loops;
  *  - probing scans CODES only — the probe IO shrinks by the
  *    compression factor versus a float brute force, the central PQ
  *    claim; the exact re-rank (q28's two-phase discipline) then
  *    fetches float vectors for just the R×|queries| ADC survivors;
  *  - composes with the IVF cell layout (store codes per cell) the same
  *    way FAISS composes IVF with PQ — the cell prune bounds rows
  *    scanned, PQ bounds bytes per row.
  *
  * ORACLE-EXACT since round 10 (it sat rows-only as "no SQL oracle can
  * replay k-means"): training is the one step the oracle does NOT
  * replay — q64 persists the grid-snapped integer codebook and the
  * DuckDB oracle replays encode/ADC/re-rank from that table in exact
  * integer arithmetic (see [[q64PqAnn]]). The spec additionally pins
  * recall against q28's exact result and the determinism of
  * training+encode across reruns.
  */
object ProductQuantization {

  /** Codebook: centroids(m)(k) is the k-th centroid of subspace m. */
  final case class Codebook(m: Int, k: Int, dim: Int,
                            centroids: Array[Array[Array[Double]]])

  /** Train per-subspace codebooks on a bounded unit-normalized sample.
    * Deterministic: seeded sample, k-means++ with fixed seed/iters. */
  def train(emb: DataFrame, m: Int = 8, k: Int = 16,
            sampleCap: Int = 2000): Codebook =
    trainFromSample(AnnTuner.sampleUnit(emb, sampleCap), m, k)

  /** The sample-side half of `train` — callers that need the sample for
    * other models too (the IVF,PQ write trains cell centers from the
    * SAME draw) pass it in and pay one sample action, not two. */
  def trainFromSample(sample: Array[Array[Double]], m: Int, k: Int): Codebook = {
    require(sample.nonEmpty, "empty embeddings table")
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    val centroids = Array.tabulate(m) { mi =>
      val sub = sample.map(_.slice(mi * dsub, (mi + 1) * dsub))
      AnnTuner.kmeansCenters(sub, k)
    }
    Codebook(m, k, dim, centroids)
  }

  /** Unit-normalized copy of a float vector (the engine's cosine
    * convention; zero vectors stay zero). */
  private def unitVec(arr: Seq[Float], dim: Int): Array[Double] = {
    val v = new Array[Double](dim)
    var n = 0.0
    var i = 0
    while (i < dim) { val x = arr(i).toDouble; v(i) = x; n += x * x; i += 1 }
    val inv = if (n == 0) 0.0 else 1.0 / math.sqrt(n)
    i = 0; while (i < dim) { v(i) *= inv; i += 1 }
    v
  }

  /** Per-subspace argmin over an ALREADY-normalized (or residual)
    * vector — the raw coding kernel. */
  private def codesFor(c: Codebook, v: Array[Double]): Array[Int] = {
    val dsub = c.dim / c.m
    val codes = new Array[Int](c.m)
    var mi = 0
    while (mi < c.m) {
      var best = 0; var bd = Double.MaxValue
      var ki = 0
      while (ki < c.k) {
        val ctr = c.centroids(mi)(ki)
        var d = 0.0; var j = 0
        while (j < dsub) { val t = v(mi * dsub + j) - ctr(j); d += t * t; j += 1 }
        if (d < bd) { bd = d; best = ki }
        ki += 1
      }
      codes(mi) = best
      mi += 1
    }
    codes
  }

  /** Argmin cell for a unit vector over the IVF centers. */
  private def nearestCellOf(cells: Array[Array[Double]], v: Array[Double]): Int = {
    var cell = 0; var cbd = Double.MaxValue; var ci = 0
    while (ci < cells.length) {
      val ctr = cells(ci)
      var d = 0.0; var j = 0
      while (j < v.length) { val t = v(j) - ctr(j); d += t * t; j += 1 }
      if (d < cbd) { cbd = d; cell = ci }
      ci += 1
    }
    cell
  }

  /** ADC scoring + exact re-rank over RESIDUAL codes carrying their IVF
    * cell: the approximate cosine is q·centroid(cell) +
    * Σ_m table(m)(code_m) — the decoded row is centroid + residual, and
    * the dot distributes. One pass over the codes scores every (query,
    * row) from the per-query M×K table plus nlist cell scalars, a
    * bounded top-`rerank` aggregate keeps the candidates, and only
    * those get the true float cosine. `queries`: (query_id, vector).
    *
    * `excludeSelf` drops the code row whose vec_id equals the query id —
    * right when queries ARE corpus rows asking for their neighbors. Pass
    * `false` when the queries live in their OWN id space: an external
    * query_id that merely collides with an unrelated vec_id would
    * otherwise silently lose a legitimate neighbor. */
  def adcTopKCells(emb: DataFrame, codes: DataFrame, cb: Codebook,
                   cellCenters: Array[Array[Double]],
                   queries: Array[(Long, Array[Double])],
                   k: Int, rerank: Int, excludeSelf: Boolean = true): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val dsub = cb.dim / cb.m
    val tables = queries.map { case (qid, qv) =>
      val n = math.sqrt(qv.map(x => x * x).sum)
      val u = if (n == 0) qv else qv.map(_ / n)
      val cellDots = cellCenters.map { ctr =>
        var d = 0.0; var j = 0
        while (j < u.length) { d += u(j) * ctr(j); j += 1 }
        d
      }
      val table = Array.tabulate(cb.m, cb.k) { (mi, ki) =>
        var d = 0.0; var j = 0
        while (j < dsub) { d += u(mi * dsub + j) * cb.centroids(mi)(ki)(j); j += 1 }
        d
      }
      (qid, cellDots, table)
    }
    val bc = s.sparkContext.broadcast(tables)
    val scored = codes.as[(Long, Seq[Int], Int)].mapPartitions { it =>
      val ts = bc.value
      it.flatMap { case (id, cs, cell) =>
        ts.iterator.filter(t => !excludeSelf || t._1 != id)
          .map { case (qid, cellDots, table) =>
            var sc = cellDots(cell); var mi = 0
            while (mi < table.length) { sc += table(mi)(cs(mi)); mi += 1 }
            (qid, id, sc)
          }
      }
    }.toDF("query_id", "vec_id", "ascore")
    rerankExact(emb, scored, queries, k, rerank)
  }

  /** Bounded per-query top-`rerank` over the ADC scores, then the exact
    * float re-rank of the survivors only (q28's two-phase discipline). */
  private def rerankExact(emb: DataFrame, scored: DataFrame,
                          queries: Array[(Long, Array[Double])],
                          k: Int, rerank: Int): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val cand = TopKPerGroup.topKPerKey(scored, "query_id", "ascore", "vec_id", rerank)
      .select(col("key").as("query_id"), col("id").as("cand_id"))
    val qdf = queries.map { case (qid, qv) =>
      (qid, qv.map(_.toFloat).toSeq) }.toSeq.toDF("query_id", "qe")
    emb.join(broadcast(cand), col("vec_id") === col("cand_id"))
      .join(broadcast(qdf), "query_id")
      .select(col("query_id"), col("vec_id"),
        graft.functions.exprs.cosine_similarity(col("qe"), col("embedding")).as("cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("vec_id"))).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"), col("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Write-time IVF,PQ layout — the FAISS composition, materialized the
    * engine's way: rows are partitioned by the IVF cell (the row-count
    * prune: a probe reads nprobe/nlist of the files, exactly like
    * [[Similarity.writeCellBucketed]]) and each row stores only its PQ
    * CODES (the byte prune: 8 ints vs 64 floats per row). The codebook
    * and cell centroids persist next to the data, so any later reader
    * probes without refitting. The float source-of-truth store stays
    * wherever it lives (the embeddings table) and is touched only for
    * the re-rank survivors.
    *
    * Codes are RESIDUAL-encoded (x − centroid(cell), the standard FAISS
    * IVF,PQ composition): within a cell the residual spread is far
    * smaller than the raw vector spread, so the same 8 bytes quantize
    * much finer. Measured on the weakly-clustered 2k-vector corpus
    * (sf0.1, nlist=16): residual codes reach recall@10 =
    * 0.54 / 0.86 / 0.96 at 2.5% / 10% / 50% re-rank with nprobe=8
    * (reading HALF the cells) and 0.56 / 0.90 / 1.00 probing all cells,
    * vs 0.42 / 0.78 / 1.00 for raw-vector codes with no cell loss at
    * all (the round-7 flat grid) — better recall at every budget while
    * also paying the IVF prune. The probe-side score adds one
    * q·centroid(cell) term per (query, probed cell): nlist scalars per
    * query next to the M×K table. */
  def writeCellBucketedPq(emb: DataFrame, dst: String, nlist: Int = 64,
                          m: Int = 8, k: Int = 16): Codebook = {
    val s = emb.sparkSession
    import s.implicits._
    // ONE bounded sample seeds BOTH models (the IVF cell centers, then
    // per-subspace codebooks over the sample's RESIDUALS), and ONE
    // narrow pass emits (vec_id, codes, cell) holding both broadcasts —
    // no second corpus scan, no join: a codes ⋈ cell co-partitioning
    // join would shuffle the whole corpus at scale for data that one
    // map already has in hand.
    val sample = AnnTuner.sampleUnit(emb)
    val cellCenters = AnnTuner.kmeansCenters(sample, nlist)
    val residuals = sample.map { v =>
      val ctr = cellCenters(nearestCellOf(cellCenters, v))
      Array.tabulate(v.length)(j => v(j) - ctr(j))
    }
    val cb = trainFromSample(residuals, m, k)
    val bcCb = s.sparkContext.broadcast(cb)
    val bcCells = s.sparkContext.broadcast(cellCenters)
    Par.widen(emb)
      .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])]
      .mapPartitions { it =>
        val c = bcCb.value
        val cells = bcCells.value
        it.map { case (id, arr) =>
          val v = unitVec(arr, c.dim)
          val cell = nearestCellOf(cells, v)
          val ctr = cells(cell)
          val r = new Array[Double](c.dim)
          var j = 0
          while (j < c.dim) { r(j) = v(j) - ctr(j); j += 1 }
          (id, codesFor(c, r).toSeq, cell)
        }
      }
      .toDF("vec_id", "codes", "cell")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("compression", "snappy")
      .partitionBy("cell")
      .parquet(dst)
    cellCenters.zipWithIndex.toSeq.map { case (ctr, i) => (i, ctr) }
      .toDF("cell", "centroid").coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(dst + "_centroids")
    (for { mi <- 0 until cb.m; ki <- 0 until cb.k }
      yield (mi, ki, cb.centroids(mi)(ki).toSeq)).toDF("m", "k", "centroid")
      .coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(dst + "_codebook")
    cb
  }

  /** Read a persisted codebook back. */
  def readCodebook(s: SparkSession, dst: String): Codebook = {
    import s.implicits._
    val rows = s.read.parquet(dst + "_codebook")
      .select(col("m"), col("k"), col("centroid"))
      .as[(Int, Int, Seq[Double])].collect()
    val m = rows.map(_._1).max + 1
    val k = rows.map(_._2).max + 1
    val dsub = rows(0)._3.length
    val cents = Array.ofDim[Array[Double]](m, k)
    rows.foreach { case (mi, ki, c) => cents(mi)(ki) = c.toArray }
    Codebook(m, k, m * dsub, cents)
  }

  /** Probe an IVF,PQ layout: per query, the nprobe nearest cells become
    * a static partition filter (only those files are read, codes only);
    * ADC scores the candidates; the exact re-rank fetches floats from
    * `embSource` for just the survivors. */
  def bucketedPqTopK(s: SparkSession, dst: String, embSource: DataFrame,
                     queries: Array[(Long, Array[Double])],
                     nprobe: Int = 12, k: Int = 10, rerank: Int = 50,
                     excludeSelf: Boolean = true): DataFrame = {
    import s.implicits._
    val cb = readCodebook(s, dst)
    val centers = s.read.parquet(dst + "_centroids")
      .select(col("cell"), col("centroid")).as[(Int, Seq[Double])].collect()
    def nearestCells(qv: Array[Double]): Seq[Int] = {
      val n = math.sqrt(qv.map(x => x * x).sum)
      val u = if (n == 0) qv else qv.map(_ / n)
      centers.map { case (i, ctr) =>
        var d = 0.0; var j = 0
        while (j < u.length) { val t = u(j) - ctr(j); d += t * t; j += 1 }
        (d, i)
      }.sortBy(_._1).take(nprobe).map(_._2).toSeq
    }
    val cells = queries.flatMap { case (_, qv) => nearestCells(qv) }
      .distinct.map(Int.box)
    val codes = s.read.parquet(dst)
      .filter(col("cell").isin(cells.toSeq: _*))
      .select(col("vec_id"), col("codes"), col("cell"))
    // dense center array indexed by cell id — the residual score needs
    // the probed row's cell term
    val denseCenters = {
      val arr = new Array[Array[Double]](centers.map(_._1).max + 1)
      centers.foreach { case (i, ctr) => arr(i) = ctr.toArray }
      arr
    }
    adcTopKCells(embSource, codes, cb, denseCenters, queries, k, rerank, excludeSelf)
  }

  /** Incremental append to a [[writeCellBucketedPq]] layout — the same
    * daily-ingest contract as [[Similarity.appendToCellLayout]]: new
    * vectors are residual-encoded against the PERSISTED centers and
    * codebook (no refit — an appended vector gets byte-identical codes
    * to what a full rewrite with the same models would give it) and
    * appended as new part files under their cells' dirs only; sidecars
    * are untouched, so concurrent probes keep working. The occupancy
    * ratio in the report is the refit signal (quantizer drift). */
  def appendToCellLayoutPq(newEmb: DataFrame, dst: String,
                           refitAt: Double = 4.0): Similarity.AnnAppendReport = {
    val s = newEmb.sparkSession
    import s.implicits._
    val cb = readCodebook(s, dst)
    val centers = s.read.parquet(dst + "_centroids")
      .select(col("cell"), col("centroid")).as[(Int, Seq[Double])].collect()
      .sortBy(_._1).map(_._2.toArray)
    val bcCb = s.sparkContext.broadcast(cb)
    val bcCells = s.sparkContext.broadcast(centers)
    val assigned = Par.widen(newEmb)
      .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])]
      .mapPartitions { it =>
        val c = bcCb.value
        val cells = bcCells.value
        it.map { case (id, arr) =>
          val v = unitVec(arr, c.dim)
          val cell = nearestCellOf(cells, v)
          val ctr = cells(cell)
          val r = new Array[Double](c.dim)
          var j = 0
          while (j < c.dim) { r(j) = v(j) - ctr(j); j += 1 }
          (id, codesFor(c, r).toSeq, cell)
        }
      }
      .toDF("vec_id", "codes", "cell")
      .localCheckpoint()
    assigned
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .option("compression", "snappy")
      .partitionBy("cell")
      .parquet(dst)
    Similarity.report(s, dst, assigned, centers.length, refitAt)
  }

  /** Where q64 persists its integer codebook — the oracle replays
    * encode + ADC + re-rank from this table (the q81/q94 persisted-
    * model pattern), so only TRAINING stays engine-side. */
  val CodebookPath = graft.Sidecars.path("graft_pq_codebook.parquet")

  /** Fixed-point grid for the oracle-exact q64 path: unit-vector
    * components × 1000, round-half-up (the Clustering.Grid rule). */
  private val Grid = 1000L

  /** Snap a float codebook to the unit grid. */
  def snapCodebook(cb: Codebook): Array[Array[Array[Long]]] =
    cb.centroids.map(_.map(_.map(x => math.floor(x * 1000.0 + 0.5).toLong)))

  def persistCodebook(s: SparkSession, qcb: Array[Array[Array[Long]]],
                      path: String): Unit = {
    import s.implicits._
    val rows = for { mi <- qcb.indices; ki <- qcb(mi).indices }
      yield (mi, ki, qcb(mi)(ki).toSeq)
    rows.toDF("mi", "ki", "qc").coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)
  }

  /** Unit-snapped integer vectors: raw components snapped to the grid
    * (exact longs), the squared norm summed in EXACT integer
    * arithmetic, then each component scaled to unit length with ONE
    * IEEE double divide + round-half-up — every step is an exact or
    * correctly-rounded operation on identical inputs, so DuckDB lands
    * on the identical longs (the q81 snap rule extended with the
    * sqrt-of-exact-integer trick: IEEE sqrt is correctly rounded, so
    * both engines compute the same double from the same long).
    * Zero/empty/null vectors (n2 = 0) are excluded — they have no
    * direction to quantize. */
  private[ops] def unitSnapped(emb: DataFrame): DataFrame = {
    val qx = Clustering.snapped(col("embedding"))
    emb.filter(col("embedding").isNotNull && size(col("embedding")) > 0)
      .withColumn("__qx", qx)
      .withColumn("__n2",
        aggregate(col("__qx"), lit(0L), (acc, e) => acc + e * e))
      .filter(col("__n2") > 0L)
      .select(col("vec_id"),
        transform(col("__qx"), e =>
          floor((e * lit(Grid)).cast("double") /
            sqrt(col("__n2").cast("double")) + lit(0.5)).cast("long")).as("u"))
  }

  /** q64: PQ-compressed ANN — train, encode, ADC-probe, re-rank; the
    * q28/q29 query convention (queries = vec_id < 5, top-10).
    *
    * ORACLE-EXACT since round 10 (this query sat rows-only for four
    * rounds as "no SQL oracle can replay k-means"): training is NOT
    * replayed — the snapped integer codebook is persisted to
    * [[CodebookPath]] and the oracle replays everything downstream of
    * it (encode argmin, ADC lookup-sum, candidate cut, exact re-rank)
    * in pure integer arithmetic from that table + the unit-snapped
    * vectors of [[unitSnapped]]. Every distance is an exact long; every
    * tie breaks (d, ki) / (dist, vec_id); the gate hash is therefore an
    * equality, not a tolerance. L2 on unit vectors preserves the cosine
    * ranking (‖a−b‖² = 2 − 2cos on unit vectors), so the recall spec
    * against q28's exact cosine ground truth still applies (grid noise
    * ~1e-3/component is far under this corpus's neighbor gaps).
    *
    * The re-rank budget is 10% of the corpus (floor 50): on THIS
    * weakly-clustered corpus (true neighbors at cos 0.25–0.40 — the
    * hard case for 8-byte codes) the measured recall@10 at 2k vectors
    * is 0.42 / 0.78 / 1.00 at 2.5% / 10% / 50% re-rank, so 10% buys
    * recall ≈ 0.8 while the re-fetch stays 10× below brute force and
    * the scan side reads 32×-compressed codes. Corpora with real
    * duplicate structure (cos ≥ 0.8 neighbors) rank far better under
    * ADC and would run at ~0.1% re-rank; the knob is the recall/IO
    * trade, same as q29's probe ring and the IVF nprobe.
    *
    * Scale shape is unchanged from the float path: bounded driver-side
    * training sample, one narrow encode pass with a broadcast codebook,
    * ADC over codes only, bounded top-R heap, exact re-rank of
    * R×|queries| survivors. */
  def q64PqAnn(s: SparkSession, dir: String, m: Int = 8, k16: Int = 16,
               k: Int = 10): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val cb = train(emb, m, k16)
    val qcb = snapCodebook(cb)
    persistCodebook(s, qcb, CodebookPath)
    val dsub = cb.dim / m
    // localCheckpoint: u feeds the query collect, the encode pass and
    // the re-rank fetch — three actions over one narrow projection
    val u = unitSnapped(Par.widen(emb)).localCheckpoint()
    // clamped: a bare .toInt wraps negative past ~21B rows and would
    // size a negative heap (or silently rerank almost nothing)
    val rerank = math.min(math.max(50L, u.count() / 10L), Int.MaxValue.toLong).toInt
    val queries = u.filter(col("vec_id") < 5)
      .as[(Long, Seq[Long])].collect().map { case (id, v) => id -> v.toArray }
    val bcb = s.sparkContext.broadcast(qcb)
    val codes = u.as[(Long, Seq[Long])].mapPartitions { it =>
      val c = bcb.value
      it.map { case (id, uv) =>
        val cs = new Array[Int](m)
        var mi = 0
        while (mi < m) {
          var best = 0; var bd = Long.MaxValue
          var ki = 0
          while (ki < c(mi).length) {
            var d = 0L; var j = 0
            while (j < dsub) { val t = uv(mi * dsub + j) - c(mi)(ki)(j); d += t * t; j += 1 }
            if (d < bd) { bd = d; best = ki } // strict < : ties keep the smaller ki
            ki += 1
          }
          cs(mi) = best; mi += 1
        }
        (id, cs.toSeq)
      }
    }.toDF("vec_id", "codes")
    // per-query integer ADC tables: table(mi)(ki) = ‖q_sub − centroid‖²
    val tables = queries.map { case (qid, qv) =>
      qid -> Array.tabulate(m, cb.k) { (mi, ki) =>
        var d = 0L; var j = 0
        while (j < dsub) { val t = qv(mi * dsub + j) - qcb(mi)(ki)(j); d += t * t; j += 1 }
        d
      }
    }
    val bt = s.sparkContext.broadcast(tables)
    val adc = codes.as[(Long, Seq[Int])].mapPartitions { it =>
      val ts = bt.value
      it.flatMap { case (id, cs) =>
        ts.iterator.filter(_._1 != id).map { case (qid, tab) =>
          var sc = 0L; var mi = 0
          while (mi < m) { sc += tab(mi)(cs(mi)); mi += 1 }
          (qid, id, sc)
        }
      }
    }.toDF("query_id", "vec_id", "ad")
    // bounded top-R heap per query, ascending integer ADC distance
    // (ties to the smaller vec_id) — negation flips the heap's
    // (score desc, id asc) order; exact: |ad| ≪ 2^53
    val cand = TopKPerGroup.topKPerKey(
        adc.select(col("query_id"), (-col("ad")).cast("double").as("s"), col("vec_id")),
        "query_id", "s", "vec_id", rerank)
      .select(col("key").as("query_id"), col("id").as("cand_id"))
    val bq = s.sparkContext.broadcast(queries.toMap)
    val ex = u.join(broadcast(cand), col("vec_id") === col("cand_id"))
      .select(col("query_id"), col("vec_id"), col("u"))
      .as[(Long, Long, Seq[Long])]
      .mapPartitions { it =>
        val qs = bq.value
        it.map { case (qid, id, uv) =>
          val qv = qs(qid)
          var d = 0L; var j = 0
          while (j < uv.length) { val t = uv(j) - qv(j); d += t * t; j += 1 }
          (qid, id, d)
        }
      }.toDF("query_id", "neighbor_id", "sq_dist")
    TopKPerGroup.topKPerKey(
        ex.select(col("query_id"), (-col("sq_dist")).cast("double").as("s"), col("neighbor_id")),
        "query_id", "s", "neighbor_id", k)
      .select(col("key").as("query_id"), col("rank"),
        col("id").as("neighbor_id"), (-col("score")).cast("long").as("sq_dist"))
      .orderBy(col("query_id"), col("rank"))
  }
}
