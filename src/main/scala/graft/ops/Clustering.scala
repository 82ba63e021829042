package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Embedding-space document clustering — the topic-balancing primitive a
  * training-data pipeline runs before mixing (cluster the corpus, inspect
  * per-cluster mass, up/down-weight topics). k-means itself is not
  * SQL-replayable (like q64's PQ codebooks), so the oracle contract follows
  * the q65 pattern: the TRAINED CENTROIDS ARE DATA — persisted next to the
  * run — and the per-vector assignment is an exact integer computation both
  * engines replay bit-identically.
  *
  * Determinism across engines: every float path is closed off. Vectors and
  * centroids are snapped to a fixed-point grid (`floor(x·1000 + 0.5)`, one
  * correctly-rounded IEEE multiply each — identical in Spark and DuckDB),
  * and the argmin runs on INTEGER squared distances with ties broken by the
  * smaller cluster id. No float sum ever crosses an engine boundary, so
  * there is no summation-order ulp drift to round away (the q36/q47 lesson,
  * applied to assignment instead of cosine).
  *
  * Shape at 100 TB: training collects a BOUNDED sample (≤2048 vectors — the
  * AnnTuner precedent; the corpus is never collected) and runs Lloyd's on
  * the driver; assignment broadcasts K·D integer literals into the plan and
  * is one narrow codegen'd pass over the embeddings — no shuffle, no join,
  * no UDF. K here is topic-scale (8), not ANN-cell-scale; for K in the
  * thousands the same layout as [[Similarity.writeCellBucketed]] applies.
  */
object Clustering {

  /** Where q81 persists its trained centroids (fixed-point ints) so the
    * DuckDB oracle can replay the assignment — merges-table pattern,
    * [[Bpe.MergesPath]]. */
  val CentroidsPath = graft.Sidecars.path("graft_kmeans_centroids.parquet")

  /** Fixed-point grid: 3 decimal digits. Embedding components are O(1), so
    * snapped values are O(10^3) and a 64-dim squared distance is ≤ ~10^9 —
    * integer math with no overflow headroom concerns. */
  val Grid = 1000.0

  /** Bounded deterministic raw-vector sample (no normalization — plain L2
    * k-means over the raw space; mirrors [[AnnTuner.sampleUnit]]'s shape). */
  private def sampleRaw(emb: DataFrame, cap: Int, seed: Long): Array[Array[Double]] = {
    // null/empty vectors can't train (no dimensionality); assignment
    // still covers them — all-ties argmin to cluster 0 at distance 0
    val usable = emb.filter(col("embedding").isNotNull && size(col("embedding")) > 0)
    val total = usable.count()
    val base = usable.select(col("vec_id"), col("embedding")).orderBy(col("vec_id"))
    val picked =
      if (total <= cap) base
      else base.sample(withReplacement = false, math.min(1.0, cap * 1.2 / total), seed)
        .limit(cap)
    picked.collect().map(_.getSeq[Float](1).map(_.toDouble).toArray)
  }

  /** Train k centroids on a bounded sample and snap them to the grid. */
  def trainCentroids(emb: DataFrame, k: Int = 8, iters: Int = 10,
                     sampleCap: Int = 2048, seed: Long = 42): Array[Array[Long]] = {
    val sample = sampleRaw(emb, sampleCap, seed)
    require(sample.nonEmpty, "cannot train k-means on an empty embeddings table")
    AnnTuner.kmeansCenters(sample, k, iters, seed)
      .map(_.map(x => math.floor(x * Grid + 0.5).toLong))
  }

  def persistCentroids(s: SparkSession, centroids: Array[Array[Long]],
                       path: String): Unit = {
    import s.implicits._
    centroids.zipWithIndex
      .map { case (qc, cid) => (cid, qc.toSeq) }.toSeq
      .toDF("cluster", "qc")
      .coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)
  }

  /** Fixed-point snap of a float-array column. */
  def snapped(embedding: Column): Column =
    transform(embedding, x => floor(x.cast("double") * lit(Grid) + lit(0.5)).cast("long"))

  /** Assign every vector to its nearest centroid under integer squared L2.
    * One narrow pass: the K distances are literal-array zip_with/aggregate
    * expressions and the argmin is `array_min` over (dist, cluster) structs
    * — lexicographic, so ties go to the smaller cluster id on both engines.
    * An empty embedding has distance 0 to every centroid and lands in
    * cluster 0 (the tie-break), which is also what the oracle's COALESCE
    * emits. */
  def assign(emb: DataFrame, centroids: Array[Array[Long]]): DataFrame = {
    val qx = snapped(col("embedding"))
    // zip_with pads a length mismatch with nulls; coalescing each term to 0
    // mirrors the oracle exactly (its generate_series never visits missing
    // positions and DuckDB's SUM skips NULL terms), so an empty embedding is
    // distance 0 to everything and lands in cluster 0 via the tie-break
    val dists = centroids.zipWithIndex.map { case (qc, cid) =>
      struct(
        // outer coalesce: a NULL embedding (not just empty) must land
        // in cluster 0 at distance 0 like the oracle's COALESCE path,
        // not propagate NULL distances into the argmin
        coalesce(graft.functions.exprs.int_sqdist(qx, typedlit(qc.toSeq)),
          lit(0L)).as("d"),
        lit(cid).as("cluster"))
    }
    emb
      .withColumn("best", array_min(array(dists: _*)))
      .select(col("vec_id"), col("best.cluster").as("cluster"),
        col("best.d").as("sq_dist"))
  }

  /** q81: k-means topic clustering over the embeddings table. Trains on a
    * bounded sample, persists the grid-snapped centroids to
    * [[CentroidsPath]], and emits the exact integer assignment the oracle
    * replays from that table. */
  def q81EmbeddingClusters(s: SparkSession, dir: String, k: Int = 8,
                           iters: Int = 10): DataFrame = {
    val emb = graft.Tables.embeddings(s, dir)
    val centroids = trainCentroids(emb, k, iters)
    persistCentroids(s, centroids, CentroidsPath)
    assign(emb, centroids).orderBy(col("vec_id"))
  }

  /** Where q83 persists its centroids — its own path, so the oracle replay
    * never depends on whether/when q81 ran. */
  val SampleCentroidsPath = graft.Sidecars.path("graft_kmeans_centroids_sample.parquet")

  /** q94's own centroid path (same independence rule as q83). */
  val PurityCentroidsPath = graft.Sidecars.path("graft_kmeans_centroids_purity.parquet")

  /** q94: cluster–label agreement — the clustering-quality diagnostic a
    * curation pipeline reads before trusting learned topics for
    * balancing: per cluster, its size, the majority ground-truth label
    * (the embeddings table's `label` column — ties to the smaller
    * label, the q67 top-lang rule) and the purity = majority fraction.
    * A cluster whose purity sits at the label prior means the learned
    * structure is noise; this corpus's separable labels should score
    * well above it.
    *
    * Shape at 100 TB: q81's narrow assignment pass + ONE map-combined
    * (cluster, label) count aggregate (≤ k·|labels| rows), then a tiny
    * per-cluster argmax — no window over corpus rows anywhere. */
  def q94ClusterPurity(s: SparkSession, dir: String, k: Int = 8,
                       iters: Int = 10): DataFrame = {
    val emb = graft.Tables.embeddings(s, dir)
    val centroids = trainCentroids(emb, k, iters)
    persistCentroids(s, centroids, PurityCentroidsPath)
    purityTable(assign(emb, centroids)
      .join(emb.select(col("vec_id"), col("label")), "vec_id"))
  }

  /** The aggregation core of q94 over an already-labeled assignment
    * ((…, cluster, label) rows). */
  private[ops] def purityTable(joined: DataFrame): DataFrame = {
    val counts = joined
      .groupBy(col("cluster"), col("label"))
      .agg(count(lit(1)).as("c"))
    counts.groupBy(col("cluster"))
      .agg(sum(col("c")).as("n_vectors"),
        min(struct((-col("c")).as("negc"), col("label").as("lab"))).as("m"))
      .select(col("cluster"),
        col("n_vectors"),
        col("m.lab").as("top_label"),
        (-col("m.negc")).as("n_top"),
        round((-col("m.negc")).cast("double") /
          col("n_vectors").cast("double"), 9).as("purity"))
      .orderBy(col("cluster"))
  }

  /** q83: cluster-balanced sampling — the diversity-stratified draw a
    * curation pipeline runs to eyeball (or train on) an even topic slice:
    * q52's salted min-hash reservoir with the stratum = the LEARNED topic
    * cluster instead of a metadata column. Equal k per cluster is the
    * point — a metadata-stratified sample inherits the corpus's topical
    * skew, this one doesn't.
    *
    * Shape at 100 TB: assignment is q81's narrow codegen'd pass (no
    * shuffle, no join), and the per-cluster draw is the bounded `top_k`
    * aggregate (≤ 4+16k bytes per cluster on the wire, map-side
    * combined) — never a per-cluster row_number window; the q52
    * stability property carries over verbatim (removing a non-sampled
    * vector can never change the sample). */
  def q83ClusterSample(s: SparkSession, dir: String, k: Int = 20,
                       nClusters: Int = 8, iters: Int = 10): DataFrame = {
    val emb = graft.Tables.embeddings(s, dir)
    val centroids = trainCentroids(emb, nClusters, iters)
    persistCentroids(s, centroids, SampleCentroidsPath)
    clusterSample(assign(emb, centroids), k)
  }

  /** The reusable core over any (vec_id, cluster) frame. */
  def clusterSample(assigned: DataFrame, k: Int): DataFrame = {
    val hash52 = conv(
      substring(md5(concat(lit("csample:"), col("vec_id").cast("string"))), 1, 13),
      16, 10).cast("long")
    assigned
      .groupBy(col("cluster"))
      .agg(TopKPerGroup.topKColumn(-hash52.cast("double"), col("vec_id"), k).as("top"))
      .select(col("cluster"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("cluster"), (col("pos") + 1).cast("long").as("sample_rank"),
        col("e.id").as("vec_id"))
      .orderBy(col("cluster"), col("sample_rank"))
  }

  /** Per-group embedding centroids with the q110 float-determinism
    * recipe: each coordinate rounds to 12 digits, sums as exact
    * DECIMAL (partition-order-proof), and the mean divides in double
    * and re-rounds — so an oracle replaying the same recipe
    * hash-matches. One posexplode shuffle keyed on (group, dim):
    * |groups|·dim rows out, never a per-group array collect. */
  def groupCentroids(emb: DataFrame, groupCol: String): DataFrame =
    emb.select(col(groupCol).as("g"), posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy(col("g"), col("i"))
      .agg(
        sum(round(col("x").cast("double"), 12).cast("decimal(28,12)")).as("s"),
        count(lit(1)).as("n"))
      .select(col("g"), col("i"),
        round(col("s").cast("double") / col("n"), 12).as("c"))

  /** Pairwise cosine between group centroids — the source/cluster
    * affinity matrix (embedding-space drift between data sources, the
    * aggregate-level complement of q93's per-vector decontamination).
    * Dot/norm accumulate as rounded-product DECIMAL sums over the dim
    * join (deterministic under any partitioning); |groups|²·dim rows —
    * trivial for any real group count. */
  def centroidCosines(centroids: DataFrame): DataFrame = {
    val norms = centroids.groupBy(col("g"))
      .agg(sum(round(col("c") * col("c"), 12).cast("decimal(28,12)")).as("nrm"))
    val l = centroids.select(col("g").as("g1"), col("i"), col("c").as("c1"))
    val r = centroids.select(col("g").as("g2"), col("i"), col("c").as("c2"))
    l.join(r, Seq("i")).filter(col("g1") < col("g2"))
      .groupBy(col("g1"), col("g2"))
      .agg(sum(round(col("c1") * col("c2"), 12).cast("decimal(28,12)")).as("dot"))
      .join(norms.select(col("g").as("g1"), col("nrm").as("n1")), Seq("g1"))
      .join(norms.select(col("g").as("g2"), col("nrm").as("n2")), Seq("g2"))
      .select(col("g1"), col("g2"),
        round(col("dot").cast("double") /
          sqrt(col("n1").cast("double") * col("n2").cast("double")), 6).as("cos"))
  }

  /** q119: label-centroid cosine matrix over the embeddings table. */
  def q119CentroidCosines(s: SparkSession, dir: String): DataFrame =
    centroidCosines(groupCentroids(
      graft.Tables.embeddings(s, dir), "label"))
      .select(col("g1").cast("long").as("l1"), col("g2").cast("long").as("l2"),
        col("cos"))
      .orderBy(col("l1"), col("l2"))

  /** [[assign]] for LARGE centroid counts: the literal-expression form
    * compiles c struct aggregates into one expression tree — ideal at
    * k ≤ ~64 (no join, one codegen'd pass) and catastrophic at IVF-
    * scale nlist (hundreds+: megabyte codegen falls back to
    * interpreted, n×c×dim ops single-expression). This form keeps the
    * centroids as a broadcast TABLE: one n×c row join with a codegen'd
    * zip_with distance and a hash-aggregate argmin — distributed,
    * linear in n·c, no expression blowup. Same semantics: integer
    * squared L2 on the snapped grid, ties to the smaller cluster id,
    * null/empty embeddings to cluster 0 at distance 0. */
  def assignByJoin(emb: DataFrame, centroids: Array[Array[Long]]): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val c = centroids.zipWithIndex.map { case (qc, cid) => (cid, qc.toSeq) }
      .toSeq.toDF("cluster", "qc")
    emb.select(col("vec_id"), snapped(col("embedding")).as("qx"))
      .crossJoin(broadcast(c))
      .select(col("vec_id"), col("cluster"),
        coalesce(graft.functions.exprs.int_sqdist(col("qx"), col("qc")),
          lit(0L)).as("d"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d"), col("cluster"))).as("best"))
      .select(col("vec_id"), col("best.cluster").as("cluster"),
        col("best.d").as("sq_dist"))
  }

  /** q182's own centroid path (the q83/q94 independence rule). */
  val SourceEntropyCentroidsPath = graft.Sidecars.path("graft_kmeans_centroids_srcent.parquet")

  /** q182: TOPIC DIVERSITY per source — the Shannon entropy of each
    * source's distribution over the learned k-means clusters, the
    * balance diagnostic behind mixture decisions: a source whose docs
    * pile into one topic cluster (entropy → 0) contributes far less
    * diversity than its row count suggests, and a mixing policy
    * weighting by rows alone overrates it. `entropy_norm` divides by
    * ln(k) so sources are comparable across k choices.
    *
    * Shape: the q81 assignment pass (narrow, broadcast centroids) + a
    * (source × ≤k) count aggregate + per-source entropy over ≤k rows —
    * nothing beyond q81's cost. Determinism: counts exact; each
    * −p·ln p term is rounded 12 and decimal-summed, the final values
    * round 12 (the q41/q48 rules); the oracle replays the assignment
    * from the persisted grid-snapped centroids (the q81 recipe). */
  def q182SourceClusterEntropy(s: SparkSession, dir: String,
                               k: Int = 8): DataFrame = {
    val emb = graft.Tables.embeddings(s, dir)
    val centroids = trainCentroids(emb, k)
    persistCentroids(s, centroids, SourceEntropyCentroidsPath)
    val src = graft.Tables.documents(s, dir)
      .select(col("doc_id").as("vec_id"), col("source"))
    val counts = assign(emb, centroids).join(src, Seq("vec_id"))
      .groupBy(col("source"), col("cluster")).agg(count(lit(1)).as("c"))
    val totals = counts.groupBy(col("source")).agg(sum(col("c")).as("n"))
    val p = col("c").cast("double") / col("n").cast("double")
    counts.join(broadcast(totals), Seq("source"))
      .withColumn("part", round(-p * log(p), 12).cast("decimal(28,12)"))
      .groupBy(col("source"))
      .agg(max(col("n")).as("n_docs"),
        count(lit(1)).as("n_clusters_used"),
        sum(col("part")).as("h"))
      .select(col("source"), col("n_docs"), col("n_clusters_used"),
        round(col("h").cast("double"), 12).as("entropy"),
        round(col("h").cast("double") / math.log(k.toDouble), 12)
          .as("entropy_norm"))
      .orderBy(col("source"))
  }

  /** q208's own centroid path (the q83/q94 independence rule). */
  val AgreementCentroidsPath = graft.Sidecars.path("graft_kmeans_centroids_agreement.parquet")

  /** q208: EXTERNAL CLUSTERING VALIDATION — Adjusted Rand Index and
    * Normalized Mutual Information between the learned k-means clusters
    * and the embeddings table's ground-truth labels. q94's purity answers
    * "what fraction lands in the majority label"; ARI corrects the pair
    * agreement for CHANCE (a k=1 clustering has purity = the label prior
    * but ARI 0) and NMI measures shared information symmetrically — the
    * two standard scores (Hubert & Arabie '85; Strehl & Ghosh JMLR'02) a
    * curation pipeline reads before trusting learned topics as strata.
    *
    * Determinism: everything is exact integer pair counting on the
    * ≤ k×|labels| contingency grid until the last step — C(x,2) products
    * widen to DECIMAL(38,0) (overflow-safe at any n), the expected-index
    * division is one double op rounded 12, and the NMI log terms follow
    * the q182 recipe (each term rounded 12, decimal-summed, final round
    * 6). The oracle replays the assignment from the persisted centroids
    * and the arithmetic from the same grid.
    *
    * Shape at 100 TB: the q81 narrow assignment pass + ONE map-combined
    * (cluster × label) aggregate; everything downstream operates on the
    * ≤ k·|labels| grid — broadcast-scale, no second corpus pass.
    * `Diag plan`'s BNLJ|SinglePartition flags here are the standing 1-row
    * scalar-attach idiom (six 1-row aggregate frames cross-joined). */
  def q208ClusteringAgreement(s: SparkSession, dir: String,
                              k: Int = 8): DataFrame = {
    val emb = graft.Tables.embeddings(s, dir)
    val centroids = trainCentroids(emb, k)
    persistCentroids(s, centroids, AgreementCentroidsPath)
    agreementFromGrid(assign(emb, centroids)
      .join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))
      .groupBy(col("cluster"), col("label")).agg(count(lit(1)).as("c")))
  }

  /** The ARI/NMI arithmetic over any (cluster, label, c) contingency
    * grid — exposed so the closed forms (perfect agreement ⇒ 1/1) are
    * spec-checkable on hand grids. */
  private[ops] def agreementFromGrid(grid0: DataFrame): DataFrame = {
    val grid = grid0
      .localCheckpoint() // the tiny grid feeds marginals + all sums
    // C(x,2) exact: halve the EVEN factor in integer math first, then one
    // decimal(19,0)² multiply → decimal(38,0) — no fractional-scale
    // decimal division anywhere (its result type would truncate/overflow)
    def c2(x: Column): Column = {
      val xl = x.cast("long")
      // shiftright = integer /2 on the non-negative counts here
      when(xl % 2 === 0,
        shiftright(xl, 1).cast("decimal(19,0)") * (xl - 1).cast("decimal(19,0)"))
        .otherwise(xl.cast("decimal(19,0)") *
          shiftright(xl - 1, 1).cast("decimal(19,0)"))
        .cast("decimal(38,0)")
    }
    val a = grid.groupBy(col("cluster")).agg(sum(col("c")).as("ai"))
    val b = grid.groupBy(col("label")).agg(sum(col("c")).as("bj"))
    val n = grid.agg(sum(col("c")).as("n"),
      count(lit(1)).as("n_cells"),
      sum(c2(col("c"))).as("sum_nij2"))
    val sumA = a.agg(sum(c2(col("ai"))).as("sum_a2"),
      count(lit(1)).as("n_clusters"))
    val sumB = b.agg(sum(c2(col("bj"))).as("sum_b2"),
      count(lit(1)).as("n_labels"))
    // NMI pieces on the grid: I(U;V), H(U), H(V) — q182's rounded-term
    // decimal sums; p's are exact-integer ratios evaluated identically
    // on both engines
    val mi = grid
      .join(broadcast(a), Seq("cluster")).join(broadcast(b), Seq("label"))
      .crossJoin(broadcast(n.select(col("n"))))
      .withColumn("term", round(
        (col("c").cast("double") / col("n").cast("double")) *
          log(col("n").cast("double") * col("c").cast("double") /
            (col("ai").cast("double") * col("bj").cast("double"))), 12)
        .cast("decimal(28,12)"))
      .agg(sum(col("term")).as("i_uv"))
    def entropyOf(m: DataFrame, cnt: String): DataFrame =
      m.crossJoin(broadcast(n.select(col("n").as("nn"))))
        .withColumn("term", round(
          -(col(cnt).cast("double") / col("nn").cast("double")) *
            log(col(cnt).cast("double") / col("nn").cast("double")), 12)
          .cast("decimal(28,12)"))
        .agg(sum(col("term")).as(s"h_$cnt"))
    val hU = entropyOf(a, "ai")
    val hV = entropyOf(b, "bj")
    n.crossJoin(broadcast(sumA)).crossJoin(broadcast(sumB))
      .crossJoin(broadcast(mi)).crossJoin(broadcast(hU)).crossJoin(broadcast(hV))
      .withColumn("exp_idx", round(
        col("sum_a2").cast("double") * col("sum_b2").cast("double") /
          c2(col("n")).cast("double"), 12))
      .withColumn("max_idx",
        (col("sum_a2").cast("double") + col("sum_b2").cast("double")) / 2.0)
      .select(
        col("n").cast("long").as("n_vectors"),
        col("n_clusters"), col("n_labels"),
        // degenerate single-cluster/single-label partitions: ARI's
        // denominator and NMI's entropies are 0 → NULL, not a NaN
        // (ANSI leaves double /0 as Inf; the guard keeps both engines
        // on the same literal NULL)
        when(col("max_idx") =!= col("exp_idx"),
          round((col("sum_nij2").cast("double") - col("exp_idx")) /
            (col("max_idx") - col("exp_idx")), 6)).as("ari"),
        when(col("h_ai").cast("double") * col("h_bj").cast("double") > 0.0,
          round(col("i_uv").cast("double") /
            sqrt(col("h_ai").cast("double") * col("h_bj").cast("double")), 6))
          .as("nmi"))
  }

  /** q232's persisted centroid table (own sidecar — the q83/q94
    * independence rule). */
  val DendroCentroidsPath: String =
    graft.Sidecars.path("graft_kmeans_centroids_dendro.parquet")

  /** q245's persisted centroid table (own sidecar). */
  val SilhouetteCentroidsPath: String =
    graft.Sidecars.path("graft_kmeans_centroids_silhouette.parquet")

  /** q245: SIMPLIFIED SILHOUETTE per cell (Rousseeuw '87, the
    * centroid-based simplification) — the cluster-QUALITY read the
    * family lacked: q81 assigns, q208 scores against LABELS, q232
    * reads the hierarchy; silhouette says whether the cells are real
    * without any ground truth. Per vector: a = distance to its own
    * centroid, b = distance to the nearest OTHER centroid,
    * s = (b − a)/max(a, b) ∈ [−1, 1]; per cell: n and mean s (a cell
    * near 0 is geometry the ANN layouts shouldn't trust).
    *
    * Exact: squared distances are exact integers (the grid-snap
    * kernel); a, b are libm sqrts of the SAME integers on both
    * engines; each s rounds 12 and decimal-sums, mean rounds 6. One
    * n·c broadcast pass (the standing bounded-model-attach idiom) —
    * the same distance table the oracle's assignment CTE already
    * builds, so the replay is a second aggregate over it. */
  def q245Silhouette(s: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val emb = graft.Tables.embeddings(s, dir)
    val centroids = trainCentroids(emb, k)
    persistCentroids(s, centroids, SilhouetteCentroidsPath)
    import s.implicits._
    val c = centroids.zipWithIndex.map { case (qc, cid) => (cid, qc.toSeq) }
      .toSeq.toDF("cluster", "qc")
    val d = emb.select(col("vec_id"), snapped(col("embedding")).as("qx"))
      .crossJoin(broadcast(c))
      .select(col("vec_id"), col("cluster"),
        coalesce(graft.functions.exprs.int_sqdist(col("qx"), col("qc")),
          lit(0L)).as("d"))
    val scored = d.groupBy(col("vec_id"))
      .agg(min(struct(col("d"), col("cluster"))).as("own"),
        collect_list(struct(col("d"), col("cluster"))).as("all"))
      .select(col("vec_id"), col("own.cluster").as("cell"),
        col("own.d").as("d_own"),
        array_min(filter(col("all"),
          e => e.getField("cluster") =!= col("own.cluster"))).as("oth"))
      .select(col("vec_id"), col("cell"), col("d_own"),
        col("oth.d").as("d_other"))
      .withColumn("a", sqrt(col("d_own").cast("double")))
      .withColumn("b", sqrt(col("d_other").cast("double")))
      .withColumn("sil", when(greatest(col("a"), col("b")) > 0.0,
        round((col("b") - col("a")) / greatest(col("a"), col("b")), 12))
        .otherwise(lit(0.0)))
    scored.groupBy(col("cell"))
      .agg(count(lit(1)).as("n"),
        sum(col("sil").cast("decimal(28,12)")).as("ssum"))
      .select(col("cell"), col("n"),
        round(col("ssum").cast("double") / col("n").cast("double"), 6)
          .as("mean_silhouette"))
      .orderBy(col("cell"))
  }

  /** q232: CENTROID DENDROGRAM — single-linkage agglomerative
    * clustering over the k-means model, the HIERARCHICAL read flat
    * k-means can't give ("are these 8 cells really 3 families?"): the
    * merge-distance profile is the knee diagnostic for choosing the
    * effective cluster count, and the early merges name the
    * near-duplicate cells an IVF layout could fuse.
    *
    * Exact and bounded: the corpus cost is the ONE k-means training
    * pass (everything after runs on the k×k integer distance grid of
    * the grid-snapped centroid vectors — k−1 driver-side merges over a
    * bounded model, the MMR/PAV bounded-collect rule). Single-linkage
    * cluster distance = min member-pair distance, so the argmin over
    * MEMBER pairs ordered by (dist, least rep, greatest rep) picks
    * exactly the cluster-level tie-break — the oracle unrolls the k−1
    * merges as MATERIALIZED CTE steps over the persisted centroid
    * sidecar and must land on the identical merge sequence. */
  def q232CentroidDendrogram(s: SparkSession, dir: String,
                             k: Int = 8): DataFrame = {
    val emb = graft.Tables.embeddings(s, dir)
    val centroids = trainCentroids(emb, k)
    persistCentroids(s, centroids, DendroCentroidsPath)
    import s.implicits._
    singleLinkageMerges(centroids)
      .toDF("step", "rep_a", "rep_b", "dist", "n_clusters")
      .orderBy(col("step"))
  }

  /** The bounded merge core: (step, rep_a, rep_b, dist, n_clusters)
    * per merge; reps are the min member index by induction (the merge
    * always relabels into the smaller rep). */
  def singleLinkageMerges(centroids: Array[Array[Long]])
      : Seq[(Long, Long, Long, Long, Long)] = {
    val n = centroids.length
    def d2(a: Array[Long], b: Array[Long]): Long = {
      var s0 = 0L; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s0 += d * d; i += 1 }
      s0
    }
    val comp = Array.tabulate(n)(identity)
    val steps = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Long)]
    var step = 1
    while (step < n) {
      var bd = Long.MaxValue; var bra = Int.MaxValue; var brb = Int.MaxValue
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) {
          if (comp(i) != comp(j)) {
            val d = d2(centroids(i), centroids(j))
            val ra = math.min(comp(i), comp(j))
            val rb = math.max(comp(i), comp(j))
            if (d < bd || (d == bd && (ra < bra || (ra == bra && rb < brb)))) {
              bd = d; bra = ra; brb = rb
            }
          }
          j += 1
        }
        i += 1
      }
      var m = 0
      while (m < n) { if (comp(m) == brb) comp(m) = bra; m += 1 }
      steps += ((step.toLong, bra.toLong, brb.toLong, bd, (n - step).toLong))
      step += 1
    }
    steps.toSeq
  }

  /** q261: FISHER CLASS-SEPARABILITY audit — for every label pair, the
    * dimension that best separates them and its Fisher ratio
    * (m₁ − m₂)²/(v₁ + v₂): the embedding-space answer to "are these
    * two classes distinguishable at all, and along what" — near-zero
    * best ratios flag label pairs a linear probe cannot tell apart
    * (merge candidates or labeling noise), complementing q260's
    * per-VECTOR read with a per-CLASS-PAIR one.
    *
    * Scale shape: ONE (label, dim) moment aggregate off the element
    * explode (map-side combined; labels × dims rows out — bounded by
    * the schema, not the corpus); the pair grid joins that tiny frame
    * to itself; the per-pair argmax windows over ≤ dims rows.
    * Determinism: element sums as DECIMAL(28,18) (the knn norms
    * recipe), means/variances rounded 12, ratio rounded 6, argmax
    * tie-break (fisher DESC, dim ASC). */
  def q261FisherSeparability(s: SparkSession, dir: String): DataFrame =
    fisherSeparabilityOf(graft.Tables.embeddings(s, dir))

  /** The separability core over any (label, embedding) frame. */
  private[graft] def fisherSeparabilityOf(emb: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val x = Par.widen(emb)
      .select(col("label").cast("long").as("label"),
        posexplode(col("embedding")))
      .select(col("label"), (col("pos") + 1).cast("long").as("i"),
        col("col").cast("double").as("x"))
    val mom = x.groupBy(col("label"), col("i"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(28,18)")).as("sx"),
        sum((col("x") * col("x")).cast("decimal(28,18)")).as("sxx"))
      .withColumn("m", round(col("sx").cast("double") / col("n").cast("double"), 12))
      .withColumn("v", round(col("sxx").cast("double") / col("n").cast("double")
        - col("m") * col("m"), 12))
      .localCheckpoint() // labels × dims rows; both pair sides read it
    val pairs = mom.as("a").join(mom.as("b"),
        col("a.i") === col("b.i") && col("a.label") < col("b.label"))
      .select(col("a.label").as("l1"), col("b.label").as("l2"),
        col("a.n").as("n1"), col("b.n").as("n2"), col("a.i").as("dim"),
        when(col("a.v") + col("b.v") > 0.0,
          round((col("a.m") - col("b.m")) * (col("a.m") - col("b.m")) /
            (col("a.v") + col("b.v")), 6)).as("fisher"))
    pairs
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("l1"), col("l2"))
          .orderBy(col("fisher").desc_nulls_last, col("dim"))))
      .filter(col("rn") === 1)
      .select(col("l1"), col("l2"), col("n1"), col("n2"),
        col("dim").as("best_dim"), col("fisher"))
      .orderBy(col("l1"), col("l2"))
  }
}
