package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Iterative graph analytics — the second graph family next to
  * [[Dedup.connectedComponents]]: PageRank-style authority scoring
  * over a link graph (domain/page authority is a standard quality
  * prior in web-corpus curation — a page linked by many authoritative
  * pages is likelier worth keeping, and rank-weighted sampling is a
  * common curation knob).
  *
  * Scale shape: each iteration is ONE join of the static
  * (src, dst, deg) edge-share table against the current rank vector
  * (shuffle keyed on src) and ONE aggregate keyed on dst — O(E) rows
  * per round, never materializing anything driver-side beyond two
  * scalar aggregates (N and the dangling mass, both 1-row). The edge
  * table and degree join are loop-invariant and computed once.
  * Long-running iteration counts truncate lineage every
  * `CheckpointEvery` (8) rounds (the [[Dedup.connectedComponents]]
  * localCheckpoint rule); the declared 3-round queries never hit it.
  *
  * Float-determinism contract (the q34 idiom, applied per round):
  * per-edge shares are double-divided then ROUNDED to 12 digits and
  * summed as exact DECIMAL (double summation order is
  * engine/partitioning-dependent; decimal addition is not), the
  * teleport/damping combine happens in double on those exact sums, and
  * the round's final rank is rounded to 12 digits — so N rounds replay
  * bit-identically in any engine that follows the same recipe (the
  * oracle unrolls it as chained CTEs).
  */
object Graph {

  /** Rounds between lineage-truncating localCheckpoints. */
  private val CheckpointEvery = 8

  /** PageRank over (id) nodes and (src, dst) edges. Nodes with no
    * out-edges are dangling: their mass redistributes uniformly each
    * round (the standard correction — dropping it leaks mass and the
    * ranks no longer sum to 1). */
  def pageRank(nodes: DataFrame, edges: DataFrame, iters: Int,
               damping: Double = 0.85): DataFrame = {
    require(iters >= 1, "need at least one iteration")
    val n = nodes.count()
    require(n > 0, "empty node set")
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val edgeShare = edges.join(deg, Seq("src"))
    val danglingIds = nodes.select(col("id"))
      .join(deg.select(col("src").as("id")), Seq("id"), "left_anti")
    var ranks = nodes.select(col("id"), round(lit(1.0 / n), 12).as("rank"))
    for (i <- 1 to iters) {
      val contribs = edgeShare
        .join(ranks, edgeShare("src") === ranks("id"))
        .select(col("dst").as("id"),
          round(col("rank") / col("deg"), 12).cast("decimal(28,12)").as("c"))
      val summed = contribs.groupBy(col("id")).agg(sum(col("c")).as("sc"))
      val dangling = danglingIds.join(ranks, Seq("id"))
        .agg(coalesce(sum(col("rank").cast("decimal(28,12)")),
          lit(0).cast("decimal(28,12)")).as("dm"))
      ranks = nodes.select(col("id"))
        .join(summed, Seq("id"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("id"),
          round(lit((1.0 - damping) / n) + lit(damping) *
            (coalesce(col("sc").cast("double"), lit(0.0)) +
             col("dm").cast("double") / n), 12).as("rank"))
      if (i % CheckpointEvery == 0) ranks = ranks.localCheckpoint()
    }
    ranks
  }

  /** q110's deterministic link synthesis over the documents corpus:
    * every doc outside the `%17` dangling set links to two arithmetic
    * targets mod the id range (targets semi-joined against real ids —
    * no edge may point outside the graph), DISTINCT (the two rules can
    * coincide). The `%17` docs have NO out-links, so the dangling
    * branch is exercised, not just implemented. */
  def syntheticLinks(nodes: DataFrame, mx: Long): DataFrame = {
    val src = nodes.filter(col("id") % 17 =!= 0)
    val e = src.select(col("id").as("src"), ((col("id") * 7 + 13) % (mx + 1)).as("dst"))
      .unionByName(src.select(col("id").as("src"),
        ((col("id") * 31 + 101) % (mx + 1)).as("dst")))
    e.join(nodes.select(col("id").as("dst")), Seq("dst"), "left_semi").distinct()
  }

  /** Per-node triangle counts over an undirected edge list — the
    * clustering/community signal (a node's triangle count is the core
    * of its clustering coefficient; corpus-side it flags tightly
    * interlinked boilerplate families the PageRank prior misses).
    *
    * The scale problem is wedge explosion: joining edges on their
    * shared endpoint generates deg(u)² wedges at u, and one celebrity
    * node with deg 10⁶ means 10¹² wedges. The classic fix (degree
    * ordering / forward counting — Chiba & Nishizeki 1985, the
    * MapReduce form in Suri & Vassilvitskii WWW 2011): orient every
    * edge from its lower-(deg, id) endpoint to the higher one. Every
    * out-degree in the oriented graph is then O(√E), wedge volume is
    * Σ outdeg(u)² ≤ E^1.5 worst-case regardless of skew, and each
    * triangle appears exactly once (at its lowest-order apex) — no
    * dedup pass. Three shuffles total: degrees, the wedge self-join,
    * the closing-edge semi check.
    *
    * Input edges may be directed/duplicated/self-looped; they are
    * normalized to simple undirected form first. */
  def triangleCounts(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val und = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val deg = und.select(col("a").as("id"))
      .unionAll(und.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    // orient a→b iff (deg(a), a) < (deg(b), b): total order, so exactly
    // one direction survives per edge
    val withDeg = und
      .join(deg.select(col("id").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("id").as("b"), col("deg").as("db")), Seq("b"))
    val oriented = withDeg.select(
      when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("u"), col("b").as("v")))
        .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
    // wedges at the lowest-order apex u; (v, w) ordered by the SAME
    // total order via the oriented closing edge, so each triangle is
    // one (u, v, w) row
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.u") === col("e2.u") && col("e1.v") =!= col("e2.v"))
      .select(col("e1.u").as("u"), col("e1.v").as("x"), col("e2.v").as("y"))
    val tri = wedges.join(
        oriented.select(col("u").as("x"), col("v").as("y")), Seq("x", "y"))
      .select(col("u"), col("x").as("v"), col("y").as("w"))
    val perNode = tri.select(col("u").as("id"))
      .unionAll(tri.select(col("v").as("id")))
      .unionAll(tri.select(col("w").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("n_triangles"))
    nodes.join(perNode, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }

  /** q114's deterministic community graph: docs link to the next 1, 2
    * and 3 ids inside their 25-doc block — offsets {1,2,3} close
    * (1+2=3 and 1+1=2) so interior nodes sit in several triangles,
    * block edges in none (the %17 arithmetic graph of q110 is
    * triangle-free, measured — useless for this query). */
  def communityLinks(nodes: DataFrame): DataFrame = {
    val offs = Seq(1L, 2L, 3L)
    offs.map { o =>
      nodes.select(col("id").as("src"), (col("id") + o).as("dst"))
        .filter(expr("src DIV 25") === expr("dst DIV 25"))
    }.reduce(_.unionByName(_))
      .join(nodes.select(col("id").as("dst")), Seq("dst"), "left_semi")
  }

  /** q114: per-doc triangle counts over the community graph (0 for
    * triangle-free docs — total over the corpus, the q51 rule). */
  def q114TriangleCount(s: SparkSession, dir: String): DataFrame = {
    val nodes = Tables.documents(s, dir).select(col("doc_id").as("id"))
    triangleCounts(nodes, communityLinks(nodes))
      .select(col("id").as("doc_id"), col("n_triangles"))
      .orderBy(col("doc_id"))
  }

  /** q110: 3-round PageRank over the synthesized doc link graph,
    * oracle-ordered. Mass conservation (ranks sum to 1 within
    * rounding) is the built-in sanity check, asserted spec-side. */
  def q110PageRank(s: SparkSession, dir: String): DataFrame = {
    val nodes = Tables.documents(s, dir).select(col("doc_id").as("id"))
    val mx = nodes.agg(max(col("id"))).head().getLong(0)
    pageRank(nodes, syntheticLinks(nodes, mx), iters = 3)
      .select(col("id").as("doc_id"), col("rank"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic negative-edge sampling — the non-links a
    * link-prediction or graph-contrastive trainer pairs against the
    * true edges (the graph sibling of q71's BM25 hard negatives).
    * Per node: `attempts` pseudo-random candidate partners derived
    * from md5(id:j) mod |V| (pure id arithmetic — stable across runs,
    * engines and retries, the Splits rule), self-loops and TRUE edges
    * filtered out, first k survivors by attempt order kept.
    *
    * Scale shape: candidates are generated IN-ROW (|V|·attempts rows,
    * no join to produce them); node-validity is one semi join and the
    * true-edge filter one anti join, both on canonical (min, max) pair
    * keys; ranking is the bounded `top_k` aggregate, no window. A
    * hash collision can emit the same partner at two ranks — kept (a
    * trainer dedups per batch if it cares); dedup here would cost a
    * per-(node, partner) aggregate for cosmetics. */
  def negativeEdges(nodes: DataFrame, edges: DataFrame, k: Int,
                    attempts: Int): DataFrame = {
    val stats = nodes.agg(count(lit(1)).as("__n"), min(col("id")).as("__mn"))
    val cand = nodes.crossJoin(broadcast(stats))
      .select(col("id").as("src"),
        explode(transform(sequence(lit(1), lit(attempts)),
          j => struct(j.as("j"),
            (pmod(conv(substring(md5(concat(col("id").cast("string"),
              lit(":"), j.cast("string"))), 1, 8), 16, 10).cast("long"),
              col("__n")) + col("__mn")).as("cand")))).as("e"))
      .select(col("src"), col("e.j").as("j"), col("e.cand").as("cand"))
      .filter(col("cand") =!= col("src"))
      // candidate must be a real node (free when ids are contiguous,
      // load-bearing when they are not)
      .join(nodes.select(col("id").as("cand")), Seq("cand"), "left_semi")
    val survivors = cand
      .withColumn("__l", least(col("src"), col("cand")))
      .withColumn("__g", greatest(col("src"), col("cand")))
      .join(edges.select(col("src").as("__l"), col("dst").as("__g")),
        Seq("__l", "__g"), "left_anti")
    survivors.groupBy(col("src"))
      .agg(TopKPerGroup.topKColumn(-col("j"), col("cand"), k).as("top"))
      .select(col("src"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("src"), (col("pos") + 1).cast("long").as("rank"),
        col("e.id").as("neg_id"))
  }

  /** q132: 3 negatives per doc over the community graph (q114's edge
    * set, whose src < dst orientation IS the canonical pair key). */
  def q132NegativeEdges(s: SparkSession, dir: String): DataFrame = {
    val nodes = Tables.documents(s, dir).select(col("doc_id").as("id"))
    negativeEdges(nodes, communityLinks(nodes), k = 3, attempts = 8)
      .withColumnRenamed("src", "doc_id")
      .orderBy(col("doc_id"), col("rank"))
  }

  /** Synchronous label propagation (Raghavan et al. 2007, the
    * community-detection classic), made deterministic: every node
    * starts labeled with its own id; each round it adopts the MOST
    * FREQUENT label among its neighbors, ties broken by the SMALLEST
    * label, isolated nodes keep their own. Synchronous rounds + the
    * total tie order make round t a pure function of round t-1 — no
    * engine- or schedule-dependence (the async variant is famously
    * order-sensitive; it is exactly what an oracle cannot replay).
    *
    * Scale shape per round: ONE join of the static symmetrized edge
    * list against the current n-row label vector (shuffled on the
    * label side's id) and TWO hash aggregates — (node, label) counts,
    * then the per-node argmax via `max(struct(cnt, -label))` (a 2-long
    * struct max, no window, no per-node sort). O(E) rows per round,
    * nothing driver-side. Lineage truncates every `CheckpointEvery`
    * rounds (the [[pageRank]] rule). */
  def labelPropagation(nodes: DataFrame, edges: DataFrame,
                       iters: Int): DataFrame = {
    require(iters >= 1, "need at least one iteration")
    val und = edges.filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    var labels = nodes.select(col("id"), col("id").as("label"))
    for (i <- 1 to iters) {
      val counts = und
        .join(labels.select(col("id").as("dst"), col("label")), Seq("dst"))
        .groupBy(col("src"), col("label")).agg(count(lit(1)).as("cnt"))
      val best = counts.groupBy(col("src").as("id"))
        .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("b"))
        .select(col("id"), (-col("b.nl")).as("next"))
      labels = labels.join(best, Seq("id"), "left")
        .select(col("id"), coalesce(col("next"), col("label")).as("label"))
      if (i % CheckpointEvery == 0) labels = labels.localCheckpoint()
    }
    labels
  }

  /** q178: 3 synchronous label-propagation rounds over the q114
    * community graph — per-doc community label plus the community size
    * (a second bounded aggregate over the final n-row label vector).
    * The blocks give real convergence structure (interior nodes pull
    * toward the block head) while the deterministic tie rule keeps the
    * oracle an exact 3-round SQL unroll. */
  def q178LabelPropagation(s: SparkSession, dir: String): DataFrame = {
    val nodes = Tables.documents(s, dir).select(col("doc_id").as("id"))
    val labels = labelPropagation(nodes, communityLinks(nodes), iters = 3)
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("community_size"))
    labels.join(sizes, Seq("label"))
      .select(col("id").as("doc_id"), col("label").as("community"),
        col("community_size"))
      .orderBy(col("doc_id"))
  }
}
