package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** SQL views over the test tables (TESTDATA.md) for the specs that check
  * the engine's operators compose as plain `spark.sql` views: lazy plans
  * that run no job and plant no cache entry at registration, and agree
  * with the Scala-API calls they wrap. */
object TestViews {

  /** Register the star-schema test tables (TESTDATA.md) for SQL use. */
  def openTestTables(spark: SparkSession, sfDir: String): Unit = {
    GraftExtensions.register(spark)
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet").createOrReplaceTempView(t)
    }
    // events goes through the normalizing reader: SQL sees the same
    // epoch-nanos LongType `ts` the engine queries do, whichever
    // parquet timestamp encoding the table shipped with (Tables.events)
    Tables.events(spark, sfDir).createOrReplaceTempView("events")
  }

  /** Expose the dedup/similarity PIPELINES to SQL — the Athena-style
    * user's path to the extension operators, not just the scalar
    * functions. Each view is a lazy logical plan over the registered
    * base tables: nothing materializes until queried, and a query's own
    * predicates/projections compose into the plan (Catalyst prunes and
    * pushes down through views), so `SELECT ... FROM near_dup_pairs
    * WHERE cos > 0.9` plans exactly like the Scala-API call.
    *
    *  - `doc_shingles(doc_id, shingle)`   — word-3-gram shingle set
    *  - `jaccard_pairs(d1, d2, n_common, jaccard)` — capped n-gram Jaccard ≥ 0.5
    *  - `minhash_pairs(d1, d2, jaccard)`  — MinHash+LSH candidates, exact-verified
    *  - `near_dup_pairs(d1, d2, cos)`     — banded-LSH embedding near-dups
    *  - `ann_neighbors(query_id, rank, neighbor_id, cos)` — multi-probe LSH top-10
    *  - `bm25_scores(doc_id, n_tokens, n_hit_terms, score)` — q58 default query
    *  - `data_card(source, …)`            — q67 per-source release datasheet
    *  - `source_divergence(source, …)`    — q69 unigram KL vs the corpus pool
    *  - `substring_dup_spans(doc_id, …)`  — q70 duplicated-char spans/fractions
    *  - `hard_negatives(query_id, rank, doc_id, score)` — q71 negative mining
    *  - `leakage_split(doc_id, split, n_eval_partners, keep)` — q72 quarantine
    *  - `event_funnel` / `retention_cohorts` / `length_quantiles` —
    *    q85/q86/q88 analytics (sfDir overload)
    *  - `random_projection(vec_id, scale, proj)` — q92 JL coordinates
    *  - `semantic_decontamination(vec_id, …, quarantined)` — q93 verdicts
    *  - `preference_pairs` / `label_votes` — q123/q124 labeling
    *  - `normalized_dup_groups(norm_md5, …)` — raw-text normalized dedup
    *  - `split_balance(source, …, chi2, flagged)` — q126 audit
    *  - `embedding_dim_stats` / `embedding_outliers` — q127 z-scores
    *  - `hashed_features(doc_id, bucket, n)` — q129 hashing trick
    *  - plus (materialized tier): `pq_neighbors`, `semantic_dedup_drops`,
    *    `token_budget_cut`, `bpe_token_counts`, `token_ids`,
    *    `tokenizer_fertility`, `quality_scores`, `cluster_sample`,
    *    `daily_rollup`, `user_ewma`
    */
  def registerPipelineViews(spark: SparkSession, sfDir: String): Unit = {
    registerPipelineViews(spark, Tables.documents(spark, sfDir),
      Tables.embeddings(spark, sfDir))
    // event/corpus analytics views — pure lazy plans like the rest
    // (chained aggregates and an aggregated-histogram window; no
    // training, no collect)
    graft.queries.Relational.q85EventFunnel(spark, sfDir)
      .createOrReplaceTempView("event_funnel")
    graft.queries.Relational.q86RetentionCohorts(spark, sfDir)
      .createOrReplaceTempView("retention_cohorts")
    graft.ops.TextAnalysis.q88LengthQuantiles(spark, sfDir)
      .createOrReplaceTempView("length_quantiles")
    // round-8 wave 5: the JL-projected vector table (the sign matrix is
    // derived driver-side arithmetic, no job) and the embedding-space
    // decontamination verdicts — both pure lazy plans
    graft.ops.Projection.q92RandomProjection(spark, sfDir)
      .createOrReplaceTempView("random_projection")
    graft.ops.Similarity.q93SemanticDecontamination(spark, sfDir)
      .createOrReplaceTempView("semantic_decontamination")
    // the budget-vs-availability plan — windows run over a ≤|langs|-row
    // aggregate, so the view stays a cheap lazy plan
    graft.ops.Mixing.q95MixtureAllocation(spark, sfDir)
      .createOrReplaceTempView("mixture_allocation")
    // round-8 wave 6: the dense/filled and anomaly-scored hourly
    // series, and the k-anonymous release — all lazy window/aggregate
    // plans over the events view's grain (skew-bounded by the hourly
    // grain itself, see TimeSeries scaladoc)
    graft.ops.TimeSeries.hourlyGapFill(Tables.events(spark, sfDir))
      .createOrReplaceTempView("hourly_filled")
    graft.ops.TimeSeries.hourlyAnomalies(Tables.events(spark, sfDir))
      .createOrReplaceTempView("hourly_anomalies")
    graft.ops.Privacy.kAnonymousRelease(Tables.events(spark, sfDir), 50)
      .createOrReplaceTempView("k_anon_release")
    // round-8 wave 11 event-grain views: the growth-accounting daily
    // decomposition and the merged-partial trailing distincts — lazy
    // hash-join/aggregate plans over the distinct (user, day/hour)
    // frames (skew-bounded by the calendar grain)
    graft.ops.TimeSeries.growthAccounting(Tables.events(spark, sfDir))
      .createOrReplaceTempView("growth_accounting")
    graft.ops.KmvSketch.trailingDistinct(Tables.events(spark, sfDir),
        windowHours = 24, k = 128)
      .createOrReplaceTempView("trailing_distinct_users")
    // round-8 wave 12: the per-event-type A/B read (hash-assigned
    // variants, Welch z) — two hash aggregates + a 1-row broadcast,
    // trivially lazy. The q141 sketch STORE is not a view by design:
    // it materializes files (the q107 rule — maintenance paths are
    // declared queries, not session views).
    graft.ops.Experiment.abTest(Tables.events(spark, sfDir))
      .createOrReplaceTempView("ab_test")
    // round-8 wave 7: activity-window overlaps, the behavioral
    // transition matrix, co-occurring part pairs, exact near-dup pairs
    // and per-doc triangle counts — all lazy join/aggregate plans (the
    // prefix-filter join's df ordering and the triangle orientation are
    // plan-internal aggregates, not session-init work)
    graft.ops.RangeJoin.q111IntervalOverlap(spark, sfDir)
      .createOrReplaceTempView("interval_overlaps")
    graft.ops.TimeSeries.q115MarkovTransitions(spark, sfDir)
      .createOrReplaceTempView("markov_transitions")
    graft.ops.Baskets.q116FrequentPairs(spark, sfDir)
      .createOrReplaceTempView("frequent_pairs")
    graft.ops.SetSimilarity.q113ExactJaccard(spark, sfDir)
      .createOrReplaceTempView("exact_jaccard_pairs")
    graft.ops.Graph.q114TriangleCount(spark, sfDir)
      .createOrReplaceTempView("triangle_counts")
    graft.ops.Clustering.q119CentroidCosines(spark, sfDir)
      .createOrReplaceTempView("centroid_cosines")
    // round-8 wave 9: journey paths, per-user trend and graph negative
    // samples — lazy window/aggregate/join plans (q131's corpus-start
    // min and q132's |V| count ride broadcast 1-row subqueries, not
    // construction-time jobs)
    graft.ops.TimeSeries.q130SessionPaths(spark, sfDir)
      .createOrReplaceTempView("session_paths")
    graft.ops.TimeSeries.q131TrendSlope(spark, sfDir)
      .createOrReplaceTempView("user_trend")
    graft.ops.Graph.q132NegativeEdges(spark, sfDir)
      .createOrReplaceTempView("negative_edges")
  }

  /** The frame-based core: given already-read base tables, registration
    * is strictly metadata-only — it runs ZERO Spark jobs
    * (QuerySessionSpec asserts this), so session startup can never stall
    * or fail on view construction. The `sfDir` overload above pays only
    * the two parquet footer reads. */
  def registerPipelineViews(spark: SparkSession, docs: DataFrame,
                            emb: DataFrame): Unit = {
    import graft.ops.{Dedup, Pin}
    Dedup.shingles(docs, 3).withColumnRenamed("g", "shingle")
      .createOrReplaceTempView("doc_shingles")
    Dedup.jaccardPairs(docs, 3, 0.5, maxDocFreq = 50L, pin = Pin.Off)
      .createOrReplaceTempView("jaccard_pairs")
    Dedup.minhashLshPairs(docs, pin = Pin.Off)
      .createOrReplaceTempView("minhash_pairs")
    graft.ops.Similarity.nearDupPairs(emb, 0.45, pin = Pin.Off)
      .createOrReplaceTempView("near_dup_pairs")
    graft.ops.TextAnalysis.filterVerdicts(docs)
      .orderBy(org.apache.spark.sql.functions.col("doc_id"))
      .createOrReplaceTempView("filter_verdicts")
    // explicit heavyAt (routing only — results don't depend on it)
    // keeps this view's construction job-free like the rest
    graft.ops.TextAnalysis.crossDocRepetition(docs,
        heavyAt = 1000L, pin = Pin.Off)
      .createOrReplaceTempView("crossdoc_repetition")
    // round-7 surface: chunk inventory, scrubbed-text fingerprints,
    // per-source quota picks, weighted epoch draw
    graft.ops.Chunking.chunk(docs, 64, 48)
      .createOrReplaceTempView("doc_chunks")
    graft.ops.Privacy.piiScan(docs, org.apache.spark.sql.functions.col("text"))
      .drop("text", "redacted")
      .createOrReplaceTempView("pii_scan")
    graft.ops.Selection.sourceQuota(docs, 50)
      .createOrReplaceTempView("source_quota_picks")
    graft.ops.Mixing.weightedSample(docs, 100)
      .createOrReplaceTempView("weighted_epoch_sample")
    // scan-time BM25 against the q58 default query — lazy like the
    // rest (the scorer's broadcasts materialize only when queried); a
    // custom query string is a Scala-API call (Retrieval.bm25TopK) or a
    // standing posting-list layout (writePostingsBucketed)
    graft.ops.Retrieval.bm25TopK(docs,
        Seq("spark", "vector", "merge", "window"), 20)
      .createOrReplaceTempView("bm25_scores")
    // round-8 surface: the release datasheet — a lazy aggregate plan
    // (Par.widen decides from the logical plan, so this stays job-free
    // like the shingle views)
    graft.ops.DataCard.dataCard(docs)
      .createOrReplaceTempView("data_card")
    // round-8 wave 2: per-source KL divergence, char-level dup spans
    // and the leakage-safe split — pure lazy plans (no collect/train
    // anywhere in their dataflows); hard_negatives lives in the
    // materialized tier (its bounded result is collected so its caches
    // can be released, the q28 pattern)
    graft.ops.Mixing.sourceDivergence(docs)
      .createOrReplaceTempView("source_divergence")
    Dedup.substringDupStats(docs, 20)
      .createOrReplaceTempView("substring_dup_spans")
    Dedup.leakageSafeSplit(docs, pin = Pin.Off)
      .createOrReplaceTempView("leakage_split")
    Dedup.sourceOverlap(docs, pin = Pin.Off)
      .createOrReplaceTempView("source_overlap")
    Dedup.sourceDiversity(docs)
      .createOrReplaceTempView("source_diversity")
    // round-8 wave 3: the q82 rewrite next to the q70 measurement —
    // a pure lazy plan (span detection + one codegen'd fold)
    Dedup.spanRemoved(docs, 20)
      .createOrReplaceTempView("span_removed")
    // round-8 wave 6: the canonical-URL projection (q101's synthesized
    // fixture urls; a real deployment maps a url column) — a narrow
    // codegen'd map, trivially lazy
    locally {
      import org.apache.spark.sql.functions.col
      val u = graft.ops.Web.syntheticUrl(col("doc_id"), col("source"), col("lang"))
      docs.select(col("doc_id"), u.as("url_raw"),
          graft.ops.Web.canonicalizeUrl(u).as("canonical_url"),
          graft.ops.Web.registeredDomain(graft.ops.Web.canonicalHost(u)).as("domain"),
          graft.ops.Web.hasTracking(u).as("had_tracking"))
        .createOrReplaceTempView("url_canonical")
    }
    // round-8 wave 8: labeling, normalization dedup, split audit,
    // standardization and hashed features over the base frames — pure
    // lazy plans (windowless bounded top-k, hash aggregates, one
    // broadcast stats subquery for the z-scores; nothing collects
    // here). user_ewma is NOT here: trailingEwma's adaptive hot-key
    // gate collects its diagnosis aggregate, so it lives in the
    // materialized tier with the other construction-time-job views.
    // normalized_dup_groups keys the RAW text (a session user dedups
    // their own corpus, not q125's planted dirty renderings).
    locally {
      import org.apache.spark.sql.functions.col
      graft.ops.Labeling.preferencePairs(docs)
        .createOrReplaceTempView("preference_pairs")
      graft.ops.Labeling.labelVotes(docs)
        .createOrReplaceTempView("label_votes")
      graft.ops.Normalization.normalizedDupGroups(docs, "text", "doc_id")
        .createOrReplaceTempView("normalized_dup_groups")
      graft.ops.Splits.balanceAudit(docs, "source", "doc_id")
        .withColumnRenamed("stratum", "source")
        .createOrReplaceTempView("split_balance")
      graft.ops.Standardize.dimStats(emb, "embedding")
        .createOrReplaceTempView("embedding_dim_stats")
      graft.ops.Standardize.outlierSummary(emb, "embedding", "vec_id")
        .createOrReplaceTempView("embedding_outliers")
      graft.ops.FeatureHash.hashedCounts(
        docs.withColumn("__toks", graft.ops.TextAnalysis.tokens(col("text"))),
        "doc_id", "__toks", dims = 64)
        .createOrReplaceTempView("hashed_features")
      // round-8 wave 10: collocations, horizon dedup, KMV ledger —
      // lazy plans.
      graft.ops.Collocations.pmiPairs(docs, "text", "doc_id", 48, 5L)
        .createOrReplaceTempView("pmi_collocations")
      graft.ops.Dedup.horizonNearDupPairs(docs, horizonDays = 7L, pin = Pin.Off)
        .createOrReplaceTempView("horizon_dedup_pairs")
      val kmv = graft.ops.KmvSketch.sketch(
        docs.select(col("source"),
          org.apache.spark.sql.functions.explode(
            graft.ops.TextAnalysis.tokens(col("text"))).as("t")),
        "source", "t", 128)
      kmv.withColumnRenamed("key", "source")
        .createOrReplaceTempView("kmv_sketches")
      // round-8 wave 11: sketch-derived overlap profile (the KMV-based
      // sibling of the shingle-exact source_overlap view — this one's
      // pair stage reads only the |sources|-row sketch frame), kappa,
      // containment — all lazy plans (the event-grain wave-11 views
      // live in the sfDir overload with the other events views)
      graft.ops.KmvSketch.overlapMatrix(kmv, 128)
        .createOrReplaceTempView("kmv_source_overlap")
      graft.ops.Labeling.annotatorKappa(docs)
        .createOrReplaceTempView("annotator_kappa")
      graft.ops.Dedup.containmentPairs(docs, threshold = 0.6, pin = Pin.Off)
        .createOrReplaceTempView("containment_pairs")
    }
  }

  /** The views whose CONSTRUCTION must run Spark jobs — model training
    * (q47's IVF tuner, q64's PQ codebooks), query-vector collection
    * (ann_neighbors/pq_neighbors) or a bounds scan (token_budget_cut's
    * id range). Kept out of [[registerPipelineViews]] so plain session
    * setup stays metadata-only (a failure here can't break startup, and
    * nobody pays k-means for views they never query); call this when the
    * session actually wants the ANN/selection surface in SQL. */
  def registerMaterializedViews(spark: SparkSession, sfDir: String): Unit = {
    val docs = Tables.documents(spark, sfDir)
    graft.ops.Similarity.q29LshTopK(spark, sfDir)
      .createOrReplaceTempView("ann_neighbors")
    graft.ops.Quantize.q47SemanticDedup(spark, sfDir)
      .createOrReplaceTempView("semantic_dedup_drops")
    graft.ops.Selection.tokenBudget(docs, 20000L)
      .createOrReplaceTempView("token_budget_cut")
    graft.ops.ProductQuantization.q64PqAnn(spark, sfDir)
      .createOrReplaceTempView("pq_neighbors")
    // trains the BPE merge rules (bounded driver-side loop) — the
    // trainer-true token counts next to the whitespace ones, plus the
    // per-language fertility rollup over the same (deterministically
    // retrained) rules
    graft.ops.Bpe.q65BpeTokens(spark, sfDir)
      .createOrReplaceTempView("bpe_token_counts")
    graft.ops.Bpe.q87TokenizerFertility(spark, sfDir)
      .createOrReplaceTempView("tokenizer_fertility")
    // q91: same bounded training, then the id sequences themselves —
    // the table a trainer-side loader would SELECT from
    graft.ops.Bpe.q91TokenIds(spark, sfDir)
      .createOrReplaceTempView("token_ids")
    // trains the q68 logistic scorer (15 aggregate jobs over a cached
    // feature frame) and freezes the weights into a scoring view,
    // plus its q97 reliability-calibration rollup
    graft.ops.QualityModel.q68QualityModel(spark, sfDir)
      .createOrReplaceTempView("quality_scores")
    graft.ops.QualityModel.q97QualityCalibration(spark, sfDir)
      .createOrReplaceTempView("quality_calibration")
    // q71: bounded (k × |queries|) result, collected so the op can
    // release its caches — eager by design, so it lives here
    graft.ops.Retrieval.q71HardNegatives(spark, sfDir)
      .createOrReplaceTempView("hard_negatives")
    // q128: the adaptive hot-key gate runs (and collects) its diagnosis
    // aggregate at construction — a job, so this tier (wave-8 note in
    // registerPipelineViews)
    graft.ops.TimeSeries.q128Ewma(spark, sfDir)
      .createOrReplaceTempView("user_ewma")
    // q81: trains k-means on a bounded sample (driver-side Lloyd's) and
    // persists the centroid table — training jobs put it in this tier.
    graft.ops.Clustering.q81EmbeddingClusters(spark, sfDir)
      .createOrReplaceTempView("embedding_clusters")
    // q83: same training cost, stratum-balanced draw on top
    graft.ops.Clustering.q83ClusterSample(spark, sfDir)
      .createOrReplaceTempView("cluster_sample")
    // q94: trains its own centroids, then one tiny labeled aggregate
    graft.ops.Clustering.q94ClusterPurity(spark, sfDir)
      .createOrReplaceTempView("cluster_purity")
    // q84: materializes the hourly partials store (two write jobs) and
    // serves the daily rollup from it
    graft.ops.Rollup.q84RollupMaintenance(spark, sfDir)
      .createOrReplaceTempView("daily_rollup")
  }
}
