package graft

import java.nio.file.Files
import graft.etl.ExportJob

/** The Athena-replacement surface: SQL over the exported log layout with
  * the custom functions registered. */
class QuerySessionSpec extends SparkSpec {

  test("SQL over exported logs: custom functions + partition pruning") {
    val base = Files.createTempDirectory("graft-qs").toFile.getAbsolutePath
    val src = s"$base/in"; val dst = s"$base/out"
    new java.io.File(src).mkdirs()
    Files.write(java.nio.file.Paths.get(s"$src/2021-07-18-05-00-12-AAAA"),
      (Fixtures.happyLine + "\n" + Fixtures.dashLine).getBytes)
    ExportJob.runHour(spark, src, dst, s"$base/track", "2021-07-18-05")

    QuerySession.open(spark, dst, "logs")
    val r = spark.sql(
      """SELECT key, ipv4_to_long(remoteip) AS ip_int, bytessent
        |FROM logs
        |WHERE operation = 'REST.GET.OBJECT' AND year = 2021 AND hour = 5
        |  AND httpstatus = '200'""".stripMargin).collect()
    assert(r.length == 1)
    assert(r(0).getAs[Long]("ip_int") == 3221225987L)
    assert(r(0).getAs[Long]("bytessent") == 2662992L)

    // tokenizer callable from SQL
    val toks = spark.sql(
      "SELECT tokenize_s3_log('a \"b c\" [d e] f') AS t").collect()(0)
      .getSeq[String](0)
    assert(toks == Seq("a", "b c", "d e", "f"))

    // remoteip_int range predicate benefits from the row-group clustering
    val cidr = spark.sql(
      """SELECT count(*) FROM logs
        |WHERE remoteip_int BETWEEN ipv4_to_long('192.0.2.0') AND ipv4_to_long('192.0.2.255')
        |""".stripMargin).collect()(0).getLong(0)
    assert(cidr == 1L)
  }

  test("register makes every engine SQL function resolvable") {
    GraftExtensions.register(spark)
    val names = GraftExtensions.functions.map(_._1.funcName)
    assert(names.size == 17 && names.distinct.size == 17)
    names.foreach(n => assert(spark.catalog.functionExists(n), n))
  }

  test("top_k callable from SQL matches the window formulation") {
    GraftExtensions.register(spark)
    val viaSql = spark.sql(
      """SELECT o_custkey, e.id AS o_orderkey, e.score AS price
        |FROM (
        |  SELECT o_custkey, top_k(CAST(o_totalprice AS DOUBLE), o_orderkey, 3) AS top
        |  FROM parquet.`/root/testdata/sf0.001/orders.parquet`
        |  GROUP BY o_custkey
        |) LATERAL VIEW explode(top) AS e""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaWindow = graft.queries.Relational
      .q06TopOrdersPerCustomer(spark, "/root/testdata/sf0.001")
      .select("o_custkey", "o_orderkey")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaSql == viaWindow)
  }

  test("standing pipeline views plant no CacheManager entry") {
    // the zero-jobs assertion below cannot see this: a view that drops
    // Pin.Off falls back to the lazy Pin.Cache default, which runs no
    // job but leaves an entry nothing in a session ever releases
    val dir = "/root/testdata/sf0.001"
    spark.catalog.clearCache()
    TestViews.registerPipelineViews(spark,
      Tables.documents(spark, dir), Tables.embeddings(spark, dir))
    assert(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty)
  }

  test("dedup/similarity pipelines reachable purely via spark.sql") {
    val dir = "/root/testdata/sf0.001"
    TestViews.openTestTables(spark, dir)
    // pipeline-view registration over already-read tables must be
    // metadata-only: ZERO Spark jobs (the ADVICE r7 session-startup
    // finding — view construction used to train k-means and checkpoint
    // corpus-scale frames at init)
    val docs = Tables.documents(spark, dir)
    val emb = Tables.embeddings(spark, dir)
    val jobsBefore = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    TestViews.registerPipelineViews(spark, docs, emb)
    val jobsAfter = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(jobsAfter == jobsBefore,
      s"registerPipelineViews ran ${jobsAfter - jobsBefore} Spark job(s)")
    TestViews.registerPipelineViews(spark, dir) // + event analytics views
    TestViews.registerMaterializedViews(spark, dir)

    // the event-analytics views are total and internally consistent
    val ev = spark.sql(
      """SELECT (SELECT count(*) FROM event_funnel) =
        |       (SELECT count(DISTINCT user_id) FROM events)
        |   AND (SELECT count(*) FROM event_funnel
        |        WHERE stage NOT BETWEEN 0 AND 3) = 0
        |   AND (SELECT count(*) FROM retention_cohorts
        |        WHERE day_offset = 0 AND n_active <> n_cohort) = 0
        |   AND (SELECT count(*) FROM retention_cohorts) > 0
        |   AND (SELECT count(*) FROM length_quantiles
        |        WHERE p50 IS NULL OR p50 > p90 OR p90 > p99) = 0
        |   AND (SELECT count(*) FROM length_quantiles) > 0
        |   AND (SELECT count(*) FROM tokenizer_fertility
        |        WHERE fertility < 1.0) = 0""".stripMargin)
      .collect()(0).getBoolean(0)
    assert(ev, "event_funnel/retention_cohorts/length_quantiles/fertility malformed")

    // near-dup pairs joined back to base tables, all in SQL — the
    // Athena-style user's workflow over the extension operators
    val sqlPairs = spark.sql(
      """SELECT p.d1, p.d2, p.cos
        |FROM near_dup_pairs p
        |JOIN embeddings e1 ON p.d1 = e1.vec_id
        |WHERE p.cos >= 0.45
        |ORDER BY p.d1, p.d2""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val apiPairs = graft.ops.Similarity.nearDupPairs(
        Tables.embeddings(spark, dir), 0.45).collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"))).toSet
    assert(sqlPairs == apiPairs && sqlPairs.nonEmpty)

    // MinHash candidates and the shingle front end answer too
    val mh = spark.sql("SELECT count(*) FROM minhash_pairs WHERE jaccard >= 0.5")
      .collect()(0).getLong(0)
    assert(mh > 0)
    val sh = spark.sql(
      "SELECT count(DISTINCT shingle) FROM doc_shingles WHERE doc_id < 10")
      .collect()(0).getLong(0)
    assert(sh > 0)

    // semantic-dedup drop decisions, and the native int_dot function,
    // are SQL-reachable too
    val drops = spark.sql(
      "SELECT count(*) FROM semantic_dedup_drops WHERE keeper_id < vec_id")
      .collect()(0).getLong(0)
    assert(drops > 0)
    val dot = spark.sql("SELECT int_dot(array(1L, 2L, 3L), array(4L, 5L, 6L))")
      .collect()(0).getLong(0)
    assert(dot == 32L)
    val ann = spark.sql(
      "SELECT count(*) FROM ann_neighbors WHERE rank <= 10").collect()(0).getLong(0)
    assert(ann == 50L)

    // the selection/quality views: assemble a training set in ONE SQL
    // statement — budget-selected docs that also pass the filter pipeline
    // and aren't boilerplate
    val kept = spark.sql(
      """SELECT count(*) FROM token_budget_cut b
        |JOIN filter_verdicts f USING (doc_id)
        |JOIN crossdoc_repetition r USING (doc_id)
        |WHERE b.selected AND f.keep AND r.shared_frac < 0.9""".stripMargin)
      .collect()(0).getLong(0)
    assert(kept > 0)

    // the round-7 views: chunk inventory of clean long docs, scrub
    // fingerprints, quota picks and the weighted epoch draw — composable
    // in one statement like any warehouse table
    val chunks = spark.sql(
      """SELECT count(*) FROM doc_chunks c
        |JOIN pii_scan p USING (doc_id)
        |WHERE c.chunk_len = 64 AND p.n_emails = 0""".stripMargin)
      .collect()(0).getLong(0)
    assert(chunks > 0)
    val drawn = spark.sql(
      """SELECT count(*) FROM weighted_epoch_sample w
        |JOIN source_quota_picks q USING (doc_id, source)""".stripMargin)
      .collect()(0).getLong(0)
    assert(drawn > 0, "no weighted-sample doc appears among quota picks")
    val pqn = spark.sql(
      "SELECT count(*) FROM pq_neighbors WHERE rank <= 10").collect()(0).getLong(0)
    assert(pqn == 50L, s"PQ ANN view returned $pqn rows")

    // round-8 views: BM25 retrieval parity with the Scala API, and
    // trainer-true token counts joined against the whitespace ones
    val sqlBm25 = spark.sql(
      """SELECT b.doc_id, b.score FROM bm25_scores b
        |JOIN documents d USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val apiBm25 = graft.ops.Retrieval.bm25TopK(
        Tables.documents(spark, dir),
        Seq("spark", "vector", "merge", "window"), 20)
      .select("doc_id", "score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(sqlBm25 == apiBm25 && sqlBm25.nonEmpty)
    val bpe = spark.sql(
      """SELECT count(*) FROM bpe_token_counts
        |WHERE n_bpe_tokens < n_ws_tokens""".stripMargin)
      .collect()(0).getLong(0)
    assert(bpe == 0L, "BPE must never count fewer tokens than whitespace")

    // round-8 wave 2 views: cross-view invariants a warehouse user
    // could rely on, each stated purely in SQL
    val kl = spark.sql(
      "SELECT count(*) FROM source_divergence WHERE kl_nats >= 0.0")
      .collect()(0).getLong(0)
    assert(kl > 0, "KL(source‖corpus) must be defined and non-negative")
    val spans = spark.sql(
      "SELECT count(*) FROM substring_dup_spans WHERE dup_chars > n_chars")
      .collect()(0).getLong(0)
    assert(spans == 0L, "a doc cannot have more duplicated chars than chars")
    val hn = spark.sql(
      """SELECT count(*) FROM hard_negatives h
        |JOIN minhash_pairs p
        |  ON (h.query_id = p.d1 AND h.doc_id = p.d2)
        |  OR (h.query_id = p.d2 AND h.doc_id = p.d1)""".stripMargin)
      .collect()(0).getLong(0)
    assert(hn == 0L, "a near-dup partner leaked into the hard negatives")
    val leak = spark.sql(
      "SELECT count(*) FROM leakage_split WHERE NOT keep AND split <> 'train'")
      .collect()(0).getLong(0)
    assert(leak == 0L, "only train docs may be quarantined")
    // the provenance diagnostics agree with the pair view they derive
    // from, and diversity ratios are well-formed
    val mx = spark.sql(
      """SELECT (SELECT CAST(COALESCE(SUM(n_pairs), 0) AS BIGINT) FROM source_overlap)
        |     = (SELECT COUNT(*) FROM minhash_pairs)""".stripMargin)
      .collect()(0).getBoolean(0)
    assert(mx, "source_overlap cells must sum to the pair count")
    val dv = spark.sql(
      """SELECT count(*) FROM source_diversity
        |WHERE distinct_ratio < 0 OR distinct_ratio > 1
        |   OR n_distinct > n_grams""".stripMargin)
      .collect()(0).getLong(0)
    assert(dv == 0L, "diversity ratios out of range")

    // round-8 wave 3 views: the q82 rewrite agrees with the q70
    // measurement it shares a span core with, and the q81 clustering is
    // total over the embeddings with well-formed assignments
    val rw = spark.sql(
      """SELECT count(*) FROM span_removed r
        |JOIN substring_dup_spans s USING (doc_id)
        |WHERE r.clean_chars + r.removed_chars <> r.n_chars
        |   OR r.removed_chars <> s.dup_chars""".stripMargin)
      .collect()(0).getLong(0)
    assert(rw == 0L, "span_removed disagrees with substring_dup_spans")
    val cl = spark.sql(
      """SELECT (SELECT count(*) FROM embedding_clusters) =
        |       (SELECT count(*) FROM embeddings)
        |   AND (SELECT count(*) FROM embedding_clusters
        |        WHERE cluster < 0 OR cluster >= 8 OR sq_dist < 0) = 0
        |   AND (SELECT count(DISTINCT cluster) FROM embedding_clusters) >= 2""".stripMargin)
      .collect()(0).getBoolean(0)
    assert(cl, "embedding_clusters not total or malformed")
    // the cluster-balanced sample draws only assigned vectors, ranks
    // contiguously from 1, and never exceeds k per cluster
    val cs = spark.sql(
      """SELECT (SELECT count(*) FROM cluster_sample s
        |        LEFT JOIN embedding_clusters c USING (vec_id)
        |        WHERE c.vec_id IS NULL) = 0
        |   AND (SELECT count(*) FROM cluster_sample
        |        WHERE sample_rank < 1 OR sample_rank > 20) = 0
        |   AND (SELECT max(cnt) FROM (SELECT count(*) AS cnt
        |        FROM cluster_sample GROUP BY cluster)) <= 20""".stripMargin)
      .collect()(0).getBoolean(0)
    assert(cs, "cluster_sample malformed")
    // the rollup view reconciles with a direct SQL aggregate over events;
    // the day-count equality makes the check total (an inner join alone
    // would let a silently-dropped day pass)
    val ro = spark.sql(
      """SELECT (SELECT count(*) FROM daily_rollup r
        |   JOIN (SELECT ts DIV 86400000000000 AS day, count(*) AS n,
        |           CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sv
        |         FROM events GROUP BY 1) d USING (day)
        |   WHERE r.n_events <> d.n OR r.sum_value <> d.sv) = 0
        |  AND (SELECT count(*) FROM daily_rollup) =
        |      (SELECT count(DISTINCT ts DIV 86400000000000) FROM events)""".stripMargin)
      .collect()(0).getBoolean(0)
    assert(ro, "daily_rollup disagrees with (or doesn't cover) the direct aggregate")

    // round-8 wave 5 views: token-id sequences reconcile with the BPE
    // counts view (same retrained rules), the projected table is total
    // with the declared width, and semantic decontamination only ever
    // quarantines train vectors with a scoring partner
    val ti = spark.sql(
      """SELECT count(*) FROM token_ids t
        |JOIN bpe_token_counts b USING (doc_id)
        |WHERE t.n_tokens <> b.n_bpe_tokens""".stripMargin)
      .collect()(0).getLong(0)
    assert(ti == 0L, "token_ids length disagrees with bpe_token_counts")
    val rp = spark.sql(
      """SELECT (SELECT count(*) FROM random_projection) =
        |       (SELECT count(*) FROM embeddings)
        |   AND (SELECT count(*) FROM random_projection
        |        WHERE (CASE WHEN proj = '' THEN 0
        |               ELSE size(split(proj, ',')) END) NOT IN (0, 24)) = 0""".stripMargin)
      .collect()(0).getBoolean(0)
    assert(rp, "random_projection not total or wrong width")
    val sd = spark.sql(
      """SELECT (SELECT count(*) FROM semantic_decontamination
        |        WHERE quarantined AND (max_cos IS NULL OR max_cos < 0.45)) = 0
        |   AND (SELECT count(*) FROM semantic_decontamination
        |        WHERE NOT quarantined AND n_eval_partners > 0) = 0""".stripMargin)
      .collect()(0).getBoolean(0)
    assert(sd, "semantic_decontamination verdicts inconsistent")
    // purity is total over the clusters and bounded; the allocation view
    // conserves the budget (binding here: budget = 80% of availability)
    val cp = spark.sql(
      """SELECT (SELECT count(*) FROM cluster_purity
        |        WHERE n_top > n_vectors OR purity <= 0 OR purity > 1) = 0
        |   AND (SELECT CAST(sum(n_vectors) AS BIGINT) FROM cluster_purity) =
        |       (SELECT count(*) FROM embeddings)""".stripMargin)
      .collect()(0).getBoolean(0)
    assert(cp, "cluster_purity malformed or not total")
    val ma = spark.sql(
      """SELECT abs((SELECT sum(allocated) FROM mixture_allocation) -
        |           (SELECT max(budget) FROM mixture_allocation)) < 1e-6
        |   AND (SELECT count(*) FROM mixture_allocation
        |        WHERE allocated > n_avail + 1e-9) = 0""".stripMargin)
      .collect()(0).getBoolean(0)
    assert(ma, "mixture_allocation breaks conservation or caps")
    // calibration bins reconcile with the per-doc score view they share
    // a trained model with
    val qc = spark.sql(
      """SELECT (SELECT CAST(sum(n_docs) AS BIGINT) FROM quality_calibration) =
        |       (SELECT count(*) FROM quality_scores)
        |   AND (SELECT count(*) FROM quality_calibration
        |        WHERE keep_rate < 0 OR keep_rate > 1
        |           OR mean_score < CAST(bin AS DOUBLE) / 10 - 1e-9
        |           OR mean_score > CAST(bin + 1 AS DOUBLE) / 10 + 1e-9) = 0""".stripMargin)
      .collect()(0).getBoolean(0)
    assert(qc, "quality_calibration inconsistent with quality_scores")
  }

  test("wave-6 views: filled series, anomalies, k-anon release, canonical urls — cross-consistent in pure SQL") {
    val dir = "/root/testdata/sf0.001"
    TestViews.openTestTables(spark, dir)
    TestViews.registerPipelineViews(spark, dir)
    val ok = spark.sql(
      """SELECT
        |  -- filled series: active-hour event counts reconcile with raw
        |  (SELECT CAST(sum(n_events) AS BIGINT) FROM hourly_filled) =
        |    (SELECT count(*) FROM events)
        |  -- gaps carry a value and never carry events
        |  AND (SELECT count(*) FROM hourly_filled
        |       WHERE is_gap AND (n_events <> 0 OR filled_value IS NULL)) = 0
        |  -- spine is dense: per-user rows = span hours
        |  AND (SELECT count(*) FROM (
        |         SELECT user_id FROM hourly_filled GROUP BY user_id
        |         HAVING count(*) <> max(hour_idx) - min(hour_idx) + 1)) = 0
        |  -- anomaly view shares the hourly grain and values with the
        |  -- filled view's active hours
        |  AND (SELECT count(*) FROM hourly_anomalies a
        |       JOIN hourly_filled f USING (user_id, hour_idx)
        |       WHERE NOT f.is_gap AND a.value <> f.filled_value) = 0
        |  AND (SELECT count(*) FROM hourly_anomalies) =
        |      (SELECT count(*) FROM hourly_filled WHERE NOT is_gap)
        |  -- k-anon: suppressed cells release nothing, kept cells clear k
        |  AND (SELECT count(*) FROM k_anon_release
        |       WHERE suppressed AND (n_users IS NOT NULL
        |          OR n_events IS NOT NULL OR total_value IS NOT NULL)) = 0
        |  AND (SELECT count(*) FROM k_anon_release
        |       WHERE NOT suppressed AND n_users < 50) = 0
        |  -- canonical urls: no tracking params, fragments, or case noise
        |  -- survive; the fixture exercises the tracking branch
        |  AND (SELECT count(*) FROM url_canonical
        |       WHERE canonical_url LIKE '%utm%'
        |          OR canonical_url LIKE '%#%'
        |          OR canonical_url <> lower(canonical_url)) = 0
        |  AND (SELECT count(*) FROM url_canonical WHERE had_tracking) > 0
        |""".stripMargin)
      .collect()(0).getBoolean(0)
    assert(ok, "wave-6 views inconsistent")
  }

  test("wave-7 views: overlaps, transition matrix, frequent pairs, exact jaccard, triangles — cross-consistent in pure SQL") {
    val dir = "/root/testdata/sf0.001"
    TestViews.openTestTables(spark, dir)
    TestViews.registerPipelineViews(spark, dir)
    val ok = spark.sql(
      """SELECT
        |  -- overlaps are genuine: positive length, even-odd ids only
        |  (SELECT count(*) FROM interval_overlaps
        |   WHERE overlap_s < 0 OR a_id % 2 <> 0 OR b_id % 2 <> 1) = 0
        |  AND (SELECT count(*) FROM interval_overlaps) > 0
        |  -- transition matrix: rows per cur sum to 1, pair volume = n-1 per user
        |  AND (SELECT count(*) FROM (
        |         SELECT cur FROM markov_transitions GROUP BY cur
        |         HAVING abs(sum(p) - 1.0) > 1e-3)) = 0
        |  AND (SELECT CAST(sum(n) AS BIGINT) FROM markov_transitions) =
        |      (SELECT count(*) FROM events) -
        |      (SELECT count(DISTINCT user_id) FROM events)
        |  -- frequent pairs: ordered, support honored
        |  AND (SELECT count(*) FROM frequent_pairs
        |       WHERE i1 >= i2 OR n < 3) = 0
        |  -- exact jaccard clears its threshold and is a SUPERSET of the
        |  -- capped approximate view at the same cut (exactness claim)
        |  AND (SELECT count(*) FROM exact_jaccard_pairs WHERE jac < 0.8) = 0
        |  AND (SELECT count(*) FROM jaccard_pairs j
        |       WHERE j.jaccard >= 0.8 AND NOT EXISTS (
        |         SELECT 1 FROM exact_jaccard_pairs e
        |         WHERE e.d1 = j.d1 AND e.d2 = j.d2)) = 0
        |  -- triangle counts: total over docs, non-negative, some positive
        |  AND (SELECT count(*) FROM triangle_counts) =
        |      (SELECT count(*) FROM documents)
        |  AND (SELECT count(*) FROM triangle_counts WHERE n_triangles < 0) = 0
        |  AND (SELECT count(*) FROM triangle_counts WHERE n_triangles > 0) > 0
        |""".stripMargin)
      .collect()(0).getBoolean(0)
    assert(ok, "wave-7 views inconsistent")
  }

  test("wave-8 views: labeling, split audit, z-scores, hashed features — cross-consistent in pure SQL") {
    val dir = "/root/testdata/sf0.001"
    TestViews.openTestTables(spark, dir)
    TestViews.registerPipelineViews(spark, dir)
    def one(sql: String): Long = spark.sql(sql).collect()(0).getLong(0)
    // every vote triple aggregates: one row per doc, 3 votes each,
    // majority count consistent with unanimity
    assert(one("SELECT count(*) FROM label_votes") ===
      one("SELECT count(*) FROM documents"))
    assert(one(
      """SELECT count(*) FROM label_votes
        |WHERE n_votes <> 3 OR n_majority > n_votes
        |   OR (unanimous AND n_majority <> 3)""".stripMargin) === 0L)
    // preference pairs: ranks bounded, rejected really rejected,
    // margins integral
    assert(one(
      """SELECT count(*) FROM preference_pairs
        |WHERE rank < 1 OR rank > 8 OR reject_reason = 'keep'
        |   OR margin_tokens <> chosen_tokens - rejected_tokens""".stripMargin) === 0L)
    // split audit reconciles with the documents table
    assert(one("SELECT CAST(sum(n_train + n_val + n_test) AS BIGINT) FROM split_balance") ===
      one("SELECT count(*) FROM documents"))
    // z-scores: one stats row per dim, outlier summaries total
    assert(one("SELECT count(*) FROM embedding_dim_stats") ===
      one("SELECT CAST(max(size(embedding)) AS BIGINT) FROM embeddings"))
    assert(one("SELECT count(*) FROM embedding_outliers") ===
      one("SELECT count(*) FROM embeddings"))
    assert(one(
      """SELECT count(*) FROM embedding_outliers
        |WHERE z_max < 0 OR n_outliers > n_dims""".stripMargin) === 0L)
    // hashed features: bucket totals equal the corpus token count
    assert(one("SELECT CAST(sum(n) AS BIGINT) FROM hashed_features") ===
      one("""SELECT CAST(sum(size(split(trim(text), '\\s+'))) AS BIGINT)
            |FROM documents WHERE length(trim(text)) > 0""".stripMargin))
    // wave-9: paths honor the support cut and the 12-event cap
    assert(one(
      """SELECT count(*) FROM session_paths
        |WHERE n_sessions < 3 OR size(split(path, '>')) > 12""".stripMargin) === 0L)
    // per-user trend: one row per active user; defined slopes finite
    assert(one("SELECT count(*) FROM user_trend") ===
      one("SELECT count(DISTINCT user_id) FROM events WHERE value IS NOT NULL"))
    // negative samples: never a true community edge, ranks in 1..3
    assert(one(
      """SELECT count(*) FROM negative_edges n
        |WHERE n.rank < 1 OR n.rank > 3 OR EXISTS (
        |  SELECT 1 FROM documents a
        |  WHERE a.doc_id = least(n.doc_id, n.neg_id)
        |    AND least(n.doc_id, n.neg_id) DIV 25 = greatest(n.doc_id, n.neg_id) DIV 25
        |    AND greatest(n.doc_id, n.neg_id) - least(n.doc_id, n.neg_id) IN (1, 2, 3))
        |""".stripMargin) === 0L)
    // wave-10: collocations structurally ordered, above the support and
    // positive-pmi cuts; horizon pairs inside the 7-day window at the
    // 0.5 bar; KMV min-k arrays bounded, strictly ascending, and the
    // estimate formula reproducible in-SQL from the stored sketch
    assert(one(
      """SELECT count(*) FROM pmi_collocations
        |WHERE t1 >= t2 OR n_pair < 5 OR pmi <= 0""".stripMargin) === 0L)
    assert(one(
      """SELECT count(*) FROM horizon_dedup_pairs
        |WHERE d1 >= d2 OR jaccard < 0.5
        |   OR abs(d1 % 120 - d2 % 120) > 7""".stripMargin) === 0L)
    assert(one(
      """SELECT count(*) FROM kmv_sketches
        |WHERE size(minK) > 128 OR size(minK) < 1
        |   OR NOT (minK == array_sort(array_distinct(minK)))""".stripMargin) === 0L)
    // wave-11: overlap estimates internally consistent (inter ≤ union,
    // jaccard in [0,1], full matrix); kappa bounded; containment obeys
    // its own floor/bar; growth accounting's identity holds in SQL;
    // trailing distincts cover exactly the active hours
    assert(one(
      """SELECT count(*) FROM kmv_source_overlap
        |WHERE inter_est > union_est + 1e-9 OR jaccard_est < 0
        |   OR jaccard_est > 1""".stripMargin) === 0L)
    assert(one("SELECT count(*) FROM kmv_source_overlap") ===
      one("""SELECT CAST(count(DISTINCT source) * (count(DISTINCT source) - 1) / 2 AS BIGINT)
            |FROM documents""".stripMargin))
    assert(one(
      """SELECT count(*) FROM annotator_kappa
        |WHERE kappa < -1 OR kappa > 1 OR po < 0 OR po > 1""".stripMargin) === 0L)
    assert(one(
      """SELECT count(*) FROM containment_pairs
        |WHERE containment < 0.6 OR n_contained < 5
        |   OR n_common > n_contained""".stripMargin) === 0L)
    assert(one(
      """SELECT count(*) FROM growth_accounting
        |WHERE n_active <> n_new + n_retained + n_resurrected""".stripMargin) === 0L)
    assert(one("SELECT count(*) FROM trailing_distinct_users") ===
      one("SELECT count(DISTINCT ts DIV 3600000000000) FROM events"))
    // wave-12: the A/B read covers every event type once and the unit
    // split partitions the user universe
    assert(one("SELECT count(*) FROM ab_test") ===
      one("SELECT count(DISTINCT event_type) FROM events"))
    assert(one(
      """SELECT count(*) FROM ab_test
        |WHERE n_a + n_b <> (SELECT count(DISTINCT user_id) FROM events)
        |""".stripMargin) === 0L)
  }

  test("driver contract: q01 yields rows; every query has a runnable fn") {
    assert(SparkEntry.queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")
      .count() > 0)                                      // t1 smoke
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    // every declared query at least constructs its plan on sf0.001
    SparkEntry.queries.foreach { case (name, fn) =>
      assert(fn(spark, "/root/testdata/sf0.001").columns.nonEmpty, name)
    }
  }

  test("approx aggregates stay within declared error of exact values") {
    val dir = "/root/testdata/sf0.001"
    // approx_parts is the KMV estimate (a rounded Double since the r9
    // oracle-exact rework) — the ±10% accuracy bar is unchanged
    val approx = graft.queries.Relational.q31ApproxAggs(spark, dir).collect()
      .map(r => r.getAs[String]("l_returnflag") -> r.getAs[Double]("approx_parts")).toMap
    val exact = Tables.lineitem(spark, dir)
      .groupBy("l_returnflag").agg(org.apache.spark.sql.functions.countDistinct("l_partkey").as("n"))
      .collect().map(r => r.getAs[String]("l_returnflag") -> r.getAs[Long]("n")).toMap
    exact.foreach { case (k, n) =>
      assert(math.abs(approx(k) - n).toDouble / n < 0.1, s"flag $k: approx=${approx(k)} exact=$n")
    }
  }
}
