package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{Chunking, Dedup, Mixing, Privacy, ProductQuantization, Quantize, Retrieval, Selection, Similarity, TextAnalysis}

/** Scale soak for the extension operators: replicate the fixture corpus
  * `mult`× and time the declared 100 TB paths. Small-SF oracles prove
  * CORRECTNESS; this proves the SHAPE — work must grow ~linearly in the
  * corpus, not quadratically, and nothing may broadcast O(corpus) state.
  *
  * Documents are re-keyed and token-salted per replica (every whitespace
  * gap gains a replica-unique token), so no shingle matches across
  * replicas and true pair structure scales ×mult — a quadratic blowup in
  * an operator then shows as wall-time, not output rows. Embeddings are
  * re-keyed exact replicas: near-dup buckets get mult× denser, the
  * stress the banded join must absorb.
  *
  * Run: `sbt "runMain graft.Soak /root/testdata/sf0.1 20"`.
  */
object Soak {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val mult = if (args.length > 1) args(1).toInt else 20
    val spark = GraftSession.create()
    spark.sparkContext.setLogLevel("WARN")

    // optional 3rd arg: comma-separated label filter — re-measure one
    // op's soak row without paying the whole suite. A `namedOnly` row
    // runs only when the filter names it.
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").map(_.trim).toSet else Set.empty
    val namedOnly = Set("exact_jaccard")
    def selected(label: String): Boolean =
      if (only.isEmpty) !namedOnly(label) else only(label)
    // `input` is built before the clock starts (a checkpointed input)
    def timed(label: String, input: => Any = ())(df: => DataFrame): (String, Double, Long) = {
      if (!selected(label)) return (label, -1.0, -1L)
      input
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val rows = df.count()
      (label, (System.nanoTime() - t0) / 1e9, rows)
    }

    val docs0 = Tables.documents(spark, sfDir)
    val nDocs = docs0.count()
    val docs = spark.range(mult).crossJoin(docs0).select(
      (col("doc_id") * mult + col("id")).as("doc_id"),
      col("lang"),
      col("source"),
      regexp_replace(col("text"), lit("\\s+"),
        concat(lit(" z"), col("id"), lit(" "))).as("text"))

    val emb0 = Tables.embeddings(spark, sfDir)
    val nEmb = emb0.count()
    val emb = spark.range(mult).crossJoin(emb0)
      .select((col("vec_id") * mult + col("id")).as("vec_id"), col("embedding"))

    // candidate volume: the LSH diagnostic — how many same-bucket pairs
    // the banded join generates before any similarity filter, and how
    // big the hottest bucket is (its pair count is quadratic and lands
    // in one task unless the join is chunk-split)
    val bucketStats: org.apache.spark.sql.Row =
      if (only.nonEmpty) org.apache.spark.sql.Row(-1L, -1L)
      else {
        val sigs = emb.withColumn("sig",
          Similarity.lshSignature(col("embedding"), 64, 4))
        sigs.groupBy(col("sig")).count()
          .agg(max(col("count")).as("hottest"),
            sum(col("count") * (col("count") - 1) / 2).as("candidates"))
          .collect()(0)
      }

    val results = Seq(
      timed("shingles")(Dedup.shingles(docs, 3)),
      timed("jaccard_capped")(Dedup.jaccardPairs(docs, 3, 0.5, maxDocFreq = 50L)),
      timed("minhash_lsh")(Dedup.minhashLshPairs(docs)),
      timed("neardup_lsh")(Similarity.nearDupPairs(emb, 0.45)),
      // the two new shuffle-bearing corpus statistics: the distributed
      // prefix (three keyed pieces) and the gram-df count window — both
      // must track corpus volume linearly
      timed("token_budget")(Selection.tokenBudget(docs, 20000L * mult)),
      timed("crossdoc_rep")(TextAnalysis.crossDocRepetition(docs)),
      // round-7 additions: the inverted-index retrieval (cost must track
      // query postings, not vocabulary), the narrow chunk/scrub maps, and
      // the two bounded-selection ops (top_k quota, broadcast-weight draw)
      timed("bm25")(Retrieval.bm25TopK(docs,
        Seq("spark", "vector", "merge", "window"), 20)),
      // the narrow maps are filtered on their computed columns — a bare
      // count() would let the optimizer prune the md5/regex work and
      // time nothing but the scan
      timed("chunking")(Chunking.chunk(docs, 64, 48)
        .filter(length(col("chunk_md5")) === 32)),
      timed("pii_scan")(Privacy.piiScan(docs, col("text"))
        .filter(length(col("redacted_md5")) === 32 &&
          col("n_emails") + col("n_ips") + col("n_digit_runs") >= 0)),
      timed("source_quota")(Selection.sourceQuota(docs, 50)),
      timed("weighted_sample")(Mixing.weightedSample(docs, 100)),
      // round-8 additions. substring_dup is the one op whose row volume
      // is per-CHARACTER (the honest cost note in its scaladoc) — its
      // time must track total corpus chars linearly; the replica salt
      // breaks cross-replica char runs, so true dup structure scales
      // ×mult. hard_negatives holds |queries| fixed (~5) while the
      // corpus scales — probe cost must track hits, not queries×corpus.
      // The filters reference computed columns so Catalyst can't prune
      // the aggregation/join work under count().
      timed("substring_dup")(Dedup.substringDupStats(docs, 20)
        .filter(col("dup_frac") >= 0.0)),
      // verified-exact spans at Lee-et-al L=50 via the O(n) rolling
      // kernel — same per-character row volume as substring_dup but
      // 2.5× the window at ONE scan (the q207 claim under test); the
      // verify join must track true duplicate volume, not the corpus
      timed("exact_substring")(graft.ops.ExactSubstring
        .exactSubstringSpans(docs, 50)
        .filter(col("span_len") >= 50L)),
      // wave 25-30 statistical family: each is ONE corpus-collapsing
      // aggregate (fingerprint / histogram / term-count / verdict /
      // moment) + grid math — cost must track the scan, batch size
      // scaled with mult so the growth-curve frame stays ~10 rows
      timed("dedup_growth")(graft.ops.Dedup.dedupGrowth(
        docs, batch = 50L * mult)
        .filter(col("cum_dup_rate") >= 0.0)),
      timed("robust_means")(graft.ops.RobustStats
        .robustMeans(docs, 1L, 10L)
        .filter(col("trimmed_mean") >= 0.0)),
      timed("weighted_quantiles")(graft.ops.RobustStats
        .weightedQuantiles(docs).filter(col("w_p50") >= 0L)),
      timed("token_concentration")(graft.ops.RobustStats
        .tokenConcentration(docs).filter(col("top10pct_share") >= 0.0)),
      timed("vocab_richness")(graft.ops.Vocabulary.richness(docs)
        .filter(col("p0_unseen") >= 0.0)),
      timed("simpson_audit")(graft.ops.Correlation.simpsonOf(
        docs.select(col("source"),
          graft.ops.TextAnalysis.tokenCount(col("text")).as("x"),
          (graft.ops.TextAnalysis.charCountNoWs(col("text")).cast("double") /
            greatest(graft.ops.TextAnalysis.tokenCount(col("text"))
              .cast("double"), lit(1.0))).as("y")))),
      timed("hard_negatives")(Retrieval.hardNegatives(docs,
        pmod(col("doc_id"), lit(100L * mult)) === 0L)),
      timed("leakage_split")(Dedup.leakageSafeSplit(docs)
        .filter(col("n_eval_partners") >= 0L)),
      // provenance diagnostics: pair-scale joins over the minhash stage
      // (their delta over minhash_lsh above IS the claim), and the
      // mixture assignment whose only non-narrow pieces are the
      // (source × bucket) prefix and per-shard windows
      timed("source_overlap")(Dedup.sourceOverlap(docs)),
      timed("source_diversity")(Dedup.sourceDiversity(docs)),
      timed("mixed_assignment")(graft.ops.Mixing.mixedShardAssignment(
        docs.select(col("doc_id"), col("source"), col("text")), 1, 1024L)
        .filter(col("pos_in_shard") >= 0L)),
      // the snapshot diff's 48-byte-row claim at volume: a full-outer
      // join of (id, md5) projections over the soaked corpus vs a
      // mutated twin — cost must track row count, never text volume
      timed("snapshot_diff")(graft.ops.SnapshotDiff.diff(docs,
        docs.select(col("doc_id"),
          when(pmod(col("doc_id"), lit(7)) === 0, upper(col("text")))
            .otherwise(col("text")).as("text")))
        .filter(col("status").isNotNull)),
      // round-8 wave 5: the JL projection (narrow integer map over the
      // soaked corpus) and semantic decon with the eval suite held
      // FIXED while the train side scales — the claimed broadcast
      // shape: cost = |train| x |eval|, linear in the corpus. (Soaked
      // embeddings are exact replicas, so every replica of a matching
      // train vector quarantines — output rows scale xmult, work per
      // row stays flat.)
      timed("random_projection")(Quantize.quantized(emb)
        .select(col("vec_id"), graft.ops.Projection.projectQ(col("q"),
          graft.ops.Projection.signMatrix(24, 64)).as("proj"))
        .filter(size(col("proj")) === 24)),
      timed("semantic_decon")(Similarity.semanticDecontamination(
        emb, emb0.filter(pmod(col("vec_id"), lit(5)) === 0))
        .filter(col("n_eval_partners") >= 0L)),
      // trainer-true encoding: training is the bounded path (one word
      // aggregate + driver loop), application ONE narrow codegen pass —
      // trained inside the timed block because a standing run retrains
      // per corpus snapshot
      {
        if (!selected("token_ids")) ("token_ids", -1.0, -1L)
        else {
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          val (merges, vocab) = graft.ops.Bpe.trainWithVocab(docs)
          val rows = docs.select(col("doc_id"),
              graft.ops.Bpe.bpeIds(col("text"), merges, vocab).as("ids"))
            .filter(size(col("ids")) >= 0).count()
          ("token_ids", (System.nanoTime() - t0) / 1e9, rows)
        }
      },
      // wave-14: boilerplate removal (gram-df shuffle + offsets join +
      // in-row rewrite — the salt thins the frequent set as n_docs
      // grows, so the timed cost is the df count and the doc_id join,
      // both linear), sketch-then-verify heavy hitters (two corpus
      // passes: constant-memory summaries, then the candidate-filtered
      // exact count — never a full-vocabulary shuffle; the salt makes
      // the vocabulary grow ×mult while candidates stay capacity-
      // bounded), and hybrid RRF (one posting-pruned BM25 pass + one
      // float-cosine scan with a bounded top-kf — fusion itself is
      // two ≤50-row frames)
      timed("boilerplate")(graft.ops.Boilerplate.removeFrequentGrams(docs, 3, 1)
        .filter(length(col("clean_md5")) === 32)),
      timed("heavy_tokens")(graft.ops.HeavyHitters.heavyTokens(docs, 20, 1280)
        .filter(col("cnt") >= 0L)),
      timed("hybrid_rrf")(graft.ops.Hybrid.hybridRrf(docs, emb, 0L, 50, 20, 60)
        .filter(col("rrf_score") >= 0.0)),
      // skip-gram with negative sampling: positives in-row (≤ 2w rows
      // per token), negatives via the capped-CDF bucket join — row
      // volume is corpus×(2w+negK) linear, the CDF stays vocabCap-
      // bounded while the salted vocabulary grows ×mult
      timed("skipgram")(graft.ops.SkipGram.skipgramSummary(docs, 2, 2, 4096)
        .filter(length(col("ctx_hash")) >= 1)),
      // RAG assembly: q59 chunk explode + q58 BM25 over the chunk units
      // + a ≤k packing tail — must track the corpus like bm25 itself
      timed("rag_context")(graft.ops.Rag.ragContext(docs,
        Seq("spark", "vector", "merge", "window"), 64, 48, 40, 512L)
        .filter(col("cum_tokens") >= 0L)),
      // reranker feature prep: one bounded BM25 first stage, then every
      // feature join broadcasts the ≤k candidates — cost must track the
      // corpus (the two pruned scans), never k × corpus
      timed("ltr_features")(graft.ops.Ltr.ltrFeatures(docs, emb, 0L, 30)
        .filter(col("len_ratio") >= 0.0)),
      // unigram-LM tokenizer: bounded train (top-vocabCap word table +
      // driver Viterbi-EM) + one codegen'd integer-DP pass — the BPE
      // token_ids contract for the second tokenizer family
      {
        if (!selected("unigram_ids")) ("unigram_ids", -1.0, -1L)
        else {
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          val probs = graft.ops.Unigram.train(docs)
          val rows = docs.select(col("doc_id"),
              graft.ops.Unigram.unigramIdsStr(col("text"), probs).as("ids"))
            .filter(length(col("ids")) >= 0).count()
          ("unigram_ids", (System.nanoTime() - t0) / 1e9, rows)
        }
      },
      // positional phrase search: workload selection is one map-side-
      // combined bigram aggregate; the adjacency join shuffles ONLY the
      // workload terms' postings (in-row filter before the posexplode),
      // so cost tracks those terms' df, not |corpus|×|vocab|
      timed("phrase_search")(graft.ops.Phrase.phraseSearch(docs, 6)
        .filter(col("n_occurrences") >= 0L)),
      // Kneser-Ney scoring: four aggregated model tables (map-side
      // combined) + three aggregated-build joins on the held-out bigram
      // partials — corpus-linear, AQE handles probe-side hot keys
      timed("kn_bigram")(graft.ops.KneserNey.knBigramScore(
        docs.filter(pmod(col("doc_id"), lit(5)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(5)) === 0))
        .filter(col("n_bigrams") >= 0L)),
      // k-center selection: m rounds of one narrow scan + 1-row argmax
      // — O(m·n·dim) with no corpus shuffle; the running column is
      // localCheckpoint'ed so lineage stays flat across rounds
      timed("kcenter")(graft.ops.Coreset.kcenterAssign(emb, 6)
        .filter(col("sq_dist") >= 0L)),
      // span corruption: one in-row map (slices + joins, no shuffle) —
      // the raw core; the gate's global sort is determinism-only and a
      // sharded write replaces it at scale. Forced through an AGGREGATE
      // of both output lengths, NOT a filter: a filter on the computed
      // column is pushed below the projection and re-substitutes the
      // whole expression tree (split included) into the predicate —
      // measured 35 s vs 2.0 s at 10x for the identical work
      timed("span_corrupt")(graft.ops.SpanCorruption.spanCorruptRaw(docs)
        .select((length(col("input_text")) + length(col("target_text")))
          .as("len"))
        .agg(sum(col("len")).as("total_chars"))),
      // quantile normalization: ONE corpus shuffle (the (source, value)
      // collapse); every window and the inverse-CDF theta join run over
      // aggregated tables, so cost must track the scan
      timed("quantile_norm")(graft.ops.QuantileNorm.quantileNormalize(
        docs.select(col("doc_id"), col("source"),
          graft.ops.TextAnalysis.tokenCount(col("text")).as("v")))
        .filter(col("norm_v") >= 0L)),
      // doc novelty: doc-gram rows joined to the aggregated df table
      // (one corpus-scale shuffle on the gram) + a per-doc combine —
      // the salt makes most grams df=1, the worst case for join volume
      {
        if (!selected("doc_novelty")) ("doc_novelty", -1.0, -1L)
        else {
          spark.catalog.clearCache()
          val store = graft.Sidecars.path("graft_soak_novelty")
          val p = new org.apache.hadoop.fs.Path(store)
          p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
          val t0 = System.nanoTime()
          graft.ops.Boilerplate.appendGramDf(docs, store, 3)
          val rows = graft.ops.Novelty.noveltyFromStore(spark, docs, store)
            .filter(col("n_grams") >= 0L).count()
          ("doc_novelty", (System.nanoTime() - t0) / 1e9, rows)
        }
      },
      // streamed IVF maintenance unit: the per-batch assignment pass
      // foreachBatch runs (the stream's O(batch) claim, measured at
      // corpus volume; staging/trigger overhead is gate-priced)
      {
        if (!selected("ivf_ingest")) ("ivf_ingest", -1.0, -1L)
        else {
          spark.catalog.clearCache()
          val cents = graft.ops.Clustering.trainCentroids(emb, 8)
          val t0 = System.nanoTime()
          val rows = graft.ops.Clustering.assign(emb, cents)
            .filter(col("sq_dist") >= 0L).count()
          ("ivf_ingest", (System.nanoTime() - t0) / 1e9, rows)
        }
      },
      // wave 17 —----------------------------------------------------
      // distinctive terms: one tokenize + vocab-keyed aggregates; the
      // salted corpus grows the vocab ~linearly with mult, so cost must
      // track the scan + the (source × vocab) aggregate
      timed("distinctive_terms")(graft.ops.Distinctive
        .distinctiveTerms(docs, 5, 100.0)),
      // IR metrics: one bm25TopK (in-row pruned postings) + one in-row
      // gains pass per query — linear in corpus tokens
      timed("ir_metrics")(graft.ops.IrMetrics
        .metricsFor(docs.select(col("doc_id"), col("text")), 1,
          Seq("dup", "key"), 10)),
      // mutual k-NN, 100 TB form: IVF-cell-restricted candidates.
      // nCells ~ √n balances the two cost terms (assign n·c vs
      // within-cell pairs n²/c — both n^1.5 at c = √n, the standard
      // IVF nlist rule); per-cell-CONSTANT sizing would make the
      // assignment quadratic (measured: ×18.7 on ×10 data before
      // the sqrt rule + the broadcast-join assign landed)
      timed("mutual_knn_cells")(graft.ops.KnnGraph.mutualKnnInCells(
        emb, 5,
        nCells = math.max(64, math.ceil(math.sqrt(nEmb * mult.toDouble)).toInt))),
      // label propagation: 3 rounds × (one E-row join + two hash
      // aggregates) over the ~3n community edges — strictly linear
      timed("label_prop")(graft.ops.Graph.labelPropagation(
        docs.select(col("doc_id").as("id")),
        graft.ops.Graph.communityLinks(docs.select(col("doc_id").as("id"))),
        iters = 3)),
      // truncation recall: 8 fixed probes × one corpus scan each side —
      // linear; the heap keeps driver/state bounded at 8 × k
      timed("trunc_recall")(graft.ops.KnnGraph
        .q179TruncationRecallOver(emb)),
      // leading PC: 10 cached-aggregate corpus passes (the GD family) —
      // cost must track passes × scan, nothing quadratic anywhere
      timed("leading_pc")(graft.ops.PowerIteration.leadingPc(emb)),
      // statistical drift family: one (source × value/vocab) count
      // aggregate each, everything after runs on aggregated grids —
      // cost must track the tokenize/count scan
      timed("ks_drift")(graft.ops.Drift.ksDrift(
        docs.select(col("source"),
          graft.ops.TextAnalysis.tokenCount(col("text")).as("v")))),
      timed("ranksum_effect")(graft.ops.Drift.rankSumEffect(
        docs.select(col("source"),
          graft.ops.TextAnalysis.tokenCount(col("text")).as("v")))),
      timed("zipf_slope")(graft.ops.Distinctive.zipfSlope(docs)),
      // wave 20. source_shapley: distinct (source, gram) + per-gram
      // carrier counts — replica salting grows the vocabulary ×mult, so
      // cost must track the shingle scan. winnow_pairs: the codegen'd
      // per-doc kernel then the q25 capped pair machinery — salted
      // replicas never pair, so true pair structure is ×mult and the
      // time measures selection + the bounded index join. cuped: ONE
      // (user → x,y) aggregate at raw-event volume, moments on the
      // per-user frame (users fixed under replication — the aggregate
      // absorbs ×mult rows into the same frame).
      timed("source_shapley")(graft.ops.Valuation.sourceShapley(docs, 3)),
      timed("winnow_pairs")(graft.ops.Winnowing
        .winnowPairs(docs, 3, 8, 0.5, 50L)),
      // wave 21. conformal: one moment aggregate + the value-aggregated
      // exact quantile — cost must track the tokenize scan, the window
      // only ever sees distinct rounded residuals. q196's sweep is 4×
      // the already-soaked jaccard/minhash machinery (jaccard_capped /
      // minhash_lsh rows) — inherited, not re-soaked.
      timed("conformal")(graft.ops.Conformal
        .lengthIntervalCoverage(docs.withColumn("n_chars", length(col("text"))))),
      // wave 22. hill/gini: one (source × gram) count aggregate — the
      // salted replicas grow the gram vocabulary ×mult, so the ranked
      // windows run over ×mult aggregated rows (never raw tokens);
      // jackknife: one (source × block) aggregate, everything after is
      // |sources|×20 rows — must stay flat modulo the scan
      timed("hill_tail")(graft.ops.TailStats.hillTail(docs, 3, 100)),
      timed("gini")(graft.ops.TailStats.gini(docs, 3)),
      timed("jackknife")(graft.ops.Jackknife.meanTokensSe(docs)),
      // wave 23. spearman: two (source × value) count aggregates; the
      // rank windows see aggregated value grids only — scan-bound
      timed("spearman")(graft.ops.Correlation.spearman(
        docs.select(col("doc_id"), col("source"),
          graft.ops.TextAnalysis.tokenCount(col("text")).as("x"),
          length(col("text")).cast("long").as("y")))),
      // wave 32. blocklist: one narrow AC-kernel scan + a bounded
      // posexplode — strictly scan-bound, pattern count amortized into
      // the automaton. mad_outliers: the q88 histogram machinery twice
      // (value then deviation domain) — aggregated windows only.
      // wasserstein: the q186 grid + one gap-weighted sum — same shape.
      // vocab_growth: one min(doc_id)-per-token aggregate (the salted
      // replicas grow the vocab ×mult) + broadcast threshold counts.
      timed("blocklist_scan")(graft.ops.Blocklist
        .blocklistScan(docs, graft.ops.Blocklist.Patterns)),
      timed("mad_outliers")(graft.ops.RobustStats.madOutliers(docs)),
      timed("wasserstein")(graft.ops.Drift.wassersteinDrift(
        docs.select(col("source"),
          graft.ops.TextAnalysis.tokenCount(col("text")).as("v")))),
      timed("vocab_growth")(graft.ops.Vocabulary.growthCurve(docs)),
      // wave 39/40 families. langid_eval/ece: one in-row-scored
      // aggregate each, class/bin-bounded tails. source_jsd: the q69
      // frame + closed-form tail (no sources×vocab grid). stump: two
      // PrefixSum passes over the value histogram. oov_drift: one
      // (slice, source, token) aggregate + type-level join.
      // hh_churn: two TakeOrdered cuts. mahalanobis: one moment
      // aggregate + broadcast stats. exactsub_cut: the q207 chain +
      // one min(struct)-per-window aggregate + anti-join (the salted
      // replicas mint fresh window strings per replica, so canonical
      // groups scale ×mult, never cross replicas).
      timed("langid_eval")(graft.ops.Evaluation.langIdEvalOf(docs)),
      timed("ece_reliability")(graft.ops.Evaluation.eceReliabilityOf(docs)),
      timed("source_jsd")(graft.ops.Mixing.sourceJsd(docs)),
      timed("decision_stump")(graft.ops.Stump.stumpGains(
        docs.select(length(col("text")).cast("long").as("v"),
          (graft.ops.TextAnalysis.tokenCount(col("text")).between(20L, 200L))
            .cast("long").as("y")))),
      timed("oov_drift")(graft.ops.Vocabulary.oovDriftOf(docs)),
      timed("hh_churn")(graft.ops.HeavyHitters.heavyHitterChurnOf(docs, 20).toDF()),
      timed("mahalanobis")(graft.ops.RobustStats.mahalanobisTopK(
        docs.select(col("doc_id"),
          graft.ops.TextAnalysis.tokenCount(col("text")).as("x"),
          size(array_distinct(graft.ops.TextAnalysis.tokens(col("text"))))
            .cast("long").as("y")), 20)),
      timed("exactsub_cut")(graft.ops.ExactSubstring.cutPlanOf(docs, 50)),
      timed("representation")(graft.ops.Mixing.representationAuditOf(docs)),
      // wave 41: label-noise in IVF cells (the q205 split — within-cell
      // pair volume (n/c)², never all-pairs) and the (label × dim)
      // moment grid (schema-bounded output whatever the corpus)
      timed("label_noise_cells")(graft.ops.KnnGraph.labelNoiseOver(
        spark.range(mult).crossJoin(Tables.embeddings(spark, sfDir))
          .select((col("vec_id") * mult + col("id")).as("vec_id"),
            col("embedding"), col("label")), 5, Some(64))),
      timed("fisher_mom")(graft.ops.Clustering.fisherSeparabilityOf(
        spark.range(mult).crossJoin(Tables.embeddings(spark, sfDir))
          .select((col("vec_id") * mult + col("id")).as("vec_id"),
            col("embedding"), col("label")))),
      // image/audio perceptual dedup: corpus synth + REAL codec decode +
      // fingerprint (narrow map, payloads never shuffle) + the
      // hash-collapsed banded pair join. Replicated doc_ids are
      // re-keyed, so each replica mints ×mult NEW images/clips with
      // their own variant dup-groups — true pair structure scales
      // ×mult; band-bucket quadratic blowup would show as wall, not
      // rows.
      timed("image_neardup")(graft.ops.Multimodal.imageNearDupPairsCollapsed(
        graft.ops.Multimodal.imageHashes(
          graft.ops.Multimodal.imageCorpusOf(docs.select(col("doc_id")))
            .select(col("img_id").as("doc_id"), col("payload"))).toDF())),
      timed("audio_fingerprint")({
        import spark.implicits._
        graft.ops.Multimodal.audioCorpusOf(docs.select(col("doc_id")))
          .select(col("aud_id"), col("payload"))
          .as[(Long, Array[Byte])]
          .mapPartitions(_.flatMap { case (id, bytes) =>
            graft.ops.Multimodal.decodeWavSamples(bytes)
              .map(sm => (id, graft.ops.Multimodal.audioFingerprint(sm)))
          }).toDF("doc_id", "ahash")
      }))

    // Write-time ANN layouts at the soaked scale: ingest (layout write)
    // cost, probe cost against the written layout, and the fraction of
    // partition dirs a single probe batch actually reads — the central
    // 100 TB claim (pruned reads) exercised at volume, not just in the
    // sf0.001 PlanSpec.
    val base = java.nio.file.Files.createTempDirectory("graft-soak-ann")
      .toFile.getAbsolutePath
    val sigDst = base + "/sig"; val cellDst = base + "/cell"
    def timedSec(f: => Unit): Double = {
      if (only.nonEmpty) return -1.0 // label filter active: skip layouts
      spark.catalog.clearCache()
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val writeSigSec = timedSec(Similarity.writeSigBucketed(emb, sigDst))
    val writeCellSec = timedSec(Similarity.writeCellBucketed(emb, cellDst))
    val queries = emb0.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    var lshRows = 0L; var ivfRows = 0L
    val lshProbeSec = timedSec {
      lshRows = Similarity.bucketedLshTopK(spark, sigDst, queries).count()
    }
    val ivfProbeSec = timedSec {
      ivfRows = Similarity.bucketedIvfTopK(spark, cellDst, queries).count()
    }
    // within-cell SemDeDup over the same cell layout: the per-cell
    // quadratic at soaked volume — the q47 scale path's cliff check
    var semRows = 0L
    val semDedupSec = timedSec {
      semRows = Quantize.semanticDedupInCells(spark, cellDst).count()
    }
    // IVF,PQ: codes-only layout write (train + assign + encode) and the
    // pruned ADC probe + re-rank against the float source
    val pqDst = base + "/pq"
    val writePqSec = timedSec(
      ProductQuantization.writeCellBucketedPq(emb, pqDst, nlist = 64))
    val pqQueries = emb0.filter(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray.map(_.toDouble))
    var pqRows = 0L
    val pqProbeSec = timedSec {
      pqRows = ProductQuantization.bucketedPqTopK(
        spark, pqDst, emb, pqQueries, nprobe = 12, k = 10,
        rerank = math.max(50, (nEmb * mult / 10).toInt)).count()
    }
    // posting-list retrieval layout: index write cost (one corpus pass +
    // one bucket shuffle), probe cost (must track the query's posting
    // lists — compare bm25 scan-time above, which re-reads the corpus
    // per query), and the dirs-read fraction of one probe
    val postDst = base + "/postings"
    val writePostSec = timedSec(
      Retrieval.writePostingsBucketed(docs, postDst, nBuckets = 64))
    var postRows = 0L
    val postProbeSec = timedSec {
      postRows = Retrieval.bucketedBm25TopK(spark, postDst,
        Seq("spark", "vector", "merge", "window"), 20).count()
    }
    val postFrac = if (only.nonEmpty) -1.0 else {
      val total = new java.io.File(postDst).listFiles()
        .count(_.getName.startsWith("bucket="))
      val (tfFrame, _, _) = Retrieval.probedPostings(spark, postDst,
        Seq("spark", "vector", "merge", "window"))
      val read = tfFrame
        .select(regexp_extract(input_file_name(), "bucket=\\d+", 0))
        .distinct().count()
      read.toDouble / total
    }

    // incremental maintenance at volume: appending a 1% delta onto the
    // standing layouts must cost O(delta), nowhere near the full-write
    // numbers above — the central claim of the append paths
    val deltaDocs = docs.filter(pmod(col("doc_id"), lit(100L)) === 0L)
      .withColumn("doc_id", col("doc_id") + lit(1000000000L))
    val postAppendSec = timedSec(
      graft.ops.Retrieval.appendToPostings(deltaDocs, postDst))
    // folding the append's sidecar segments back to one row per key is a
    // rewrite of the small `_df`/`_totals` stores, not of the postings
    val postCompactSec = timedSec(Retrieval.compactIndex(spark, postDst))
    val deltaEmb = emb.filter(pmod(col("vec_id"), lit(100L)) === 0L)
      .select((col("vec_id") + lit(1000000000L)).as("vec_id"), col("embedding"))
    val cellAppendSec = timedSec(
      Similarity.appendToCellLayout(deltaEmb, cellDst))
    val pqAppendSec = timedSec(
      ProductQuantization.appendToCellLayoutPq(deltaEmb, pqDst))

    // standing minhash near-dup index: write cost (one shingle pass +
    // bucket shuffles), probe of a 1% ingest batch (exact copies of
    // corpus docs under fresh ids — each must find its jaccard-1
    // partner through the band buckets, never a corpus rescan), and a
    // 1% append (segment writes, O(delta))
    val mhDst = base + "/minhash"
    val writeMinhashSec = timedSec(
      graft.ops.NearDupIndex.writeMinhashLayout(docs, mhDst))
    val mhBatch = docs.filter(pmod(col("doc_id"), lit(100L)) === 0L)
      .withColumn("doc_id", col("doc_id") + lit(2000000000L))
    var mhRows = 0L
    val mhProbeSec = timedSec {
      mhRows = graft.ops.NearDupIndex.probeNearDup(spark, mhDst, mhBatch).count()
    }
    val mhAppendBatch = docs.filter(pmod(col("doc_id"), lit(100L)) === 1L)
      .withColumn("doc_id", col("doc_id") + lit(3000000000L))
    val mhAppendSec = timedSec(
      graft.ops.NearDupIndex.appendToMinhashLayout(mhAppendBatch, mhDst))

    // tombstone delete of a 1% slice: the mask itself is O(ids); the
    // physical purge recomputes the DEAD docs' bands from their stored
    // arrays and rewrites only the touched dirs. (At 1% of 500k docs the
    // dead bands statistically touch every one of the 64 default
    // buckets, so this measures the purge's upper envelope — production
    // layouts run thousands of buckets, where touched ≪ total.)
    val deadIds = docs.filter(pmod(col("doc_id"), lit(100L)) === 2L)
      .select(col("doc_id"))
    val mhTombSec = timedSec(graft.ops.BucketStore.tombstone(deadIds, mhDst))
    var purgedN = 0L; var purgedBuckets = 0
    val mhPurgeSec = timedSec {
      val (n, bs) = graft.ops.NearDupIndex.purgeTombstones(spark, mhDst)
      purgedN = n; purgedBuckets = bs.length
    }
    // the append's and the purge's `_sh_df` segments, folded back
    val mhCompactSec = timedSec(graft.ops.NearDupIndex.compactIndex(spark, mhDst))

    // rollup maintenance at volume: one partials pass over mult× events,
    // the O(hours) merged serve, and a 1% append
    val ev0 = Tables.events(spark, sfDir)
    val nEv = ev0.count()
    val ev = spark.range(mult).crossJoin(ev0).select(
      (col("event_id") * mult + col("id")).as("event_id"),
      col("ts"), col("user_id"), col("value"),
      col("event_type"), col("id").as("__replica"))
    val ruDst = base + "/rollup"
    val ruWriteSec = timedSec(graft.ops.Rollup.appendPartials(ev, ruDst))
    var ruDays = 0L
    val ruServeSec = timedSec {
      ruDays = graft.ops.Rollup.mergedDaily(spark, ruDst).count()
    }
    val ruAppendSec = timedSec(graft.ops.Rollup.appendPartials(
      ev.filter(pmod(col("event_id"), lit(100L)) === 0L), ruDst))

    // wave 6: time-series regularization at raw-event volume — the
    // replicated events multiply RAW rows ×mult while the user×hour
    // grain stays FIXED, so the hourly aggregate must absorb the whole
    // volume and the spine/fill/anomaly window cost stays flat (the
    // skew-bound claim in TimeSeries' scaladoc, exercised at volume).
    // url_dedup is the narrow canonicalize map + one hash aggregate
    // over the soaked doc ids. Filters reference computed columns so
    // count() can't prune the window/regex work.
    val wave6 = Seq(
      timed("gap_fill")(graft.ops.TimeSeries.hourlyGapFill(ev)
        .filter(abs(col("filled_value")) >= 0.0)),
      timed("hourly_anomaly")(graft.ops.TimeSeries.hourlyAnomalies(ev)
        .filter(coalesce(col("z"), lit(0.0)) >= -1e18)),
      timed("url_dedup")(docs
        .select(col("doc_id"), graft.ops.Web.syntheticMirrorUrl(col("doc_id")).as("u"))
        .select(col("doc_id"), graft.ops.Web.canonicalizeUrl(col("u")).as("c"),
          graft.ops.Web.hasTracking(col("u")).as("t"))
        .groupBy(col("c"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keeper"),
          bool_or(col("t")).as("any_t"))
        .filter(col("n") >= 1L)),
      timed("cuped")(graft.ops.Experiment.cuped(ev)),
      // cusum: raw events ×mult collapse into the SAME (type × day)
      // grid — the one aggregate absorbs the volume, windows stay flat
      timed("cusum")(graft.ops.ChangePoint.cusumDaily(ev)),
      // wave 34/35 monitoring family: same grid-absorption claim —
      // sprt collapses to (type × day), sliding_active to distinct
      // (user, day) × 7 offsets, twa's keyed windows see raw rows but
      // partition on (type, day) so parallelism tracks the calendar
      timed("sprt")(graft.ops.ChangePoint.sprtDaily(ev)),
      timed("sliding_active")(graft.ops.TimeSeries.slidingActive(ev)),
      // wave 36/37: runs_test = one histogram + a per-source ordered
      // window over raw docs (the q115 keyed-window discipline);
      // scd2_history = (user, day) snapshot aggregate + user-keyed
      // islands; lagged_xcorr = the (type × day) grid joined to itself
      // over 7 lags — everything after the count aggregate is
      // calendar-bounded; l_diversity = one (qid × sens) aggregate
      timed("runs_test")(graft.ops.Drift.runsTest(
        docs.select(col("source"), col("doc_id"),
          graft.ops.TextAnalysis.tokenCount(col("text")).as("v")))),
      timed("scd2_history")(graft.ops.SnapshotDiff.scd2History(ev)),
      timed("lagged_xcorr")(graft.ops.Correlation.laggedXcorr(ev)),
      // wave 38: dow = the q195 grid bucketed by day mod 7 (absorbed);
      // inter_arrival = day-keyed lag windows over raw events + the q88
      // histogram on ms gaps (distinct frame bounded by the ms domain)
      timed("dow_seasonality")(graft.ops.TimeSeries.dowSeasonality(ev)),
      timed("inter_arrival")(graft.ops.TimeSeries.interArrival(ev)),
      timed("l_diversity")(graft.ops.Privacy.lDiversity(
        docs.select(col("source"), col("lang"),
          graft.ops.TextAnalysis.tokenCount(col("text")).as("nt"))
          .select(col("source"), col("lang"), expr("nt DIV 20").as("sens")),
        3)),
      timed("twa")(graft.ops.TimeSeries.timeWeightedAvg(ev)
        .filter(coalesce(col("twa"), lit(0.0)) >= -1e18)),
      // prefix-cache ladder: 3 narrow groupBy passes over salted docs
      // (the replica salt lands in every whitespace gap, so replicas of
      // one doc split at the first gap — within-replica sharing keeps
      // group structure ~×mult, and the groupBy must absorb the volume)
      timed("prefix_cache")(graft.ops.PrefixCache.prefixCacheSavings(docs)),
      // pareto skyline: one (x, y) cell aggregate + a bounded-domain
      // window — flat modulo the tokenize scan
      timed("pareto")(graft.ops.Selection.paretoFrontier(
        docs.select(col("doc_id"),
          graft.ops.TextAnalysis.tokenCount(col("text")).as("x"),
          length(col("text")).cast("long").as("y")))),
      // absorbing funnel: the q115 transition machinery at raw volume,
      // then a 1-row solve — cost must track the adjacent-pairs window
      timed("absorbing")(graft.ops.Absorbing.conversionFunnel(
        ev.select(col("event_id"), col("ts"),
          (col("user_id") * lit(1000L) + col("__replica")).as("user_id"),
          col("event_type")))),
      // linkage: replicas salt the balance by replica id ×10000 so each
      // replica's blocks stay disjoint (blocked-pair structure ×mult,
      // not ×mult² — the block key IS the quadratic control under test)
      timed("fs_linkage")(graft.ops.Linkage.fsLinkage(
        spark.range(mult).crossJoin(Tables.customer(spark, sfDir)).select(
          (col("c_custkey") * mult + col("id")).as("c_custkey"),
          concat(col("c_name"), lit("#r"), col("id")).as("c_name"),
          col("c_nationkey"),
          (col("c_acctbal") + col("id").cast("double") * 10000.0).as("c_acctbal"),
          col("c_mktsegment")))),
      // linkage, width-tightened: the documented 100 TB control made
      // executable — blocked pairs scale ∝ mult·width (per-block n ∝
      // width, #blocks ∝ 1/width), so width = 50000/mult holds the
      // comparison-space size constant as data grows: the knob a real
      // deployment turns instead of eating a mult× pair blowup. The
      // untightened row above is the comparability anchor at ≤10×.
      timed("fs_linkage_tight")(graft.ops.Linkage.fsLinkage(
        spark.range(mult).crossJoin(Tables.customer(spark, sfDir)).select(
          (col("c_custkey") * mult + col("id")).as("c_custkey"),
          concat(col("c_name"), lit("#r"), col("id")).as("c_name"),
          col("c_nationkey"),
          (col("c_acctbal") + col("id").cast("double") * 10000.0).as("c_acctbal"),
          col("c_mktsegment")),
        bandWidth = 50000.0 / math.max(mult, 10))))

    // wave 7. interval_overlap: replicas share timestamps, so an
    // unsalted soak would square the TRUE overlap volume — the type is
    // salted per replica (replicas never pair) to keep per-type density
    // fixed and output ×mult; time then measures the bucketed join, not
    // an output explosion. markov: users salted per replica (timeline
    // shape preserved, user count ×mult — the window path at volume).
    // exact_jaccard: the prefix-filter join over the shingle-salted
    // docs — candidates must track true pair structure (×mult), with
    // the hot boilerplate shingles excluded by rarest-first prefixes,
    // not by a cap. triangle_count: the community graph over soaked doc
    // ids, edges and triangles both ×mult.
    val wave7 = {
      val iv = ev.select(col("event_id"),
          concat(col("event_type"), lit("#"), col("__replica")).as("event_type"),
          expr("ts DIV 1000000000").as("s"))
        .withColumn("e", col("s") + lit(60L) + col("event_id") % 240L)
      val evSalted = ev.select(
        (col("user_id") * mult + col("__replica")).as("user_id"),
        col("ts"), col("event_id"), col("event_type"))
      val nodes = docs.select(col("doc_id").as("id"))
      Seq(
        timed("interval_overlap")(graft.ops.RangeJoin.intervalOverlap(
          iv.filter(expr(s"(event_id DIV $mult) % 2") === 0),
          iv.filter(expr(s"(event_id DIV $mult) % 2") === 1),
          Seq("event_type"), "s", "e", bucketWidth = 300L)),
        timed("markov_transitions") {
          val pairs = graft.ops.SkewWindows.adjacentPairs(
            evSalted, "user_id", "ts", "event_id", "event_type")
          pairs.groupBy(col("cur"), col("nxt")).agg(count(lit(1)).as("n"))
            .filter(col("n") >= 0L)
        },
        // exact_jaccard runs only when named (`namedOnly`): the exact
        // prefix-filter join on this deliberately dense-similarity
        // corpus is CPU-bound in the candidate join (measured 1663 s at
        // 100× / 8 GB, 25,000 true pairs — linear in replicas since
        // replicas never pair) and would double the full run's wall
        // time. `runMain graft.Soak <sf> <mult> exact_jaccard`
        // reproduces the number.
        timed("exact_jaccard")(graft.ops.SetSimilarity.prefixFilterJoin(
          Dedup.shingles(docs, 3).groupBy(col("doc_id"))
            .agg(collect_set(col("g")).as("toks"))
            .select(col("doc_id"), col("toks")), 0.9)),
        timed("triangle_count")(graft.ops.Graph.triangleCounts(
          nodes, graft.ops.Graph.communityLinks(nodes))
          .filter(col("n_triangles") >= 0L)))
    }

    // waves 8-11. The narrow ops read docs and embeddings repartitioned
    // to 128: the single-file sf corpus scans as ONE partition and a
    // narrow op inherits it (measured: one core pinned for 26+ min in
    // hashed_inrow). A real 100 TB corpus is thousands of files; the
    // shuffle is charged once, outside every timed window. Events keep
    // user_id UNSALTED, so every user's timeline grows ×mult and a low
    // hotAt exercises the halo routing on genuinely hot keys while the
    // plain run funnels those same keys through single-task windows;
    // ts shifts per replica to keep (ts, tie) unique-ish.
    //  - ewma_plain / ewma_routed: same rows, so the routing overhead
    //    reads directly.
    //  - pmi: the in-row capped pair explode (≤ 48·47/2 rows/doc) feeds a
    //    map-side-combined aggregate — time tracks corpus tokens.
    //  - horizon_dedup: the (band, time-bucket) key bounds join fan-out;
    //    a quadratic would show as wall time.
    //  - containment: q25's capped index scored both ways — the delta
    //    over jaccard_capped is the both-directions cost.
    //  - kmv_sketch / kmv_overlap: one linear pass to |keys| sketch rows;
    //    the pair stage reads ONLY the sketch frame.
    //  - trailing_distinct / growth_accounting: inputs collapse to the
    //    calendar-bounded distinct (user, hour/day) grain first.
    //  - sketch_store: 3 appends + the weekly serve at raw volume.
    lazy val docsWide = docs.repartition(128).localCheckpoint()
    lazy val embWide = emb.repartition(128).localCheckpoint()
    lazy val toked = docsWide.withColumn("__toks", TextAnalysis.tokens(col("text")))
    lazy val toks = docsWide.select(col("source"),
      explode(TextAnalysis.tokens(col("text"))).as("t"))
    val evTl = ev.select(col("event_id"), (col("ts") + col("__replica")).as("ts"),
      col("user_id"), col("value"))
    val wave8to11 = Seq(
      timed("ewma_plain")(graft.ops.SkewWindows.trailingEwma(
        evTl, "user_id", "ts", "event_id", "value",
        alpha = 0.5, lookback = 8, hotAt = Long.MaxValue)),
      timed("ewma_routed")(graft.ops.SkewWindows.trailingEwma(
        evTl, "user_id", "ts", "event_id", "value",
        alpha = 0.5, lookback = 8, hotAt = 20000L)),
      timed("hashed_explode", toked)(graft.ops.FeatureHash.hashedCounts(
        toked, "doc_id", "__toks", dims = 64)),
      timed("hashed_inrow", toked)(graft.ops.FeatureHash.hashedCountsInRow(
        toked, "doc_id", "__toks", dims = 64)),
      timed("preference_pairs", docsWide)(graft.ops.Labeling.preferencePairs(docsWide)),
      timed("embedding_standardize", embWide)(graft.ops.Standardize.outlierSummary(
        embWide, "embedding", "vec_id")),
      timed("pmi", docsWide)(graft.ops.Collocations.pmiPairs(
        docsWide, "text", "doc_id", 48, 5L)),
      timed("horizon_dedup", docsWide)(Dedup.horizonNearDupPairs(
        docsWide, horizonDays = 7L)),
      timed("containment", docsWide)(Dedup.containmentPairs(docsWide, threshold = 0.6)),
      timed("kmv_sketch", toks)(graft.ops.KmvSketch.sketch(toks, "source", "t", 128)),
      timed("kmv_overlap", toks)(graft.ops.KmvSketch.overlapMatrix(
        graft.ops.KmvSketch.sketch(toks, "source", "t", 128), 128)),
      timed("kappa", docsWide)(graft.ops.Labeling.annotatorKappa(docsWide)),
      timed("trailing_distinct")(graft.ops.KmvSketch.trailingDistinct(
        evTl, windowHours = 24, k = 128)),
      timed("growth_accounting")(graft.ops.TimeSeries.growthAccounting(evTl)),
      timed("ab_test")(graft.ops.Experiment.abTest(evTl
        .withColumn("event_type",
          element_at(array(lit("a"), lit("b"), lit("c"), lit("d"), lit("e")),
            (pmod(col("event_id"), lit(5L)) + 1L).cast("int"))))),
      {
        if (!selected("sketch_store")) ("sketch_store", -1.0, -1L)
        else {
          spark.catalog.clearCache()
          val dst = base + "/kmv_store"
          val t0 = System.nanoTime()
          val h = expr("ts DIV 3600000000000")
          val minH = evTl.agg(min(h)).head().getLong(0)
          graft.ops.KmvSketch.appendDailySketches(
            evTl.filter(h < minH + 243L), dst, 128)
          graft.ops.KmvSketch.appendDailySketches(
            evTl.filter(h >= minH + 243L && h < minH + 486L), dst, 128)
          graft.ops.KmvSketch.appendDailySketches(
            evTl.filter(h >= minH + 486L), dst, 128)
          val rows = graft.ops.KmvSketch.serveRangeDistinct(spark, dst, 128,
            expr("CAST(day AS BIGINT) DIV 7")).count()
          ("sketch_store", (System.nanoTime() - t0) / 1e9, rows)
        }
      })

    // per-QUERY dirs-read fraction (one query, like PlanSpec): a batch's
    // scan cost is the union of its rings/cells and overstates the
    // per-probe claim — 5 queries x an 11-sig ring covers all 16 sig
    // dirs while a single probe reads its own ring only
    val oneQuery = queries.filter(col("query_id") === 0)
    def dirsFrac(dst: String, layout: String, prefix: String): Double = {
      val total = new java.io.File(dst).listFiles()
        .count(_.getName.startsWith(prefix + "="))
      val (corpus, _) =
        if (layout == "sig") Similarity.probedCorpus(spark, sigDst, oneQuery, 4)
        else Similarity.probedCellCorpus(spark, cellDst, oneQuery, 12)
      val read = corpus
        .select(regexp_extract(input_file_name(), prefix + "=\\d+", 0))
        .distinct().count()
      read.toDouble / total
    }
    val sigFrac = if (only.nonEmpty) -1.0 else dirsFrac(sigDst, "sig", "sig")
    val cellFrac = if (only.nonEmpty) -1.0 else dirsFrac(cellDst, "cell", "cell")

    // JL reduce-then-rerank probe: 5 fixed queries against the soaked
    // corpus — the coarse pass scans 96-byte projected rows, the exact
    // re-rank touches `rerank` float vectors per query
    var jlRows = 0L
    val jlProbeSec = timedSec {
      jlRows = graft.ops.Projection.projectedTopK(emb,
        emb0.filter(col("vec_id") < 5)).count()
    }

    val body = (results ++ wave6 ++ wave7 ++ wave8to11)
      .filter { case (l, _, _) => selected(l) }.map { case (l, s, r) =>
      f""""$l":{"sec":$s%.2f,"rows":$r}"""
    }.mkString(",")
    val ann = f""""ann_layouts":{"write_sig_sec":$writeSigSec%.2f,""" +
      f""""write_cell_sec":$writeCellSec%.2f,"lsh_probe_sec":$lshProbeSec%.2f,""" +
      f""""ivf_probe_sec":$ivfProbeSec%.2f,"lsh_probe_rows":$lshRows,""" +
      f""""ivf_probe_rows":$ivfRows,"sig_dirs_read_frac":$sigFrac%.2f,""" +
      f""""cell_dirs_read_frac":$cellFrac%.2f,""" +
      f""""semdedup_cells_sec":$semDedupSec%.2f,"semdedup_drops":$semRows,""" +
      f""""write_pq_sec":$writePqSec%.2f,"pq_probe_sec":$pqProbeSec%.2f,""" +
      f""""pq_probe_rows":$pqRows,"write_postings_sec":$writePostSec%.2f,""" +
      f""""bm25_index_probe_sec":$postProbeSec%.2f,"bm25_index_rows":$postRows,""" +
      f""""postings_dirs_read_frac":$postFrac%.2f,""" +
      f""""append_postings_1pct_sec":$postAppendSec%.2f,""" +
      f""""compact_postings_sec":$postCompactSec%.2f,""" +
      f""""append_cell_1pct_sec":$cellAppendSec%.2f,""" +
      f""""append_pq_1pct_sec":$pqAppendSec%.2f,""" +
      f""""write_minhash_sec":$writeMinhashSec%.2f,""" +
      f""""minhash_probe_1pct_sec":$mhProbeSec%.2f,""" +
      f""""minhash_probe_rows":$mhRows,""" +
      f""""append_minhash_1pct_sec":$mhAppendSec%.2f,""" +
      f""""tombstone_1pct_sec":$mhTombSec%.2f,""" +
      f""""purge_1pct_sec":$mhPurgeSec%.2f,"purged_docs":$purgedN,""" +
      f""""purged_buckets":$purgedBuckets,""" +
      f""""compact_minhash_sec":$mhCompactSec%.2f,""" +
      f""""rollup_partials_sec":$ruWriteSec%.2f,""" +
      f""""rollup_serve_sec":$ruServeSec%.2f,"rollup_days":$ruDays,""" +
      f""""rollup_append_1pct_sec":$ruAppendSec%.2f,"events":${nEv * mult},""" +
      f""""jl_probe_sec":$jlProbeSec%.2f,"jl_probe_rows":$jlRows}"""
    println(s"""{"mult":$mult,"docs":${nDocs * mult},"embeddings":${nEmb * mult},""" +
      s""""lsh_hottest_bucket":${bucketStats.getLong(0)},""" +
      s""""lsh_candidates":${bucketStats.getAs[Any](1)},$body,$ann}""")
    spark.stop()
  }
}
