package graft.queries

import graft.SparkSpec

/** Plan-regression guard: the physical-plan properties that make the
  * flagship queries scale are asserted, not just observed once — a
  * refactor that silently drops a pushdown or adds a shuffle fails here
  * long before it shows up in a benchmark. */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    // earlier suites may have left frames cached (e.g. q28's corpus);
    // a substituted InMemoryRelation re-prints its child's Scan lines in
    // toString, which would double-count scans — assert the standalone
    // plan shape
    spark.catalog.clearCache()
    graft.SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString
  }

  test("q01: filter pushed to parquet scan, whole-stage codegen, single exchange") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    assert(p.linesIterator.count(_.trim.startsWith("+- Exchange")) <= 2) // partial agg + order
    // AQE finalizes the plan only on execution; codegen stage markers
    // ("*(n)") are visible in the final adaptive plan
    val df = graft.SparkEntry.queries("q01_pricing_summary")(spark, dir)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("isFinalPlan=true"))
    assert(finalPlan.contains("*(1)"), s"no WholeStageCodegen stage in:\n$finalPlan")
  }

  test("q01: scan reads only the referenced columns") {
    val p = plan("q01_pricing_summary")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey"), s"column pruning lost: $readSchema")
    assert(readSchema.contains("l_quantity"))
  }

  test("q02: top-k is TakeOrderedAndProject, not a global sort") {
    val p = plan("q02_top_revenue")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q03: all dimension joins are broadcast") {
    val p = plan("q03_nation_revenue")
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 3)
    assert(!p.contains("SortMergeJoin"))
  }

  test("q04/q05: semi and anti joins plan as such") {
    assert(plan("q04_semi_join").contains("LeftSemi"))
    assert(plan("q05_anti_join").contains("LeftAnti"))
  }

  test("q16: as-of join is a merged-stream window, never an event x order join") {
    val p = plan("q16_asof_join")
    // the scale guarantee: the old equality-join-then-argmax plan
    // evaluated per-user event x order cross products (quadratic in a
    // hot user); the merged stream is union → per-user carry-forward
    // window → filter, linear per user. Since round 8 the plan DOES
    // contain joins — hot-key ROUTING (broadcast against the bounded
    // stats set) and the chunked heavy path's (user, chunk) summary
    // join — so the assertion is: no nest-loop/cartesian pairing, and
    // no shuffle join keyed by the bare user (that would re-create the
    // single-task hot partition routing exists to kill).
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"as-of regressed to a pairing join plan:\n$p")
    val shuffleJoinKeys =
      """(?:SortMergeJoin|ShuffledHashJoin) \[([^\]]*)\]""".r
        .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(shuffleJoinKeys.forall(k => k.contains("__chunk") || k.contains("__cc")),
      s"shuffle join keyed by the bare user: $shuffleJoinKeys")
    assert(p.contains("Window"), "expected the carry-forward window")
    assert(p.contains("Union"), "expected the tagged orders+events union")
  }

  test("q41/q48/q53/q66: per-key totals are hot-key-safe — no window keyed on the term/gram") {
    import org.apache.spark.sql.execution.window.WindowExec
    // the document-frequency idiom must be SkewJoin.withKeyTotal (a
    // map-side-combined aggregate + heavy/light join-back), never
    // count().over(partitionBy(term)): a window partition cannot be
    // split, so a stopword's every row would funnel through ONE task at
    // scale. Visible shape: the heavy branch's BroadcastHashJoin plus
    // the union of the branches; any surviving window is doc-keyed
    // (q41's rank); the tokenize subtree ran once inside the
    // checkpointed front end.
    for (q <- Seq("q41_tfidf", "q48_unigram_logprob", "q53_crossdoc_repetition",
                  "q66_bigram_logprob")) {
      val physical = graft.SparkEntry.queries(q)(spark, dir)
        .queryExecution.sparkPlan
      val windows = physical.collect { case w: WindowExec => w }
      windows.foreach { w =>
        val keys = w.partitionSpec.flatMap(_.references.map(_.name)).toSet
        assert(keys.nonEmpty && (keys - "doc_id").isEmpty,
          s"$q windows on a corpus-frequency key $keys: hot-key cliff")
      }
      val p = physical.toString
      assert(p.contains("BroadcastHashJoin"),
        s"$q lost the heavy-key broadcast branch:\n$p")
      assert(p.contains("Union"), s"$q lost the heavy/light union:\n$p")
    }
  }

  test("q42: global prefix sum is bucket-partitioned, never a single-task window") {
    val p = plan("q42_seq_packing")
    // the running sum must shuffle on the bucket column (parallel across
    // buckets) — an unpartitioned Window.orderBy funnels the corpus
    // through ONE task and would print SinglePartition here
    assert(p.contains("hashpartitioning(bucket"),
      s"prefix-sum window is not bucket-partitioned:\n$p")
    assert(!p.contains("SinglePartition"),
      s"a single-task exchange crept into the packing plan:\n$p")
    // bucket offsets ride a broadcast, not a shuffle join
    assert(p.contains("BroadcastExchange"))
  }

  test("q46: every unpartitioned window runs over aggregated input; raw rows only see the bounded (count, bucket) window") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val physical = graft.SparkEntry.queries("q46_curriculum")(spark, dir)
      .queryExecution.sparkPlan
    val windows = physical.collect { case w: WindowExec => w }
    assert(windows.size >= 3, "expected the three-piece rank's windows")
    windows.foreach { w =>
      val overAggregate = w.child.collectFirst { case a: BaseAggregateExec => a }.nonEmpty
      // a window straight over raw rows is only allowed when keyed by
      // BOTH the token count and the id bucket — partition size is then
      // bounded by the bucket width even if one count dominates
      val partKeys = w.partitionSpec.map(_.toString).mkString(",")
      assert(overAggregate ||
        (partKeys.contains("n_tok") && partKeys.contains("bucket")),
        s"raw-row window not (count, bucket)-bounded: partitioned by [$partKeys]")
    }
  }

  test("q88: the quantile window runs over aggregated histogram rows only") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val physical = graft.SparkEntry.queries("q88_length_quantiles")(spark, dir)
      .queryExecution.sparkPlan
    val windows = physical.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, "expected the cumulative histogram window")
    windows.foreach { w =>
      assert(w.child.collectFirst { case a: BaseAggregateExec => a }.nonEmpty,
        s"quantile window reads raw rows:\n$w")
    }
  }

  test("q44/q45: narrow aggregation queries — no sort-merge joins, totals ride broadcasts") {
    val p44 = plan("q44_ip_anonymize")
    // mask + pseudonym are codegen'd column work; the only joins AQE may
    // introduce are none — distinct-count expands plus one keyed agg
    assert(!p44.contains("SortMergeJoin") && !p44.contains("CartesianProduct"))
    assert(p44.contains("Expand"), "two countDistincts should plan as one Expand")

    val p45 = plan("q45_domain_mix")
    assert(p45.contains("BroadcastExchange"), "the 1-row normalizer must broadcast")
    assert(!p45.contains("SortMergeJoin") && !p45.contains("CartesianProduct"))
  }

  test("q47: int8 arrays stay off the all-pairs prefilter stream") {
    val p = plan("q47_semantic_dedup")
    // the pair generator is the nested-loop prefilter over narrow
    // (id, vector) rows; the quantized arrays join in afterwards via
    // broadcast — a sort-merge join anywhere means the verify side
    // started shuffling corpus-wide arrays
    assert(p.contains("BroadcastNestedLoopJoin"), s"prefilter shape changed:\n$p")
    assert(!p.contains("SortMergeJoin"), s"verify joins must broadcast the candidates:\n$p")
    val bnlLine = p.linesIterator.find(_.contains("BroadcastNestedLoopJoin")).get
    assert(!bnlLine.contains("q#") && !bnlLine.contains("qa") ,
      "quantized arrays leaked into the pair join")
  }

  test("q25: stop-shingle cap is a broadcast ANTI join, no cartesian pairs") {
    val p = plan("q25_ngram_jaccard")
    // the broadcast side must be the tiny STOP set (anti join) — a
    // broadcast of the rare set is O(corpus) and dies at scale
    assert(p.linesIterator.exists(l =>
        l.contains("BroadcastHashJoin") && l.contains("LeftAnti")),
      s"cap is not a broadcast anti join:\n$p")
    assert(!p.contains("CartesianProduct"), "all-pairs fallback crept in")
  }

  test("q25/q43: pair generation is join-free — no shuffle join keyed on the shingle") {
    // the capped pair build is ONE groupBy(g) + in-row pair explode; a
    // self-join on `g` (two shuffle reads + sort-merge of the shingle set)
    // regressing in would double the heaviest stage at scale
    for (q <- Seq("q25_ngram_jaccard", "q43_decontamination")) {
      val p = plan(q)
      val joinLines = p.linesIterator.filter(l =>
        l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin")).toSeq
      assert(joinLines.forall(!_.matches(""".*\[g#\d+.*""")),
        s"$q shuffles a join keyed on the shingle column:\n${joinLines.mkString("\n")}")
    }
  }

  test("q29: probe fan-out rides the broadcast side; corpus scanned once") {
    val p = plan("q29_ann_lsh")
    assert(p.contains("BroadcastHashJoin"), "bucket probe should be a broadcast join")
    // one corpus pass feeds both the signatures and the candidates — the
    // embeddings table must not be scanned more than twice (sig + probe)
    assert(p.linesIterator.count(l => l.contains("Scan parquet") && l.contains("embeddings")) <= 2,
      s"embeddings scanned repeatedly:\n$p")
  }

  test("sig-bucketed ANN probe statically prunes to the probe-ring partitions") {
    import org.apache.spark.sql.functions.{col, input_file_name, regexp_extract}
    val dst = java.nio.file.Files.createTempDirectory("graft-sigplan")
      .toFile.getAbsolutePath + "/emb"
    graft.ops.Similarity.writeSigBucketed(graft.Tables.embeddings(spark, dir), dst)
    // per-query scan cost is the claim — probe with a single query (a
    // batch's cost is the union of its rings)
    val queries = graft.Tables.embeddings(spark, dir).filter(col("vec_id") === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val (corpus, q) = graft.ops.Similarity.probedCorpus(spark, dst, queries, 4)

    // planning-time evidence: the probe-signature set lands as a
    // PARTITION filter on the scan (pruned before file listing), not a
    // post-scan data filter
    val p = corpus.queryExecution.executedPlan.toString
    assert(p.linesIterator.exists(l => l.contains("PartitionFilters") && l.contains("sig")),
      s"probe sigs did not become a partition filter:\n$p")

    // behavioral evidence: the scan touches at most the probe-ring
    // partitions, a strict subset of the layout. (This test is what
    // caught the degenerate Objects.hash planes: the whole corpus had
    // collapsed into 2 of 2^planes buckets.)
    val totalParts = new java.io.File(dst).listFiles().count(_.getName.startsWith("sig="))
    val probedSigs = q.select(col("psig")).distinct().count()
    // partition DIRS touched, not files — each dir holds one file per
    // write task
    val partsRead = corpus
      .select(regexp_extract(input_file_name(), "sig=\\d+", 0))
      .distinct().count()
    assert(totalParts >= 10, s"layout degenerate: only $totalParts occupied sig partitions")
    assert(probedSigs <= 11, s"Hamming-2 ring over 4 planes is 11 sigs, got $probedSigs")
    assert(partsRead <= probedSigs, s"read $partsRead dirs for $probedSigs probe sigs")
    assert(partsRead < totalParts,
      s"no pruning: $partsRead of $totalParts partitions read")
  }

  test("cell-bucketed (IVF) ANN probe reads a bounded fraction of the layout") {
    import org.apache.spark.sql.functions.{col, input_file_name, regexp_extract}
    val dst = java.nio.file.Files.createTempDirectory("graft-cellplan")
      .toFile.getAbsolutePath + "/emb"
    graft.ops.Similarity.writeCellBucketed(graft.Tables.embeddings(spark, dir), dst)
    val queries = graft.Tables.embeddings(spark, dir).filter(col("vec_id") === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val (corpus, q) =
      graft.ops.Similarity.probedCellCorpus(spark, dst, queries, nprobe = 12)

    val p = corpus.queryExecution.executedPlan.toString
    assert(p.linesIterator.exists(l => l.contains("PartitionFilters") && l.contains("cell")),
      s"probe cells did not become a partition filter:\n$p")

    val totalParts = new java.io.File(dst).listFiles().count(_.getName.startsWith("cell="))
    val probedCells = q.select(col("qcell")).distinct().count()
    val partsRead = corpus
      .select(regexp_extract(input_file_name(), "cell=\\d+", 0))
      .distinct().count()
    assert(totalParts >= 32, s"quantizer degenerate: only $totalParts occupied cells")
    assert(probedCells <= 12)
    assert(partsRead <= probedCells, s"read $partsRead dirs for $probedCells probe cells")
    // the sublinear claim: one query reads at most nprobe/nlist-ish of
    // the corpus partitions — well under half
    assert(partsRead * 2 < totalParts,
      s"pruning too weak: $partsRead of $totalParts partitions read")
  }

  test("posting-list BM25 probe reads only the query terms' buckets") {
    import org.apache.spark.sql.functions.{col, input_file_name, regexp_extract}
    val dst = java.nio.file.Files.createTempDirectory("graft-postplan")
      .toFile.getAbsolutePath + "/idx"
    graft.ops.Retrieval.writePostingsBucketed(
      graft.Tables.documents(spark, dir), dst, nBuckets = 16)
    val query = Seq("spark", "vector", "merge", "window")
    val (tf, dfreq, _) = graft.ops.Retrieval.probedPostings(spark, dst, query)

    // bucket isin is a STATIC partition filter; term IN reaches parquet
    for (frame <- Seq(tf, dfreq)) {
      val p = frame.queryExecution.executedPlan.toString
      assert(p.linesIterator.exists(l =>
        l.contains("PartitionFilters") && l.contains("bucket")),
        s"bucket set did not become a partition filter:\n$p")
      assert(p.linesIterator.exists(l =>
        l.contains("PushedFilters") && l.contains("term")),
        s"term IN not pushed to the scan:\n$p")
    }

    // and the files actually read honor it: ≤ |query buckets| dirs, a
    // strict subset of the layout — probe cost tracks the query's
    // posting lists, not the corpus
    val totalParts = new java.io.File(dst).listFiles()
      .count(_.getName.startsWith("bucket="))
    val queryBuckets = query.map(graft.ops.BucketStore.termBucket(_, 16)).distinct.size
    val partsRead = tf
      .select(regexp_extract(input_file_name(), "bucket=\\d+", 0))
      .distinct().count()
    assert(totalParts >= 12, s"layout degenerate: $totalParts buckets occupied")
    assert(partsRead <= queryBuckets, s"read $partsRead dirs for $queryBuckets buckets")
    assert(partsRead * 2 < totalParts,
      s"no pruning: $partsRead of $totalParts partitions read")
  }

  test("q37/q38/q39: in-row HOF queries plan as pure narrow maps — no hash shuffle") {
    for (name <- Seq("q37_repetition", "q38_quantize", "q39_filter_pipeline")) {
      val p = plan(name)
      // the only allowed exchange is the rangepartitioning for the final
      // deterministic orderBy; gram construction / distinct / quantization
      // must all stay in-row
      val hashEx = p.linesIterator.count(l =>
        l.contains("Exchange hashpartitioning"))
      assert(hashEx == 0, s"$name grew a hash shuffle:\n$p")
      assert(!p.contains("Generate"), s"$name explodes rows:\n$p")
    }
  }

  test("q49: unpartitioned windows only over aggregated input; priority prefix broadcast") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val physical = graft.SparkEntry.queries("q49_token_budget")(spark, dir)
      .queryExecution.sparkPlan
    val windows = physical.collect { case w: WindowExec => w }
    assert(windows.nonEmpty)
    windows.foreach { w =>
      // a window may touch raw rows only when its partition spec bounds
      // the partition (the (priority, bucket) cells); an UNPARTITIONED
      // window must sit above an aggregate or it corpus-sorts one task
      if (w.partitionSpec.isEmpty) {
        val aggBelow = w.child.collectFirst { case a: BaseAggregateExec => a }
        assert(aggBelow.nonEmpty,
          s"global window over raw rows — whole corpus through one task:\n$w")
      }
    }
    val p = physical.toString
    assert(p.contains("BroadcastHashJoin"), s"priority prefix is not broadcast:\n$p")
  }

  test("q50: vocabulary cut is a bounded TakeOrdered, not a global sort") {
    val p = plan("q50_vocab_coverage")
    assert(p.contains("TakeOrderedAndProject"), s"vocab cut plans as a full sort:\n$p")
  }

  test("q51: char entropy is a pure narrow map — no hash shuffle, no explode") {
    val p = plan("q51_char_entropy")
    val hashEx = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning"))
    assert(hashEx == 0, s"q51 grew a hash shuffle:\n$p")
    assert(!p.contains("Generate"), s"q51 explodes rows:\n$p")
  }

  test("q52: stratified sample is the bounded top_k aggregate, no window, no sort-based rank") {
    import org.apache.spark.sql.execution.window.WindowExec
    val physical = graft.SparkEntry.queries("q52_stratified_sample")(spark, dir)
      .queryExecution.sparkPlan
    assert(physical.collect { case w: WindowExec => w }.isEmpty,
      "sample regressed to a row_number window (per-stratum single-task sort)")
    assert(physical.toString.contains("top_k"), "bounded top_k aggregate missing")
  }

  test("q56: permutation rank is hash-range-bucketed, never a single-task window") {
    val p = plan("q56_epoch_shuffle")
    // the row_number must shuffle on the (uniform-by-construction) hash
    // bucket; an unpartitioned ORDER BY window would print SinglePartition
    assert(p.contains("hashpartitioning(bucket"),
      s"epoch-shuffle rank is not bucket-partitioned:\n$p")
    assert(!p.contains("SinglePartition"),
      s"a single-task exchange crept into the shuffle plan:\n$p")
    assert(p.contains("BroadcastExchange"), "bucket offsets must broadcast")
  }

  test("q54/q55: every window runs over aggregated input; q55 joins are broadcast") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    for (q <- Seq("q54_sliding_hourly", "q55_winsorized")) {
      val physical = graft.SparkEntry.queries(q)(spark, dir)
        .queryExecution.sparkPlan
      val windows = physical.collect { case w: WindowExec => w }
      assert(windows.nonEmpty, s"$q lost its windows")
      windows.foreach { w =>
        val aggBelow = w.child.collectFirst { case a: BaseAggregateExec => a }
        assert(aggBelow.nonEmpty,
          s"$q windows raw rows — per-group single-task sort at scale:\n$w")
      }
    }
    val p = plan("q55_winsorized")
    assert(!p.contains("SortMergeJoin"),
      s"q55's rank/bound frames should ride broadcasts:\n$p")
  }

  test("q33: no window sorts raw rows — every window runs over aggregated input") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    // sparkPlan (pre-AQE) — the adaptive wrapper hides children from collect
    val physical = graft.SparkEntry.queries("q33_median_disc")(spark, dir)
      .queryExecution.sparkPlan
    val windows = physical.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, "expected the two-phase selection's windows in the plan")
    windows.foreach { w =>
      val aggBelow = w.child.collectFirst { case a: BaseAggregateExec => a }
      assert(aggBelow.nonEmpty,
        s"window over raw (unaggregated) rows — single-task group sort at scale:\n$w")
    }
  }

  test("q67: data card — the median window runs over the histogram, never raw docs") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val physical = graft.SparkEntry.queries("q67_data_card")(spark, dir)
      .queryExecution.sparkPlan
    val windows = physical.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, "expected the median selection's cumulative window")
    windows.foreach { w =>
      val aggBelow = w.child.collectFirst { case a: BaseAggregateExec => a }
      assert(aggBelow.nonEmpty,
        s"window over raw (unaggregated) rows — single-task group sort at scale:\n$w")
    }
  }

  test("q58: postings pre-pruned in-row before the explode; df broadcast; bounded top-k") {
    val p = plan("q58_bm25")
    assert(p.contains("TakeOrderedAndProject(limit=20"),
      s"BM25 top-k plans as a global sort:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"df join is not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"))
    // the Generate must explode the FILTERED array (only query-term hits
    // become rows), never the raw token list — the 36× row-flood guard
    val gen = p.linesIterator.find(_.contains("Generate explode"))
    assert(gen.exists(_.contains("array_contains")),
      s"explode consumes the unfiltered token array:\n$p")
  }

  test("q59/q60: chunking and PII redaction are pure narrow maps — no hash shuffle") {
    for (name <- Seq("q59_chunking", "q60_pii_redact")) {
      val p = plan(name)
      val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(hashEx == 0, s"$name grew a hash shuffle:\n$p")
    }
    assert(!plan("q60_pii_redact").contains("Generate"),
      "PII scan explodes rows — regex counting must stay in-row")
  }

  test("q69: divergence is windowless; per-source totals ride broadcasts") {
    import org.apache.spark.sql.execution.window.WindowExec
    val physical = graft.SparkEntry.queries("q69_source_divergence")(spark, dir)
      .queryExecution.sparkPlan
    assert(physical.collect { case w: WindowExec => w }.isEmpty,
      "KL aggregation grew a window — totals must come from re-aggregation")
    val p = physical.toString
    assert(p.contains("BroadcastHashJoin"),
      s"source totals / corpus total are not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q70: substring-dup span windows are doc-partitioned, never global") {
    import org.apache.spark.sql.execution.window.WindowExec
    val physical = graft.SparkEntry.queries("q70_substring_dup")(spark, dir)
      .queryExecution.sparkPlan
    val wins = physical.collect { case w: WindowExec => w }
    assert(wins.nonEmpty, "span merge should plan as window functions")
    wins.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        s"a span window lost its doc_id partition (single-task corpus sort):\n$w")
    }
    assert(!physical.toString.contains("CartesianProduct"))
  }

  test("q71: hard-negative probe rides broadcasts; final cut is bounded top_k") {
    import org.apache.spark.sql.execution.window.WindowExec
    // audit the lazy dataflow — the public wrapper collects the bounded
    // result to release its caches, which hides the plan behind a
    // local relation
    val (lazyOut, caches) = graft.ops.Retrieval.hardNegativesLazy(
      graft.Tables.documents(spark, dir),
      org.apache.spark.sql.functions.col("doc_id") % 100 === 0, 10, 0L)
    val physical = lazyOut.queryExecution.sparkPlan
    caches.foreach(_.unpersist())
    assert(physical.collect { case w: WindowExec => w }.isEmpty,
      "ranking regressed to a per-query window over the corpus")
    val p = physical.toString
    assert(p.contains("partial_top_k"),
      s"per-query cut is not the map-side-combined top_k aggregate:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"query-term probe is not a broadcast-hash join:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q72: leakage split is windowless sparse-edge joins, no cartesian") {
    import org.apache.spark.sql.execution.window.WindowExec
    val physical = graft.SparkEntry.queries("q72_leakage_split")(spark, dir)
      .queryExecution.sparkPlan
    assert(physical.collect { case w: WindowExec => w }.isEmpty)
    assert(!physical.toString.contains("CartesianProduct"))
  }

  test("q77: DSIR model join is broadcast, top-K bounded, no window") {
    import org.apache.spark.sql.execution.window.WindowExec
    // audit the lazy dataflow — the public wrapper collects the bounded
    // result to release its cache (q71's pattern)
    val (lazyOut, cache) = graft.ops.Importance.dsirTopKLazy(spark,
      graft.Tables.documents(spark, dir),
      org.apache.spark.sql.functions.col("source") === "src0", 50)
    val physical = lazyOut.queryExecution.sparkPlan
    cache.unpersist()
    assert(physical.collect { case w: WindowExec => w }.isEmpty,
      "DSIR scoring grew a window")
    val p = physical.toString
    assert(p.contains("BroadcastHashJoin"),
      s"the 128-row model table is not broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-K selection is a global sort, not TakeOrdered:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q78/q79: drift and length-bucket aggregates are windowless partial aggs") {
    import org.apache.spark.sql.execution.window.WindowExec
    for (q <- Seq("q78_temporal_drift", "q79_length_buckets")) {
      val physical = graft.SparkEntry.queries(q)(spark, dir)
        .queryExecution.sparkPlan
      assert(physical.collect { case w: WindowExec => w }.isEmpty, s"$q grew a window")
      assert(!physical.toString.contains("CartesianProduct"),
        s"$q plans a cartesian product")
    }
    // q79's whole dataflow is ONE aggregation exchange plus the
    // presentation sort — any extra shuffle is a regression
    val p79 = graft.SparkEntry.queries("q79_length_buckets")(spark, dir)
      .queryExecution.sparkPlan.toString
    assert(p79.linesIterator.count(_.trim.startsWith("+- Exchange")) <= 2, p79)
  }

  test("q80: canonical selection is an aggregate argmax, never a per-cluster window") {
    import org.apache.spark.sql.execution.window.WindowExec
    val physical = graft.SparkEntry.queries("q80_canonical_docs")(spark, dir)
      .queryExecution.sparkPlan
    assert(physical.collect { case w: WindowExec => w }.isEmpty,
      "cluster winner regressed to a row_number window (single-task monster clusters)")
    assert(!physical.toString.contains("CartesianProduct"))
  }

  test("q92: the JL projection is a pure narrow map — no hash shuffle, no join") {
    val p = plan("q92_random_projection")
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 0, s"projection grew a hash shuffle:\n$p")
    assert(!p.contains("Join"), s"projection grew a join:\n$p")
    assert(!p.contains("Generate"), s"projection explodes rows:\n$p")
  }

  test("q93: eval side broadcasts; no sort-merge join, no corpus window") {
    val p = plan("q93_semantic_decontamination")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"eval suite must ride a broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"the scoring join must not shuffle the corpus:\n$p")
    assert(!p.contains("CartesianProduct"), s"unbroadcast cartesian:\n$p")
  }

  test("q95: windows only over the per-lang aggregate, never the corpus") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val physical = graft.SparkEntry.queries("q95_mixture_allocation")(spark, dir)
      .queryExecution.sparkPlan
    val windows = physical.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, "expected the ranked prefix windows")
    windows.foreach { w =>
      val aggBelow = w.child.collectFirst { case a: BaseAggregateExec => a }
      assert(aggBelow.nonEmpty,
        s"window over raw (unaggregated) rows:\n$w")
    }
  }

  test("skew-window diagnose: one map-side-combined pass over pruned columns") {
    // the adaptive hot-key gate's ONLY cost when no key is hot (the
    // q07/q14/q16 common case) is this aggregate — pin the two physical
    // properties that keep it one cheap pass at any corpus size:
    // partial aggregation BEFORE the exchange (shuffle carries |keys|
    // partial rows, never |rows|), and a scan pruned to exactly the
    // (key, t) columns the diagnose reads.
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.functions.col
    val ev = graft.Tables.events(spark, dir).select("user_id", "ts", "event_id")
    val stats = graft.ops.SkewWindows.hotKeyStats(
      ev, "user_id", col("ts"), hotAt = 1000000L, chunkTarget = 65536L)
    val physical = stats.queryExecution.sparkPlan
    // ≤1: at sf0.001 the single input partition lets Catalyst colocate
    // partial+final with NO exchange at all; at scale the one exchange
    // carries |keys| partial rows, never |rows|
    val exchanges = physical.collect { case e: ShuffleExchangeLike => e }
    assert(exchanges.length <= 1, s"diagnose must be one agg pass:\n$physical")
    val partialAgg = physical.collectFirst {
      case a: BaseAggregateExec if a.aggregateExpressions
        .exists(_.mode.toString.toLowerCase.contains("partial")) => a
    }
    assert(partialAgg.nonEmpty,
      s"no map-side combine in the diagnose pass:\n$physical")
    val readSchema = physical.toString.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("user_id") && readSchema.contains("ts"),
      s"diagnose lost its columns: $readSchema")
    assert(!readSchema.contains("event_id") && !readSchema.contains("event_type"),
      s"diagnose reads columns it never uses: $readSchema")
  }

  test("q61: source quota is the bounded top_k aggregate, no window") {
    import org.apache.spark.sql.execution.window.WindowExec
    val physical = graft.SparkEntry.queries("q61_source_quota")(spark, dir)
      .queryExecution.sparkPlan
    assert(physical.collect { case w: WindowExec => w }.isEmpty,
      "quota regressed to a row_number window (per-source single-task sort)")
    val p = physical.toString
    assert(p.contains("partial_top_k"),
      s"per-source selection is not map-side combined:\n$p")
  }
}
