package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** q57: the END-TO-END training-set decision — the pipeline a real
  * training-data run executes, composed from the engine's own operators
  * in the canonical order, with the FIRST failing stage as each
  * document's machine-readable verdict:
  *
  *   1. quality filter (q39 rules)              → `quality:<reason>`
  *   2. exact dedup, q24's 8-token-prefix key   → `exact_dup` (keep min id)
  *   3. near-dup clusters: q25 capped-Jaccard
  *      pairs → connected components            → `near_dup` (keep min id)
  *   4. benchmark decontamination vs the TEST
  *      split (q43's capped-shingle overlap)    → `contaminated`
  *   5. greedy token budget (q49's prefix)      → `over_budget`
  *   6. survivors                               → `keep`
  *
  * Output: one verdict row per TRAIN-split document. Each stage's
  * membership is exactly the previous stage's keepers, so the oracle
  * replays the whole cascade stage-for-stage (including the recursive
  * transitive closure) and the verdict column must hash-match.
  *
  * Scale: every stage is one of the engine's audited dataflows — no new
  * shuffle shapes are introduced by composing them; intermediate keeper
  * sets are id+text projections of the corpus, never collected.
  *
  * Two execution modes share the SAME stage expressions (the private
  * `stage*` defs below), so they cannot drift:
  *   - [[q57PipelineDecision]]: one in-session pass, stage keepers
  *     pinned via localCheckpoint;
  *   - [[runStaged]]: each stage's output persisted to parquet with a
  *     completion marker — a killed 100-TB run resumes at the first
  *     incomplete stage instead of at the scan.
  */
object Pipeline {

  /** Stage 1: quality verdict over the train docs (pure per-row rule). */
  private[ops] def stageQuality(train: DataFrame): DataFrame =
    TextAnalysis.filterVerdicts(train).select(col("doc_id"), col("reason"))

  private[ops] def keep1Of(train: DataFrame, fv: DataFrame): DataFrame =
    train.join(fv.filter(col("reason") === "keep").select("doc_id"), "doc_id")

  /** Stage 2 core: every quality keeper with its exact-dup canonical
    * (`can` = min doc_id sharing the 8-token-prefix key). The in-session
    * path splits this ONE frame into dropped/kept (no re-evaluation of
    * keep1); the staged path persists only the dropped ids. */
  private[ops] def stageExactSplit(keep1: DataFrame): DataFrame = {
    val keyed = keep1.withColumn("gk", md5(TextAnalysis.prefixTokens(col("text"), 8)))
    val canon = keyed.groupBy(col("gk")).agg(min(col("doc_id")).as("can"))
    keyed.join(canon, "gk")
  }

  /** Stage 2: ids dropped as exact duplicates of a smaller-id
    * 8-token-prefix twin among the quality keepers. */
  private[ops] def stageExactDrop(keep1: DataFrame): DataFrame =
    stageExactSplit(keep1).filter(col("doc_id") =!= col("can"))
      .select(col("doc_id"))

  /** Stage 3: non-canonical members of near-dup clusters among the
    * exact-keepers — capped Jaccard pairs (df cap computed over keep2,
    * the population being deduped) → components by min-label
    * propagation; the canonical (min-id) member survives.
    * (Measured, not kept: sharing ONE raw shingle pass between this
    * stage and stage 4 — keep3 ⊂ keep2, so it looks free — is a
    * wash-to-regression at sf0.1 (6.4→7.2 s): materializing the
    * shared raw set costs what the saved tokenize pass gains.) */
  private[ops] def stageNearDrop(keep2: DataFrame): DataFrame = {
    val pairs = Dedup.jaccardPairs(keep2, 3, 0.5, maxDocFreq = 50L,
      pin = Pin.Checkpoint)
      .select(col("d1"), col("d2"))
    val cc = Dedup.connectedComponents(keep2.select(col("doc_id").as("id")), pairs)
    cc.filter(col("id") =!= col("component"))
      .select(col("id").as("doc_id"))
  }

  /** Stage 4: surviving train docs sharing ≥ minShared informative
    * shingles with any benchmark (test-split) document — the cap
    * computed over the (keep3 ∪ test) population. */
  private[ops] def stageContaminated(keep3: DataFrame, testDocs: DataFrame,
                                     minShared: Long): DataFrame = {
    val sh = Dedup.cappedShingleSet(keep3.unionByName(testDocs), 3, 50L)
      .withColumn("side",
        when(Splits.of(col("doc_id")) === "test", "te").otherwise("tr"))
    sh.groupBy(col("g")).agg(
        collect_list(when(col("side") === "te", col("doc_id"))).as("t_ids"),
        collect_list(when(col("side") === "tr", col("doc_id"))).as("tr_ids"))
      .select(explode(flatten(transform(col("t_ids"), t =>
        transform(col("tr_ids"),
          tr => struct(t.as("t_doc"), tr.as("tr_doc")))))).as("p"))
      .groupBy(col("p.tr_doc").as("doc_id"), col("p.t_doc").as("t_doc"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .select(col("doc_id")).distinct()
  }

  /** Stage 5: greedy token budget over the survivors. */
  private[ops] def stageBudget(keep4: DataFrame, budget: Long): DataFrame =
    Selection.tokenBudget(keep4, budget)
      .select(col("doc_id"), col("selected"))

  /** Verdict assembly: first failing stage wins. */
  private def assembleVerdicts(train: DataFrame, fv: DataFrame,
                               dropExact: DataFrame, dropNear: DataFrame,
                               contaminated: DataFrame, tb: DataFrame): DataFrame =
    train.select(col("doc_id"))
      .join(fv, "doc_id")
      .join(dropExact.withColumn("xd", lit(true)), Seq("doc_id"), "left")
      .join(dropNear.withColumn("nd", lit(true)), Seq("doc_id"), "left")
      .join(contaminated.withColumn("ct", lit(true)), Seq("doc_id"), "left")
      .join(tb, Seq("doc_id"), "left")
      .withColumn("verdict",
        when(col("reason") =!= "keep", concat(lit("quality:"), col("reason")))
          .when(col("xd"), "exact_dup")
          .when(col("nd"), "near_dup")
          .when(col("ct"), "contaminated")
          .when(!col("selected"), "over_budget")
          .otherwise("keep"))
      .select(col("doc_id"), col("verdict"),
        (col("verdict") === "keep").as("selected"))
      .orderBy(col("doc_id"))

  def q57PipelineDecision(s: SparkSession, dir: String,
                          budget: Long = 8000L, minShared: Long = 5L): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val train = docs.filter(Splits.of(col("doc_id")) === "train")

    // Stage keepers feed MANY downstream consumers (the next stage, the
    // verdict assembly, and the actions inside CC / the budget prefix).
    // Without pinning, every consumer re-evaluates the whole composed
    // lineage — measured 45 s at sf0.1 vs ~4 s pinned.
    val fv = Pin.Checkpoint(stageQuality(train))
    val keep1 = keep1Of(train, fv)
    // ONE pin of the exact-split frame: dropExact/keep2 are cheap
    // filters over the cached rows — the old two pins each re-evaluated
    // the whole keyed-join lineage as its own job (r15)
    val wc = Pin.Checkpoint(stageExactSplit(keep1)
      .select(col("doc_id"), col("can"), col("text")))
    val dropExact = wc.filter(col("doc_id") =!= col("can"))
      .select(col("doc_id"))
    val keep2 = wc.filter(col("doc_id") === col("can"))
      .select(col("doc_id"), col("text"))
    val dropNear = stageNearDrop(keep2)
    val keep3 = keep2.join(dropNear, Seq("doc_id"), "left_anti")
    val testDocs = docs.filter(Splits.of(col("doc_id")) === "test")
    val contaminatedPinned = Pin.Checkpoint(stageContaminated(keep3, testDocs, minShared))
    val keep4 = Pin.Checkpoint(keep3.join(contaminatedPinned, Seq("doc_id"), "left_anti"))
    val tb = stageBudget(keep4, budget)
    assembleVerdicts(train, fv, dropExact, dropNear, contaminatedPinned, tb)
  }

  /** RESUMABLE staged execution of the same cascade — the operational
    * mode for a multi-hour 100-TB run, where "the cluster died at stage
    * 4" must not mean "pay stages 1–3 again":
    *
    *   - each stage's output (the SAME `stage*` expression q57 runs)
    *     is written once to `dst/stageN_<name>/` as parquet;
    *   - a `dst/_markers/stageN.done` marker — carrying the stage's
    *     PARAMETERS — is created only after the write committed and
    *     re-read; a crash between write and marker leaves a dir that
    *     the next run deletes and recomputes (the `ExportJob.Tracking`
    *     idempotency contract, applied per stage);
    *   - a completed stage is read back from parquet, so downstream
    *     stages never re-evaluate its lineage (the parquet file IS the
    *     pin — stronger than localCheckpoint, it survives the session);
    *   - a marker whose recorded parameters differ from the call's
    *     (different budget / minShared) invalidates that stage and
    *     every later one — resume never serves a stale cut.
    *
    * Returns the same verdict frame as [[q57PipelineDecision]] — proven
    * by the declared gate query q90 (same oracle SQL as q57) and by
    * PipelineSpec's byte-stability / crash-recovery tests. */
  def runStaged(s: SparkSession, dir: String, dst: String,
                budget: Long = 8000L, minShared: Long = 5L): DataFrame = {
    val root = new Path(dst)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)

    def markerPath(n: Int) = new Path(root, s"_markers/stage$n.done")
    def markerParams(n: Int): Option[String] =
      if (!fs.exists(markerPath(n))) None
      else {
        val in = fs.open(markerPath(n))
        try {
          val bytes = new Array[Byte](4096)
          val read = in.read(bytes)
          Some(new String(bytes, 0, math.max(read, 0), "UTF-8"))
        } finally in.close()
      }

    // Parameter invalidation cascades FORWARD: a stage whose params
    // changed taints every later stage (their inputs changed).
    var tainted = false
    def stage(n: Int, name: String, params: String)(compute: => DataFrame): DataFrame = {
      val out = new Path(root, s"stage${n}_$name")
      val fresh = !tainted && markerParams(n).contains(params) && fs.exists(out)
      if (fresh) s.read.parquet(out.toString)
      else {
        tainted = true
        fs.delete(out, true)
        fs.delete(markerPath(n), true)
        val df = compute
        val sch = df.schema
        df.write.mode(SaveMode.Overwrite).option("compression", "snappy")
          .parquet(out.toString)
        // validate the committed output with a read BEFORE marking done
        // (the explicit schema keeps the read well-defined even if an
        // empty stage left only metadata behind)
        val committed = s.read.schema(sch).parquet(out.toString)
        committed.count()
        val o = fs.create(markerPath(n), true)
        o.write(params.getBytes("UTF-8")); o.close()
        committed
      }
    }

    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val train = docs.filter(Splits.of(col("doc_id")) === "train")

    val fv = stage(1, "quality", "rules=q39")(stageQuality(train))
    val keep1 = keep1Of(train, fv)
    val dropExact = stage(2, "exact", "key=prefix8")(stageExactDrop(keep1))
    val keep2 = keep1.join(dropExact, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("text"))
    val dropNear = stage(3, "neardup", "k=3,thr=0.5,dfcap=50")(stageNearDrop(keep2))
    val keep3 = keep2.join(dropNear, Seq("doc_id"), "left_anti")
    val testDocs = docs.filter(Splits.of(col("doc_id")) === "test")
    val contaminated = stage(4, "contam", s"minShared=$minShared")(
      stageContaminated(keep3, testDocs, minShared))
    val keep4 = keep3.join(contaminated, Seq("doc_id"), "left_anti")
    val tb = stage(5, "budget", s"budget=$budget")(stageBudget(keep4, budget))
    assembleVerdicts(train, fv, dropExact, dropNear, contaminated, tb)
  }

  /** q90: the staged pipeline as a DECLARED query — the resume-capable
    * execution path proven in the driver gate against q57's own oracle
    * (identical SQL, identical defaults). Rebuilds the staged layout
    * from scratch every run (the q89 staleness rule: the gate must
    * never read stages stale against regenerated testdata); a standing
    * deployment keeps `dst` and pays only incomplete stages. */
  def q90StagedPipeline(s: SparkSession, dir: String): DataFrame = {
    val dst = graft.Sidecars.path("graft_staged_pipeline")
    val root = new Path(dst)
    root.getFileSystem(s.sparkContext.hadoopConfiguration).delete(root, true)
    runStaged(s, dir, dst)
  }
}
