package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Specs for the extension operators beyond what the DuckDB oracle covers:
  * the stubbed multimodal dataflow and recall/consistency properties of
  * the approximate dedup/similarity paths. */
class OpsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("data card: planted corpus — tie-break, lower median, dup and keep rates") {
    import spark.implicits._
    def words(prefix: String, n: Int): String =
      (1 to n).map(i => s"$prefix$i").mkString(" ")
    val shared = words("t", 8)
    val docs = Seq(
      // source a: en/de tie on count → top_lang must break to "de";
      // doc 2 and 4 share the 8-token prefix → one dup pair;
      // token counts [5,10,15,18] → lower median (k=2) = 10; all short → keep_rate 0
      (1L, words("a", 5), "en", "a"),
      (2L, shared + " x y", "en", "a"),
      (3L, words("b", 15), "de", "a"),
      (4L, shared + " " + words("c", 10), "de", "a"),
      // source b: one 30-token clean doc → keeps, median 30, no dups
      (5L, (1 to 30).map(i => f"word$i%04d").mkString(" "), "fr", "b"))
      .toDF("doc_id", "text", "lang", "source")
    val card = DataCard.dataCard(docs).collect()
    assert(card.length == 2)
    val a = card(0)
    assert(a.getString(0) == "a" && a.getLong(1) == 4 && a.getLong(2) == 2)
    assert(a.getString(3) == "de", "top-lang tie must break to the smallest code")
    assert(a.getDouble(4) == 0.5)
    assert(a.getLong(5) == 48 && a.getLong(6) == 10)
    assert(a.getDouble(7) == 0.25, "2 docs sharing the 8-token prefix = 3 uniq of 4")
    assert(a.getDouble(8) == 0.0)
    val b = card(1)
    assert(b.getString(0) == "b" && b.getLong(1) == 1 && b.getLong(6) == 30)
    assert(b.getDouble(7) == 0.0 && b.getDouble(8) == 1.0)
  }

  test("substring dup: planted runs — alignment-free detection, span merge, zero-dup docs") {
    import spark.implicits._
    // a 30-char run with no internal 20-gram repeats, shared by docs 1/2
    // at DIFFERENT offsets (strided shingling would miss the unaligned
    // copy; every-position windows must not)
    val run = "0123456789ABCDEFGHIJ0123456789"
    // a 25-char non-self-similar run repeated TWICE inside doc 3 (the
    // same-doc duplication criterion), separated by > k unique chars
    val rep = "abcdefghijklmnopqrstuvwxy"
    // boundary chars around each planted occurrence are all DISTINCT —
    // a shared boundary char would extend the duplicated run one char
    // past the plant (the straddling window matches too; the operator
    // is right to count it, the fixture just pins exact numbers)
    val docs = Seq(
      (1L, "PAD-ONE-LEFT(" + run + ")PAD-ONE-RIGHT-FILLER"),
      (2L, "Q2<" + run + ">SECOND-DOC-TAIL-PADDING-UNIQUE"),
      (3L, "u1-start[" + rep + "]MIDDLE-SEPARATOR-LONG-ENOUGH{" + rep + "}u3-end"),
      (4L, "totally unique text with no repeated twenty char spans at all"))
      .toDF("doc_id", "text")
    val out = Dedup.substringDupStats(docs, 20).collect()
    val byId = out.map(r => r.getLong(0) -> r).toMap
    // docs 1/2: 11 duplicated window starts merging to one 30-char span
    for (id <- Seq(1L, 2L)) {
      assert(byId(id).getLong(2) == 11, s"doc $id dup_positions")
      assert(byId(id).getLong(3) == 30, s"doc $id dup_chars: the merged run, not 11*20")
    }
    // doc 3: two islands of 6 windows each -> 2 * 25 duplicated chars
    assert(byId(3L).getLong(2) == 12 && byId(3L).getLong(3) == 50)
    // doc 4: zero everywhere, but the row must still be emitted
    assert(byId(4L).getLong(2) == 0 && byId(4L).getLong(3) == 0
      && byId(4L).getDouble(4) == 0.0)
    assert(byId(1L).getDouble(4) ==
      BigDecimal(30.0 / byId(1L).getLong(1)).setScale(12,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("mixture interleave: every prefix tracks the target mixture; ranks contiguous") {
    val docs = graft.Tables.documents(spark, dir)
    val out = Mixing.mixtureInterleave(docs, 200).collect()
    assert(out.map(_.getLong(0)).toSeq == (1L to out.length).toSeq,
      "global positions must be 1..n with no gaps")
    val weights = Mixing.domainWeights(docs).select(col("source"), col("weight"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // the stride-scheduling guarantee: after ANY prefix of t emissions,
    // each source's count sits within ~1 of t·w — the trainer sees the
    // target mixture from the first batch (bound: 0.5 phase slack +
    // w·m/2 from virtual-time skew across m sources)
    val m = weights.size
    val counts = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    out.zipWithIndex.foreach { case (r, i) =>
      counts(r.getString(2)) += 1
      val t = i + 1
      weights.foreach { case (s, w) =>
        val dev = math.abs(counts(s) - t * w)
        assert(dev <= 0.5 + w * m / 2.0 + 1e-9,
          s"prefix $t: source $s count ${counts(s)} vs target ${t * w}")
      }
    }
    // each source's emitted ranks are its own 1..k in stream order —
    // the per-source shuffle order is consumed without skips
    out.groupBy(_.getString(2)).foreach { case (s, rows) =>
      val ranks = rows.sortBy(_.getLong(0)).map(_.getLong(3)).toSeq
      assert(ranks == (1L to ranks.length.toLong), s"source $s ranks: $ranks")
    }
  }

  test("quality model: learns beyond the majority class; weights partition-invariant") {
    val docs = graft.Tables.documents(spark, dir)
    val out = QualityModel.q68QualityModel(spark, dir).cache()
    val n = out.count().toDouble
    val acc = out.filter(col("correct")).count() / n
    val majority = out.groupBy(col("label")).count()
      .agg(max(col("count"))).collect()(0).getLong(0) / n
    assert(acc > majority,
      s"accuracy $acc does not beat the trivial classifier $majority")
    assert(acc >= 0.95, s"accuracy $acc below the 0.95 bar")
    // determinism: the decimal gradient sums make the trained weights a
    // pure function of the data, not of partitioning or task order
    val feats = QualityModel.features(docs)
    val w1 = QualityModel.trainLogistic(feats, iters = 3)
    val w2 = QualityModel.trainLogistic(feats.repartition(7), iters = 3)
    assert(w1.sameElements(w2), s"weights drift under repartition:\n${w1.toSeq}\n${w2.toSeq}")
  }

  test("multimodal payloads ride the shard writer byte-exact, in permutation order") {
    val media = Multimodal.mediaTable(spark, dir)
    val assign = Selection.epochShuffle(media.select(col("doc_id")),
      epoch = 1, docsPerShard = 16L)
    val dst = java.nio.file.Files.createTempDirectory("graft-media-shards").toString
    Sharding.writeShards(media, assign, dst)
    val srcMd5 = media.select(col("doc_id"), md5(col("payload")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val order = assign.collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
      .groupBy(_._2).view.mapValues(_.sortBy(_._3).map(_._1).toSeq).toMap
    val shardDirs = new java.io.File(dst).listFiles()
      .filter(_.getName.startsWith("shard_id="))
    assert(shardDirs.nonEmpty)
    shardDirs.foreach { d =>
      val sid = d.getName.stripPrefix("shard_id=").toLong
      val rows = spark.read.parquet(d.toString)
        .select(col("doc_id"), md5(col("payload")).as("h"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      // binary columns flow through the layout untouched, byte-exact
      rows.foreach { case (id, h) => assert(h == srcMd5(id), s"payload $id mutated") }
      // and the trainer's sequential read order is the permutation
      assert(rows.map(_._1) == order(sid), s"shard $sid order diverged")
    }
  }

  test("multimodal: frame sampling explodes rows partition-locally") {
    val frames = Multimodal.sampleFrames(Multimodal.mediaTable(spark, dir), frameSize = 64, everyN = 2)
    val f0 = frames.filter(_.doc_id == 0L).collect().sortBy(_.frame_idx)
    assert(f0.nonEmpty)
    assert(f0.forall(_.n_bytes <= 64))
    assert(f0.map(_.frame_idx).toSeq == f0.indices.toSeq)
  }

  test("stop-shingle cap preserves recall of planted near-duplicates") {
    val docs = graft.Tables.documents(spark, dir)
    val uncapped = Dedup.jaccardPairs(docs, 3, 0.5).collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"))).toSet
    val capped = Dedup.jaccardPairs(docs, 3, 0.5, maxDocFreq = 50L).collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"))).toSet
    assert(uncapped.nonEmpty)
    // near-dup pairs share mostly RARE shingles; capping boilerplate
    // shingles must not lose them (it can only add pairs whose
    // denominators shrank)
    assert(uncapped.subsetOf(capped),
      s"cap lost pairs: ${uncapped.diff(capped)}")
  }

  test("minhash LSH finds a superset-of-threshold subset of exact jaccard pairs") {
    // capped all-pairs form: q26 now applies the stop-shingle cap before
    // signatures AND verification, so its exact companion is the capped
    // jaccard with the same maxDocFreq
    val exact = Dedup.jaccardPairs(graft.Tables.documents(spark, dir), 3, 0.5,
      maxDocFreq = 50L).collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"))).toSet
    val lsh = Dedup.q26MinhashLsh(spark, dir).collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"))).toSet
    assert(lsh.subsetOf(exact))          // verification step admits no false positives
    assert(exact.isEmpty || lsh.nonEmpty) // bands catch at least some true pairs
  }

  /** (query, neighbor) top-10 of the q28 queries (vec_id < 5) probed
    * over a fresh IVF cell layout of `d`'s embeddings. */
  private def layoutIvfTopK(d: String, nlist: Int, nprobe: Int): Set[(Long, Long)] = {
    val dst = java.nio.file.Files.createTempDirectory("graft-ivf")
      .toFile.getAbsolutePath + "/emb"
    val emb = graft.Tables.embeddings(spark, d)
    Similarity.writeCellBucketed(emb, dst, nlist = nlist)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    Similarity.bucketedIvfTopK(spark, dst, queries, nprobe = nprobe).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
  }

  test("IVF ANN: probes a fraction of cells, recalls a useful share of true neighbors") {
    val bf = Similarity.q28BruteForceTopK(spark, dir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ivf = layoutIvfTopK(dir, nlist = 16, nprobe = 8)
    assert(ivf.nonEmpty)
    val recall = bf.intersect(ivf).size.toDouble / bf.size
    // same bar as the q29 multi-probe LSH path: spherical k-means cells
    // (L2-normalized inputs) make euclidean cell assignment monotonic in
    // cosine, which is what lifted this from the 0.2 the raw-magnitude
    // quantizer managed
    assert(recall >= 0.6, f"IVF recall $recall%.2f too low for nprobe=8/16")
  }

  test("connected components: chains, cliques, singletons — pointer jumping converges") {
    import spark.implicits._
    // one 60-node chain (worst diameter/edge ratio: plain neighbor
    // propagation needs 60 rounds, pointer jumping must do it well under
    // the 50-iteration cap), one 4-clique with a redundant cycle edge,
    // and two singletons
    val chain = (0L until 59L).map(i => (i, i + 1))
    val clique = Seq((100L, 101L), (101L, 102L), (102L, 103L), (100L, 103L), (100L, 102L))
    val pairs = (chain ++ clique).toDF("d1", "d2")
    val nodes = ((0L to 59L) ++ (100L to 103L) ++ Seq(200L, 201L)).toDF("id")
    val comp = Dedup.connectedComponents(nodes, pairs).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("component")).toMap
    (0L to 59L).foreach(i => assert(comp(i) == 0L, s"chain node $i -> ${comp(i)}"))
    (100L to 103L).foreach(i => assert(comp(i) == 100L))
    assert(comp(200L) == 200L && comp(201L) == 201L)
    assert(comp.size == 66)
  }

  test("q40 clusters agree with a brute-force closure of the q36 pairs") {
    val pairs = Similarity.q36EmbeddingNearDup(spark, dir).collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2")))
    // driver-side union-find ground truth on the tiny fixture graph
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val q40 = Dedup.q40NearDupClusters(spark, dir).collect()
    q40.foreach { r =>
      val id = r.getAs[Long]("vec_id")
      assert(r.getAs[Long]("component") == find(id),
        s"vec $id: engine ${r.getAs[Long]("component")} vs union-find ${find(id)}")
      assert(r.getAs[Boolean]("is_canonical") == (find(id) == id))
    }
    assert(q40.length == 500)
  }

  test("LSH-bucketed near-dup pairs recall most exact pairs") {
    val exact = Similarity.q36EmbeddingNearDup(spark, dir).collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"))).toSet
    val lsh = Similarity.nearDupPairs(
        graft.Tables.embeddings(spark, dir), 0.45).collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"))).toSet
    assert(exact.nonEmpty)
    // the bucketed scale path must find most of what the exact all-pairs
    // ground truth finds (missed pairs = signature split across buckets)
    val recall = exact.intersect(lsh).size.toDouble / exact.size
    assert(recall >= 0.5, f"near-dup LSH recall $recall%.2f < 0.5 vs exact pairs")
  }

  test("chunk-split near-dup join yields exactly the unchunked pair set") {
    val emb = graft.Tables.embeddings(spark, dir)
    def pairs(chunks: Int) = Similarity.nearDupPairs(emb, 0.45, chunks = chunks).collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"))).toSet
    val unchunked = pairs(1)
    assert(unchunked.nonEmpty)
    // 7 deliberately does not divide the corpus evenly
    assert(pairs(7) == unchunked, "chunk grid lost or duplicated pairs")
  }

  test("write-time sig-bucketed layout: pruned probe returns exactly the full-scan q29 result") {
    val dst = java.nio.file.Files.createTempDirectory("graft-sigbucket")
      .toFile.getAbsolutePath + "/emb"
    Similarity.writeSigBucketed(graft.Tables.embeddings(spark, dir), dst)
    val queries = graft.Tables.embeddings(spark, dir).filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("query_id"), r.getAs[Long]("rank"), r.getAs[Long]("neighbor_id"))
    val bucketed = Similarity.bucketedLshTopK(spark, dst, queries).collect().map(key).toSeq
    val full = Similarity.q29LshTopK(spark, dir).collect().map(key).toSeq
    // same planes, same Hamming-1 probe ring, same exact rerank — the
    // pruned layout must be a pure I/O optimization, not a different
    // operator: identical rows in identical order (so the q29 recall
    // >= 0.6 bar carries over verbatim)
    assert(bucketed == full)
  }

  test("q28 guard band: adversarially near-tied corpus defeats a fixed float cut, " +
       "guarded widening recovers the exact result") {
    import spark.implicits._
    // 40 candidates whose FUSED-FLOAT cosines are bit-identical ties
    // (adding 2^-53 to an accumulator at 1.0 rounds to even), while the
    // EXACT dot of vec_id=100 is greater by 2^-52: all components share
    // one multiset {1, 2^-23, 2^-23} so norms are identical; only id 100
    // puts its mass where the query has 2^-30s.
    val e30 = math.pow(2, -30).toFloat
    val e23 = math.pow(2, -23).toFloat
    def vec(parts: (Int, Float)*): Array[Float] = {
      val a = Array.fill(64)(0f); parts.foreach { case (i, v) => a(i) = v }; a
    }
    val rows = Seq(
      (0L, vec(0 -> 1f, 1 -> e30, 2 -> e30)), // the query (vec_id < 5)
      (100L, vec(0 -> 1f, 1 -> e23, 2 -> e23)) // true nearest: dot = 1 + 2^-52
    ) ++ (5L to 43L).map(i => (i, vec(0 -> 1f, 3 -> e23, 4 -> e23))) // 39 decoys: dot = 1
    val emb = rows.toDF("vec_id", "embedding")

    def top(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("query_id") === 0).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("neighbor_id"))).toSeq

    // the old fixed-32 float cut, guard off: float sees 40 exact ties,
    // keeps the 32 smallest ids, silently drops the true best neighbor —
    // a wrong-but-plausible ranking
    val naive = top(Similarity.bruteForceTopK(emb, k = 10, kFloat0 = 32, guard = false))
    assert(!naive.exists(_._2 == 100L),
      s"expected the unguarded float cut to lose vec 100, got $naive")

    // the guard detects the sub-band margin at the cut and widens until
    // the heap covers the corpus; exact arithmetic then puts 100 first
    val guarded = top(Similarity.bruteForceTopK(emb, k = 10, kFloat0 = 32))
    assert(guarded.head == (1L, 100L), s"guarded top: $guarded")
    // and the guarded result IS the ground truth (heap over everything)
    val exact = top(Similarity.bruteForceTopK(emb, k = 10, kFloat0 = 1000, guard = false))
    assert(guarded == exact)
  }

  test("int8 quantization: reconstruction error bounded by scale/2, cosine recall holds") {
    // the audit query's own invariant: round-half-up can miss a value by
    // at most half a quantization step
    val audit = Quantize.q38Quantize(spark, dir).collect()
    assert(audit.nonEmpty)
    audit.foreach { r =>
      val scale = r.getAs[Double]("scale"); val err = r.getAs[Double]("max_err")
      assert(err <= scale / 2 + 1e-12, s"vec ${r.get(0)}: err $err > scale/2 ${scale / 2}")
      assert(r.getAs[Long]("q_min") >= -127 && r.getAs[Long]("q_max") <= 127)
    }

    // cosine is scale-invariant, so the quantized rerank runs on the
    // integer vectors directly; at int8 precision it must agree with the
    // exact top-10 on most neighbors (q28 gaps ~1e-3 vs quantization
    // noise ~4e-3 — measured 0.9+ here)
    val q = Quantize.quantized(graft.Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("q"))
    val queries = q.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("q").as("qq"))
    val scored = q.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        Quantize.quantizedCosine(col("qq"), col("q")).as("qcos"))
    val qtop = TopKPerGroup.topKPerKey(scored, "query_id", "qcos", "vec_id", 10)
      .collect().map(r => (r.getAs[Long]("key"), r.getAs[Long]("id"))).toSet
    val exact = Similarity.q28BruteForceTopK(spark, dir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = exact.intersect(qtop).size.toDouble / exact.size
    assert(recall >= 0.8, f"int8 cosine recall $recall%.2f < 0.8 vs exact")
  }

  test("write-time cell-bucketed (IVF) layout: pruned probe recalls most true neighbors") {
    val dst = java.nio.file.Files.createTempDirectory("graft-cellbucket")
      .toFile.getAbsolutePath + "/emb"
    Similarity.writeCellBucketed(graft.Tables.embeddings(spark, dir), dst)
    val queries = graft.Tables.embeddings(spark, dir).filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val bf = Similarity.q28BruteForceTopK(spark, dir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ivf = Similarity.bucketedIvfTopK(spark, dst, queries).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    // the same recall bar as the full-scan paths, at ~nprobe/nlist of
    // the read cost (pruning asserted in PlanSpec)
    val recall = bf.intersect(ivf).size.toDouble / bf.size
    assert(recall >= 0.6, f"cell-bucketed IVF recall $recall%.2f < 0.6 vs brute force")
  }

  test("cell-layout append: frozen-center assignment, untouched dirs keep their files, recall holds") {
    val emb = graft.Tables.embeddings(spark, dir)
    val first = emb.filter(col("vec_id") % 2 === 0)
    val rest = emb.filter(col("vec_id") % 2 =!= 0)
    val dst = java.nio.file.Files.createTempDirectory("graft-append")
      .toFile.getAbsolutePath + "/emb"
    Similarity.writeCellBucketed(first, dst, nlist = 16)

    def filesPerCell: Map[String, Set[String]] =
      new java.io.File(dst).listFiles().filter(_.getName.startsWith("cell="))
        .map(d => d.getName -> d.listFiles().map(_.getName)
          .filter(_.endsWith(".parquet")).toSet).toMap
    val before = filesPerCell
    val report = Similarity.appendToCellLayout(rest, dst)

    // every appended row landed; ids are the union of both halves
    assert(report.appended == rest.count())
    assert(spark.read.parquet(dst).count() == emb.count())
    // dirs of untouched cells kept their EXACT file sets — the append
    // wrote only under its own cells
    val after = filesPerCell
    val touched = report.touchedCells.map(c => s"cell=$c").toSet
    for ((d, fs) <- before if !touched.contains(d))
      assert(after(d) == fs, s"untouched dir $d changed: $fs -> ${after(d)}")
    for (d <- touched if before.contains(d))
      assert(after(d).size > before(d).size, s"touched dir $d gained no file")

    // frozen-center contract: an appended vector's cell equals the
    // driver-side nearest persisted center (what a rewrite with the
    // same centers would assign)
    import spark.implicits._
    val centers = spark.read.parquet(dst + "_centroids")
      .select(col("cell"), col("centroid")).as[(Int, Array[Double])].collect()
    val got = spark.read.parquet(dst)
      .select(col("vec_id"), col("cell")).as[(Long, Int)].collect().toMap
    val sampleIds = rest.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().take(50)
    for ((id, arr) <- sampleIds) {
      val v = arr.map(_.toDouble)
      val n = math.sqrt(v.map(x => x * x).sum)
      val u = if (n == 0) v else v.map(_ / n)
      val expect = centers.minBy { case (_, ctr) =>
        ctr.zip(u).map { case (a, b) => (a - b) * (a - b) }.sum
      }._1
      assert(got(id) == expect, s"vec $id: appended cell ${got(id)} != nearest $expect")
    }

    // the appended layout probes as well as a from-scratch rewrite of
    // the full corpus (different centers — the fit saw half vs all — so
    // equality is recall-level, not row-level)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val bf = Similarity.q28BruteForceTopK(spark, dir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    def recallOf(path: String): Double = {
      val got = Similarity.bucketedIvfTopK(spark, path, queries).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
      bf.intersect(got).size.toDouble / bf.size
    }
    val full = java.nio.file.Files.createTempDirectory("graft-append-full")
      .toFile.getAbsolutePath + "/emb"
    Similarity.writeCellBucketed(emb, full, nlist = 16)
    val (ra, rf) = (recallOf(dst), recallOf(full))
    assert(ra >= rf - 0.1 && ra >= 0.6,
      f"appended-layout recall $ra%.2f vs full rewrite $rf%.2f")

    // occupancy ratio is sane on balanced data; a skew-bombed append
    // trips the refit trigger
    assert(report.maxOccupancyRatio >= 1.0 && !report.refitRecommended,
      s"balanced append misreported: $report")
    val bomb = emb.limit(1).select(col("embedding")).crossJoin(
        spark.range(300).select((col("id") + 100000L).as("vec_id")))
      .select(col("vec_id"), col("embedding"))
    val bombed = Similarity.appendToCellLayout(bomb, dst)
    assert(bombed.touchedCells.length == 1 && bombed.refitRecommended,
      s"300 copies of one vector must pile into one cell and trip refit: $bombed")
  }

  test("int8 cell-bucketed layout: no float column stored, probe recall holds") {
    val dst = java.nio.file.Files.createTempDirectory("graft-cell8")
      .toFile.getAbsolutePath + "/emb"
    Similarity.writeCellBucketed(graft.Tables.embeddings(spark, dir), dst, int8 = true)
    val stored = spark.read.parquet(dst)
    // the layout carries the quantized vector only — the probe path reads
    // 4x fewer payload bytes and scores integer cosine (scales cancel)
    assert(!stored.columns.contains("embedding"))
    assert(stored.columns.contains("q") && stored.columns.contains("scale"))

    val queries = graft.Tables.embeddings(spark, dir).filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val ivf8 = Similarity.bucketedIvfTopK(spark, dst, queries).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val exact = Similarity.q28BruteForceTopK(spark, dir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = exact.intersect(ivf8).size.toDouble / exact.size
    assert(recall >= 0.6, f"int8 cell-layout recall $recall%.2f < 0.6 vs exact")
  }

  test("multi-probe LSH ANN recalls most true neighbors (both test SFs)") {
    for (d <- Seq(dir, "/root/testdata/sf0.01")) {
      val bf = Similarity.q28BruteForceTopK(spark, d).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
      val lsh = Similarity.q29LshTopK(spark, d).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
      assert(bf.size == 50)
      // candidates are exact-reranked, so every LSH hit that IS a true
      // neighbor ranks identically — recall is the only approximation
      val recall = bf.intersect(lsh).size.toDouble / bf.size
      assert(recall >= 0.6, f"multi-probe LSH recall $recall%.2f < 0.6 vs brute force at $d")
    }
  }

  test("auto-tuned ANN knobs: derived from a corpus sample, recall bars hold on both SFs") {
    for (d <- Seq(dir, "/root/testdata/sf0.01")) {
      val bf = Similarity.q28BruteForceTopK(spark, d).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet

      val sample = AnnTuner.sampleUnit(graft.Tables.embeddings(spark, d))
      val lshKnobs = AnnTuner.tuneLsh(sample, targetRecall = 0.7)
      val lsh = Similarity.lshTopK(spark, d, lshKnobs.planes, lshKnobs.radius).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
      val lshRecall = bf.intersect(lsh).size.toDouble / bf.size
      // the knobs are DERIVED (sample-estimated), not this corpus's
      // hand-tuned constants — the measured recall must still clear the
      // same bar the hardcoded path is held to
      assert(lshRecall >= 0.6, f"tuned LSH $lshKnobs recall $lshRecall%.2f < 0.6 at $d")
      // and the tuner must have picked a configuration that actually
      // prunes, not the probe-everything corner
      assert(lshKnobs.estIoFrac < 0.9, s"tuned LSH knobs degenerate: $lshKnobs")

      val ivfKnobs = AnnTuner.tuneIvf(sample, targetRecall = 0.7)
      val ivf = layoutIvfTopK(d, ivfKnobs.nlist, ivfKnobs.nprobe)
      val ivfRecall = bf.intersect(ivf).size.toDouble / bf.size
      assert(ivfRecall >= 0.6, f"tuned IVF $ivfKnobs recall $ivfRecall%.2f < 0.6 at $d")
      assert(ivfKnobs.estIoFrac < 0.6, s"tuned IVF knobs degenerate: $ivfKnobs")
    }
  }

  test("tuners degrade (not crash) on corpora too small for the grid") {
    // fewer than 32 vectors: every nlist*4 <= n IVF candidate is filtered
    // out — the tuner must hand back a probe-everything default, not hit
    // maxBy on an empty grid
    val tiny = Array.tabulate(5)(i => Array.tabulate(8)(j => math.sin(i * 8 + j + 1)))
      .map { v => val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n) }
    val ivf = AnnTuner.tuneIvf(tiny, targetRecall = 0.7)
    assert(ivf.nlist >= 1 && ivf.nlist <= tiny.length && ivf.nprobe == ivf.nlist)
    val lshTiny = AnnTuner.tuneLsh(tiny, targetRecall = 0.7)
    assert(lshTiny.planes >= 2 && lshTiny.radius >= 1)
    // the degenerate corners: empty and single-vector samples
    for (s <- Seq(Array.empty[Array[Double]], tiny.take(1))) {
      val k = AnnTuner.tuneIvf(s, targetRecall = 0.7)
      assert(k.nlist >= 1 && k.nprobe == k.nlist)
      val l = AnnTuner.tuneLsh(s, targetRecall = 0.7)
      assert(l.planes == 2 && l.radius == 1)
    }
  }

  test("connected components fail loudly when the iteration cap is exhausted") {
    import spark.implicits._
    val pairs = Seq((0L, 1L), (1L, 2L)).toDF("d1", "d2")
    val nodes = (0L to 2L).toDF("id")
    // maxIters=0 can never observe a stable label sum — partial components
    // must be an ERROR, not silently-wrong dedup clusters
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(nodes, pairs, maxIters = 0)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("domain mix: weights normalize to 1 and α=0.3 flattens the token-share spread") {
    val rows = Mixing.q45DomainMix(spark, dir).collect()
    assert(rows.length == 20) // 20 synthetic sources
    val weights = rows.map(_.getDouble(3))
    val tokens = rows.map(_.getLong(2).toDouble)
    assert(math.abs(weights.sum - 1.0) < 1e-9)
    assert(weights.forall(w => w > 0 && w < 1))
    // temperature flattening: the weight ratio between the biggest and
    // smallest source must sit strictly inside the raw token-share ratio
    val wRatio = weights.max / weights.min
    val tRatio = tokens.max / tokens.min
    assert(wRatio < tRatio, s"α=0.3 must compress spread: $wRatio vs $tRatio")
    // and preserve order: more tokens never means less weight
    val byTokens = rows.sortBy(_.getLong(2))
    assert(byTokens.map(_.getDouble(3)).sliding(2).forall(p => p(0) <= p(1)))
  }

  test("curriculum: distributed three-piece rank equals the single-task NTILE exactly") {
    import org.apache.spark.sql.expressions.Window
    val got = Curriculum.q46Curriculum(spark, dir).collect()
    // reference: the formulation we refuse to run at scale
    val d = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tok"))
    val ref = d
      .withColumn("rnk", row_number().over(Window.orderBy(col("n_tok"), col("doc_id"))).cast("long"))
      .crossJoin(d.agg(count(lit(1)).as("n_total")))
      .withColumn("bin", expr("((rnk - 1) * 10) DIV n_total + 1"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"), min(col("n_tok")).as("min_tokens"),
        max(col("n_tok")).as("max_tokens"), sum(col("n_tok")).as("sum_tokens"))
      .withColumn("avg_tokens",
        col("sum_tokens").cast("double") / col("n_docs").cast("double"))
      .orderBy(col("bin")).collect()
    assert(got.map(_.toSeq).toSeq == ref.map(_.toSeq).toSeq)
    // equal-population stages: bin sizes differ by at most 1
    val sizes = got.map(_.getLong(1))
    assert(got.length == 10 && sizes.max - sizes.min <= 1)
    // monotone difficulty: stage i's max never exceeds stage i+1's min
    val pairs = got.sliding(2).toSeq
    assert(pairs.forall(p => p(0).getLong(3) <= p(1).getLong(2)))
  }

  test("semantic dedup: drop decisions match the q36 pair graph; keepers always keep") {
    val dropped = Quantize.q47SemanticDedup(spark, dir).collect()
    val droppedIds = dropped.map(_.getLong(0)).toSet
    assert(dropped.nonEmpty, "fixture plants near-dups; drop list must not be empty")
    // every keeper must itself survive (a dropped keeper would orphan
    // its justification) — holds because keeper < dropped and the rule
    // is monotone in id only through smaller neighbors… except via
    // chains, where a keeper may itself be dropped by an even smaller
    // id; assert the weaker invariant that keepers are smaller
    dropped.foreach { r =>
      assert(r.getLong(1) < r.getLong(0), "keeper must have a smaller id")
      assert(r.getLong(2) >= 1L)
    }
    // int8 cosine at the same 0.45 threshold sees the same planted
    // near-dup structure as q36's exact decimal cosine: the dropped set
    // is exactly the larger-id side of the q36 pair graph
    val q36d2 = Similarity.q36EmbeddingNearDup(spark, dir)
      .select(col("d2")).distinct().collect().map(_.getLong(0)).toSet
    assert(droppedIds == q36d2,
      s"int8 drop set ${droppedIds.toSeq.sorted} != exact pair d2s ${q36d2.toSeq.sorted}")
  }

  test("within-cell SemDeDup: no false drops, useful recall of the exact decision") {
    val dst = java.nio.file.Files.createTempDirectory("graft-semdedup")
      .toFile.getAbsolutePath + "/emb"
    // cell count must track corpus size (the tuner's job in production):
    // 64 cells over 500 vectors is ~8 vectors/cell and splits most
    // near-dup pairs across cells (measured recall 0.29); 8 cells keeps
    // them together while still bounding the per-cell quadratic
    Similarity.writeCellBucketed(graft.Tables.embeddings(spark, dir), dst,
      nlist = 8, int8 = true)
    val cellDrops = Quantize.semanticDedupInCells(spark, dst)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = Quantize.q47SemanticDedup(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact.nonEmpty)
    // soundness: a within-cell similar pair is globally similar under the
    // SAME integer test — every cell-detected drop must exist exactly
    cellDrops.foreach { case (id, keeper) =>
      assert(exact.contains(id), s"false drop $id not in exact decision")
      assert(exact(id) <= keeper,
        "exact keeper can only be smaller (cells see a subset of neighbors)")
    }
    // recall: cosine-close vectors land in the same spherical k-means
    // cell most of the time — the SemDeDup tradeoff being bought
    val recall = cellDrops.keySet.count(exact.contains).toDouble / exact.size
    assert(recall >= 0.5, s"within-cell recall $recall below 0.5")
  }

  test("unigram LM scoring: common-token docs beat rare-token salad; scores are corpus-relative") {
    val rows = TextAnalysis.q48UnigramLogprob(spark, dir).collect()
    assert(rows.length == 500)
    // logprobs are means of ln(p<1): strictly negative, bits positive
    rows.foreach { r =>
      assert(r.getDouble(2) < 0.0)
      assert(r.getDouble(3) > 0.0)
    }
    // discrimination: score synthetic docs through the same pipeline —
    // a doc of the corpus's most common tokens must outscore one full of
    // near-unique tokens (the gibberish the filter exists to catch)
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val base = graft.Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val planted = Seq(
      (100001L, "data data table query row the a value"),
      (100002L, "zxqv9 wqpl7 mnbv3 khgf1 poiu5 ytre8 asdf2 lkjh6")
    ).toDF("doc_id", "text")
    val toks = base.unionByName(planted)
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
    val total = toks.agg(count(lit(1)).as("n_total"))
    val scored = toks
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("tok"))))
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(avg(log(col("cnt").cast("double") / col("n_total").cast("double"))).as("alp"))
      .filter(col("doc_id") >= 100001L)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scored(100001L) > scored(100002L) + 2.0,
      s"common-token doc must clearly outscore gibberish: $scored")
  }

  test("tuned within-cell SemDeDup: derived cell count clears the recall bar") {
    val emb = graft.Tables.embeddings(spark, dir)
    val sample = AnnTuner.sampleUnit(emb)
    // q226's rule: the largest cell count whose sampled co-location
    // recall clears the target
    def tune(smp: Array[Array[Double]]) =
      AnnTuner.pickSemDedup(AnnTuner.semDedupCandidates(smp), targetRecall = 0.7)
    val knobs = tune(sample)
    // at sf0.001 the sample IS the corpus, so the estimate is exact-ish:
    // the tuner must not hand back the recall-killing fine grid
    assert(knobs.nlist >= 1 && knobs.estRecall >= 0.5, s"bad knobs: $knobs")
    assert(tune(AnnTuner.sampleUnit(emb)) == knobs,
      "tuner must be deterministic for a fixed corpus")
    val dst = java.nio.file.Files.createTempDirectory("graft-semtune")
      .toFile.getAbsolutePath + "/emb"
    Similarity.writeCellBucketed(emb, dst, nlist = knobs.nlist, int8 = true)
    val cellDrops = Quantize.semanticDedupInCells(spark, dst)
      .collect().map(_.getLong(0)).toSet
    val exact = Quantize.q47SemanticDedup(spark, dir)
      .collect().map(_.getLong(0)).toSet
    val recall = cellDrops.count(exact.contains).toDouble / exact.size
    assert(recall >= 0.5, s"tuned recall $recall below 0.5 at $knobs")
    // the degenerate corner: a tiny sample yields no candidate grid, so
    // q226 falls back to one cell (exact)
    assert(AnnTuner.semDedupCandidates(sample.take(4)).isEmpty)
  }

  test("IP anonymization: /24 mask drops the host octet, pseudonyms are stable and collision-free") {
    import spark.implicits._
    val ips = Seq("10.1.2.3", "10.1.2.77", "10.1.3.3", "198.51.100.255").toDF("ip")
    val out = ips.select(col("ip"), Privacy.maskIpv4(col("ip")).as("cidr24"),
      Privacy.pseudonymize(col("ip"), "s1").as("p1"),
      Privacy.pseudonymize(col("ip"), "s1").as("p1again"),
      Privacy.pseudonymize(col("ip"), "s2").as("p2")).collect()
    val byIp = out.map(r => r.getString(0) -> r).toMap
    assert(byIp("10.1.2.3").getString(1) == "10.1.2.0")
    assert(byIp("10.1.2.77").getString(1) == "10.1.2.0")
    assert(byIp("198.51.100.255").getString(1) == "198.51.100.0")
    // same salt → stable token; rotated salt → unlinked token
    assert(out.forall(r => r.getString(2) == r.getString(3)))
    assert(out.forall(r => r.getString(2) != r.getString(4)))
    assert(out.map(_.getString(2)).distinct.length == 4)

    // the declared query: pseudonymization must not merge distinct clients
    val q = Privacy.q44IpAnonymize(spark, dir)
    val rows = q.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(2) == r.getLong(3)),
      "collision: fewer pseudonyms than distinct IPs in a /24")
    val total = rows.map(_.getLong(1)).sum
    assert(total == graft.Tables.events(spark, dir).count())
  }

  test("char entropy: exact bits on known distributions") {
    import spark.implicits._
    val fx = Seq(
      (1L, "aaaaaaaa"),       // constant → 0 bits
      (2L, "abababab"),       // fair coin → exactly 1 bit
      (3L, "aabb"),           // also 1 bit
      (4L, ""),               // empty → 0 by the guard
      (5L, "abcd")            // uniform over 4 → exactly 2 bits
    ).toDF("doc_id", "text")
    val cs = regexp_extract_all(col("text"), lit("."), lit(0))
    val got = fx.select(col("doc_id"), TextAnalysis.entropyBits(cs).as("e"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) == 0.0)
    assert(got(2L) == 1.0)
    assert(got(3L) == 1.0)
    assert(got(4L) == 0.0)
    assert(got(5L) == 2.0)
  }

  test("q51 row conservation: empty and newline-only docs keep their row") {
    import spark.implicits._
    // '.' extracts nothing from "" and "\n\n" — the round-8 ADVICE class:
    // an inner-join formulation (either side) would drop these docs and
    // break gate hash parity. The engine is in-row and the oracle
    // LEFT-joins; this pins the engine half on exactly that input.
    val fx = Seq(
      (1L, "natural text here"),
      (2L, ""),
      (3L, "\n\n"),
      (4L, "aaaa")
    ).toDF("doc_id", "text")
    val rows = TextAnalysis.charEntropy(fx).orderBy(col("doc_id")).collect()
    assert(rows.length == 4, "a zero-char doc lost its row")
    val empty = rows.filter(r => r.getLong(0) == 2L || r.getLong(0) == 3L)
    empty.foreach { r =>
      assert(r.getLong(1) == 0L && r.getLong(2) == 0L)
      assert(r.getDouble(3) == 0.0)
      assert(r.getBoolean(4), "zero-entropy doc must be flagged")
    }
  }

  test("token budget: distributed prefix equals the greedy single-order scan") {
    val out = Selection.q49TokenBudget(spark, dir, budget = 5000L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    // recompute the greedy order driver-side
    val greedy = out.sortBy { case (id, prio, _, _, _) => (-prio, id) }
    var acc = 0L
    greedy.foreach { case (_, _, n, before, sel) =>
      assert(before == acc, "distributed prefix diverged from the scan order")
      assert(sel == (acc + n <= 5000L))
      acc += n
    }
    // the budget actually cuts somewhere (both verdicts occur)
    assert(out.exists(_._5) && out.exists(!_._5))
  }

  test("stratified sample: dropping non-sampled rows never changes the sample") {
    val docs = graft.Tables.documents(spark, dir)
    val full = Selection.stratifiedSample(docs, 10).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val sampledIds = full.map(_._3).toSet
    // remove half the NON-sampled docs (deterministically: even doc_id)
    val pruned = docs.filter(col("doc_id").isin(sampledIds.toSeq.map(Long.box): _*) ||
      col("doc_id") % 2 === 0)
    val again = Selection.stratifiedSample(pruned, 10).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(full.toSeq == again.toSeq,
      "sample is not stable under removal of non-members")
  }

  test("epoch shuffle: exact permutation, epochs decorrelated, shards contiguous") {
    val docs = graft.Tables.documents(spark, dir)
    val n = docs.count()
    val e1 = Selection.q56EpochShuffle(spark, dir, epoch = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // positions are EXACTLY 1..N — the distributed rank dropped or
    // duplicated nothing
    assert(e1.values.toSeq.sorted == (1L to n).toSeq)
    val e2 = Selection.q56EpochShuffle(spark, dir, epoch = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // different epoch → different permutation (hash-keyed, so agreement
    // beyond chance means the epoch salt is dead)
    val agree = e1.count { case (id, pos) => e2(id) == pos }
    assert(agree < n / 10, s"epochs 1 and 2 agree on $agree/$n positions")
    // shard = contiguous position range
    val shards = Selection.q56EpochShuffle(spark, dir).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    shards.foreach { case (pos, shard, inShard) =>
      assert(shard == (pos - 1) / 64 && inShard == (pos - 1) % 64)
    }
  }

  test("pipeline verdict: one row per train doc, budget respected, canonicals kept") {
    import org.apache.spark.sql.functions.{col, md5}
    val out = Pipeline.q57PipelineDecision(spark, dir, budget = 5000L).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
    val docs = graft.Tables.documents(spark, dir)
    val nTrain = docs.filter(Splits.of(col("doc_id")) === "train").count()
    // exactly one verdict per train document
    assert(out.length == nTrain && out.map(_._1).distinct.length == nTrain)
    // the cut actually cuts, and something survives every stage
    val byVerdict = out.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byVerdict.contains("keep") && byVerdict.contains("over_budget"))
    // kept docs respect the token budget exactly
    val keptIds = out.filter(_._3).map(_._1).toSet
    val tokenOf = docs.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(keptIds.map(tokenOf).sum <= 5000L)
    // every exact_dup doc has a smaller-id prefix-twin that was NOT
    // dropped as exact_dup (its canonical survived that stage)
    val gkOf = docs.select(col("doc_id"),
        md5(TextAnalysis.prefixTokens(col("text"), 8)).as("gk")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val verdictOf = out.map(t => t._1 -> t._2).toMap
    out.filter(_._2 == "exact_dup").foreach { case (id, _, _) =>
      val twin = out.exists { case (o, v, _) =>
        o < id && gkOf(o) == gkOf(id) && v != "exact_dup" }
      assert(twin, s"exact_dup doc $id has no surviving canonical twin")
    }
  }

  test("cross-doc repetition: near-dup pair members are flagged as sharing grams") {
    val q53 = TextAnalysis.q53CrossDocRepetition(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(q53.values.forall(f => f >= 0.0 && f <= 1.0))
    // members of verified near-dup pairs (jaccard >= 0.5 on capped sets)
    // must share a positive fraction of their grams corpus-wide
    val pairMembers = Dedup.q25NgramJaccard(spark, dir).collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(pairMembers.nonEmpty)
    pairMembers.foreach { id =>
      assert(q53(id) > 0.0, s"near-dup member $id shows zero cross-doc repetition")
    }
  }
}
