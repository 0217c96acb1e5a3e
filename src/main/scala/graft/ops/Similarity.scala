package graft.ops

import graft.functions.{CosineSim, SimHashBands}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the embedding vectors (SURVEY.md §2B).
  *
  * The vector kernel is the native codegen'd [[graft.functions.CosineSim]]
  * expression (`cosine_sim`): one fused loop for dot + both norms, no
  * intermediate arrays, whole-stage codegen. Its fold order matches DuckDB's
  * `list_dot_product`, and cosines are rounded to 6 decimals on BOTH sides
  * before any threshold / ranking so a last-ulp difference can never flip an
  * answer.
  *
  * Scale paths:
  *  - `sim_cosine_topk` broadcasts the (tiny) query set against the corpus —
  *    linear in corpus size, the right brute-force baseline at any scale;
  *  - `sim_pairs_threshold` is exact all-pairs (quadratic — the correct
  *    oracle-checkable baseline at fixture scale);
  *  - `sim_pairs_lsh` LSH-pruned pair search in its winning regime: doc
  *    shingle-hash vectors, MinHash-banded candidates, exact verify;
  *  - `sim_topk_ivf` IVF with nprobe — the ANN search path.
  *
  * `dedup_embedding`'s pair source lives in [[Dedup.candidateOverlaps]]
  * (shared MinHash band join over the document shingle sets) — banding over
  * the `embeddings` fixture cannot prune at tau=0.4 because that threshold
  * sits inside the near-orthogonal background noise (measured: every band
  * geometry admits ~N^2/2 candidates); exact search is the only correct
  * plan in that regime, and `sim_pairs_threshold` is it.
  */
object Similarity {
  import Tables._

  val CosineThreshold = 0.4
  val DocCosineThreshold = 0.8
  val TopK = 5

  /** Neighbors kept per vector in `embedding_knn_graph`. */
  val KnnK = 5

  /** Nodes kept between hops in the `sim_graph_beam` graph search. */
  val BeamWidth = 4

  /** Cosine radius for `sim_range_search` (picked against the fixture's
    * similarity distribution: ~30-50 true neighbors across the 10-query
    * batch — populated but far from the quadratic noise band).
    */
  val RangeTau = 0.3

  /** vec_id + embedding cast to double[] (cast once, before any kernel).
    *
    * Repartitioned to cluster parallelism for the same reason as
    * [[Tables.corpus]]: the fixture is one parquet row group, and a
    * 1-partition left side serializes every kernel evaluation downstream
    * (the BNLJ's parallelism = left-side partitions).
    */
  /** One ranked MMR pick (see `sim_mmr_rerank`). */
  case class MmrPick(rank: Long, s_id: Long)

  /** In-row greedy MMR over one query's packed candidate tables. Inputs
    * are the plan-computed round(·,6) relevance and pairwise-similarity
    * values, so this fold is pure bounded arithmetic: each round picks
    * argmax of 0.7·rel − 0.3·max_sim (HALF_UP-rounded to 6, exactly
    * Spark's double `round`) with the id tie-break. Map-based lookups
    * make the result independent of collect_list's arrival order.
    */
  private val mmrGreedy = udf((cs: Seq[org.apache.spark.sql.Row],
      ss: Seq[org.apache.spark.sql.Row]) => {
    val rel = cs.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val sim = ss.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    var selected = List.empty[Long]
    (1 to 4).flatMap { r =>
      val remaining = rel.keysIterator.filterNot(selected.contains).toSeq
      if (remaining.isEmpty) Nil
      else {
        def score(c: Long): Double =
          if (r == 1) rel(c)
          else {
            val ms = selected.iterator.map(o => sim((c, o))).max
            java.math.BigDecimal.valueOf(0.7 * rel(c) - 0.3 * ms)
              .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
          }
        val pick = remaining.minBy(c => (-score(c), c))
        selected ::= pick
        Seq(MmrPick(r.toLong, pick))
      }
    }
  })

  private def vectors(s: SparkSession, d: String): DataFrame = {
    CosineSim.register(s)
    SimHashBands.register(s)
    // memoized (the Graph.edges pattern): six sim/clustering queries and
    // both sides of every self-join read this same projection — one
    // pinned instance instead of re-casting the embedding column per
    // subtree (~30 MB at sf0.1)
    graft.plans.ScopedMemo(s, s"sim_vectors#$d")(
      t(s, d, "embeddings")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v")))
  }

  /** The rounded-decimal `(vec_id, label, xv)` projection shared by
    * `embedding_centroid_drift` and `embedding_outlier_dist` — both
    * queries fold per-vector residuals against it twice. One ScopedMemo
    * entry replaces the two per-invocation `.cache()` pins each consumer
    * used to leak (r11 sweep).
    */
  private def decimalVecs(s: SparkSession, d: String): DataFrame =
    graft.plans.ScopedMemo(s, s"embedding_vecs_dec6#$d")(
      t(s, d, "embeddings")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("vec_id"), col("label"),
          expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE), 6)" +
            " AS DECIMAL(12,6)))").as("xv")))

  /** The 16 deterministic coarse centroids (first 16 vectors), broadcast —
    * the codebook every IVF consumer probes against.
    */
  private def ivfCentroids(s: SparkSession, d: String) =
    broadcast(vectors(s, d).filter(col("vec_id") < 16)
      .select(col("vec_id").as("c_id"), col("v").as("cv")))

  /** IVF assignment `(vec_id, v, cluster)`: every vector to its nearest
    * of the 16 coarse centroids in ONE broadcast pass (rounded-cosine +
    * c_id tiebreak). Single definition shared by [[ivfTopK]],
    * [[knnEdges]], and the `sim_ivf_cell_skew` balance audit so the
    * graded, production, and audit paths cannot drift.
    */
  private def ivfAssign(s: SparkSession, d: String): DataFrame =
    // ScopedMemo (r12): SEVEN consumers re-ran the corpus-wide argmin
    // window per invocation; one bounded pin pays the assignment once per
    // (session, sf) and the LRU can evict it between families
    graft.plans.ScopedMemo(s, s"ivf_assign_seed#$d")(
      assignTo(s, d, ivfCentroids(s, d)))

  /** The learned-codebook twin of [[ivfAssign]], memoized for the same
    * reason: the nprobe sweep's three learned legs each re-ran the full
    * assignment window otherwise (VERDICT r11 #5).
    */
  private def learnedAssign(s: SparkSession, d: String): DataFrame =
    graft.plans.ScopedMemo(s, s"ivf_assign_learned#$d")(
      assignTo(s, d, learnedCentroids(s, d)))

  /** Nearest-centroid assignment against an arbitrary O(K) codebook
    * `(c_id, cv)` — one broadcast pass, rounded-cosine + c_id tiebreak.
    * Shared by [[ivfAssign]] (seed codebook) and the learned-codebook
    * sweep leg so the two assignment semantics cannot drift.
    */
  private def assignTo(s: SparkSession, d: String,
      cents: DataFrame): DataFrame = {
    val wAssign = Window.partitionBy("vec_id")
      .orderBy(col("ccos").desc, col("c_id"))
    vectors(s, d).crossJoin(broadcast(cents))
      .withColumn("ccos", expr("round(cosine_sim(v, cv), 6)"))
      .withColumn("arn", row_number().over(wAssign))
      .filter(col("arn") === 1)
      .select(col("vec_id"), col("v"), col("c_id").as("cluster"))
  }

  /** One Lloyd refinement of the 16 seed coarse centroids over the full
    * corpus — the LEARNED IVF codebook (VERDICT r10 #6), wired next to
    * the seed-slice one so `sim_ivf_nprobe_sweep` reports both recall
    * curves side by side. Same exact-decimal dimension means as
    * `kmeans_lloyd` (lossless round(·,6) casts, associative decimal
    * sums, one IEEE division at the end), so both engines rebuild
    * bit-identical centroid arrays. Every seed is its own nearest
    * centroid, so no cluster ever empties. Scale shape: one broadcast
    * assign + one (cluster, dim) sufficient-stat shuffle — K·dims rows
    * move, vectors never do; the O(K) result is memoized because each
    * sweep point re-reads it for probe AND assign.
    */
  private def learnedCentroids(s: SparkSession, d: String): DataFrame =
    graft.plans.ScopedMemo(s, s"sim_learned_centroids#$d")(
      ivfAssign(s, d)
        .select(col("cluster"), posexplode(expr(
          "transform(v, x -> CAST(round(x, 6) AS DECIMAL(12,6)))"))
          .as(Seq("pos", "x")))
        .groupBy("cluster", "pos")
        .agg((sum(col("x")).cast("double") / count(lit(1))).as("m"))
        .groupBy("cluster")
        .agg(expr("transform(array_sort(collect_list(struct(pos, m))), " +
          "p -> p.m)").as("cv"))
        .select(col("cluster").as("c_id"), col("cv")))

  /** Product-quantization best-code table `(vec_id, sub, code, d2)`: each
    * vector split into 8 8-dim subvectors, each assigned to the nearest
    * of 16 codebook entries (the first 16 vectors' matching slices) by
    * exact-decimal squared distance, code tiebreak. The O(M·K) codebook
    * broadcasts; the only shuffle is the per-(vec, sub) argmin window.
    * Shared by `embedding_pq` (the encode pass) and
    * `embedding_pq_distortion` (the codebook-quality audit) — memoized
    * per (session, sf) so the encode (the 16-way distance sweep +
    * per-(vec, sub) argmin window, the whole cost of both queries) runs
    * once per session, not per consumer.
    */
  private def pqBest(s: SparkSession, d: String): DataFrame =
    graft.plans.ScopedMemo(s, s"sim_pq_best#$d")(pqBestBuild(s, d))

  private def pqBestBuild(s: SparkSession, d: String): DataFrame = {
    val e = vectors(s, d)
    def slices(src: DataFrame, idAs: String) = src.select(
      col("vec_id").as(idAs),
      posexplode(expr(
        "transform(sequence(1, 8), m -> slice(v, (m - 1) * 8 + 1, 8))"))
        .as(Seq("sub", "sv")))
    val cb = broadcast(slices(e.filter(col("vec_id") < 16), "code")
      .select(col("sub"), col("code"), col("sv").as("cv")))
    val d2 = expr(
      """aggregate(
        |  zip_with(sv, cv, (x, c) ->
        |    (CAST(round(x, 6) AS DECIMAL(12,6))
        |      - CAST(round(c, 6) AS DECIMAL(12,6)))
        |    * (CAST(round(x, 6) AS DECIMAL(12,6))
        |      - CAST(round(c, 6) AS DECIMAL(12,6)))),
        |  CAST(0 AS DECIMAL(30,12)),
        |  (acc, z) -> CAST(acc + z AS DECIMAL(30,12)))""".stripMargin)
    val w = Window.partitionBy("vec_id", "sub")
      .orderBy(col("d2"), col("code"))
    slices(e, "vec_id").join(cb, "sub")
      .withColumn("d2", d2)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("vec_id", "sub", "code", "d2")
  }

  /** The PQ asymmetric-distance (ADC) search pipeline: per query, a
    * (sub, code) -> distance LUT against the broadcast codebook, then a
    * codes-only scan summed per (q, vec) and the top-5 heap. Returns
    * `(q_id, vec_id, adc_d2)` with 5 rows per query, unranked. Single
    * definition shared by `sim_pq_adc_topk` (the search) and
    * `sim_pq_recall_eval` (its eval) — the ivfTopK discipline.
    */
  private def pqAdcTop(s: SparkSession, d: String): DataFrame = {
    val codes = pqBest(s, d).select("vec_id", "sub", "code")
    val scored = codes.join(pqQueryLut(s, d), Seq("sub", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy("q_id", "vec_id")
      .agg(sum(col("ad2")).as("adc_d2"))
    graft.plans.TopKPerKey.topK(scored, Seq(col("q_id")),
      Seq(col("adc_d2").asc, col("vec_id").asc), 5)
  }

  /** The broadcast per-query ADC lookup table `(q_id, sub, code, ad2)` —
    * the O(Q·M·K) table every PQ-side scan probes, extracted from the
    * flat ADC search so the IVF-routed composite (`sim_ivfpq_topk`)
    * ranks with the IDENTICAL exact-decimal distance kernel (the
    * ivfTopK single-definition discipline).
    */
  private def pqQueryLut(s: SparkSession, d: String): DataFrame = {
    val q = vectors(s, d)
      .filter(col("vec_id") >= 10 && col("vec_id") < 20)
      .select(col("vec_id").as("q_id"),
        posexplode(expr(
          "transform(sequence(1, 8), m -> slice(v, (m - 1) * 8 + 1, 8))"))
          .as(Seq("sub", "qv")))
    val cb = vectors(s, d).filter(col("vec_id") < 16)
      .select(col("vec_id").as("code"),
        posexplode(expr(
          "transform(sequence(1, 8), m -> slice(v, (m - 1) * 8 + 1, 8))"))
          .as(Seq("sub", "cv")))
    val adc = expr(
      """aggregate(
        |  zip_with(qv, cv, (x, c) ->
        |    (CAST(round(x, 6) AS DECIMAL(12,6))
        |      - CAST(round(c, 6) AS DECIMAL(12,6)))
        |    * (CAST(round(x, 6) AS DECIMAL(12,6))
        |      - CAST(round(c, 6) AS DECIMAL(12,6)))),
        |  CAST(0 AS DECIMAL(30,12)),
        |  (acc, z) -> CAST(acc + z AS DECIMAL(30,12)))""".stripMargin)
    broadcast(q.join(cb, "sub").withColumn("ad2", adc)
      .select("q_id", "sub", "code", "ad2"))
  }

  /** IVF + PQ composite top-5 `(q_id, vec_id, adc_d2)` — the production
    * ANN architecture at corpus scale: the coarse IVF codebook routes
    * each query to its 4 probed cells (same [[ivfAssign]] assignment +
    * probe codebook as `sim_topk_ivf`), and ONLY the codes of vectors in
    * those cells are ranked by the PQ asymmetric distance (same
    * [[pqBest]] encode + [[pqQueryLut]] LUT as `sim_pq_adc_topk`). The
    * scan therefore touches ~nprobe/C of the code table and never a
    * base vector — the memory/IO shape FAISS's IVFADC runs at billions
    * of vectors. Shared by `sim_ivfpq_topk` and its recall eval.
    */
  private def ivfPqTop(s: SparkSession, d: String): DataFrame = {
    val q = vectors(s, d)
      .filter(col("vec_id") >= 10 && col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val wProbe = Window.partitionBy("q_id")
      .orderBy(col("qcos").desc, col("c_id"))
    val probes = q.crossJoin(ivfCentroids(s, d))
      .withColumn("qcos", expr("round(cosine_sim(qv, cv), 6)"))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= 4)
      .select("q_id", "c_id")
    val cand = probes
      .join(ivfAssign(s, d).select(col("vec_id"), col("cluster")),
        col("c_id") === col("cluster"))
      .filter(col("vec_id") =!= col("q_id"))
      .select("q_id", "vec_id")
    val scored = cand
      .join(pqBest(s, d).select("vec_id", "sub", "code"), "vec_id")
      .join(pqQueryLut(s, d), Seq("q_id", "sub", "code"))
      .groupBy("q_id", "vec_id")
      .agg(sum(col("ad2")).as("adc_d2"))
    graft.plans.TopKPerKey.topK(scored, Seq(col("q_id")),
      Seq(col("adc_d2").asc, col("vec_id").asc), 5)
  }

  /** The IVF top-k pipeline behind `sim_topk_ivf` AND the exact-vs-ANN
    * comparison in `sim_recall_eval` (single definition so the graded
    * path and the production path cannot drift): assign every vector to
    * its nearest of 16 deterministic coarse centroids (one broadcast
    * pass), probe each query's nprobe=4 nearest centroids, search only
    * those clusters, rank the survivors. Returns (q_id, n_id, cos, rnk)
    * with rnk <= TopK, unordered.
    */
  /** Widest nprobe any consumer asks for — the shared candidate memo
    * below scores once at this width and every narrower nprobe filters
    * down by probe rank.
    */
  private val MaxNprobe = 4

  /** Scored IVF candidates per codebook at nprobe = [[MaxNprobe]], each
    * row tagged with its cluster's probe rank `prn` (r14, VERDICT r13
    * #5): probing nprobe ∈ {1, 2, 4} re-ran the probe + cluster search +
    * cosine re-scoring PER SWEEP LEG — but the nprobe=1 candidate set is
    * exactly the prn ≤ 1 slice of the nprobe=4 one (probe ranks are a
    * fixed total order per query: round-6 cosine desc, c_id tiebreak),
    * so one scored superset serves every leg. Each (q, vec) appears at
    * most once (a vector lives in exactly one cluster), making `prn` a
    * function of the row — filtering it commutes with everything
    * downstream. One ScopedMemo entry per codebook; O(q · N · nprobe/C)
    * rows, the same size class as one leg's intermediate.
    */
  private def ivfScoredCands(s: SparkSession, d: String,
      codebook: String): DataFrame =
    graft.plans.ScopedMemo(s, s"ivf_scored_cands#$codebook#$d") {
      val e = vectors(s, d)
      // probe and assignment MUST share one codebook: seed slices by
      // default, or the learned Lloyd codebook for the sweep's second
      // leg. Both assignments are ScopedMemo-backed.
      val cent =
        if (codebook == "seed") ivfCentroids(s, d)
        else broadcast(learnedCentroids(s, d))
      val assign =
        if (codebook == "seed") ivfAssign(s, d) else learnedAssign(s, d)
      val q = e.filter(col("vec_id") >= 10 && col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      val wProbe = Window.partitionBy("q_id")
        .orderBy(col("qcos").desc, col("c_id"))
      val probes = q.crossJoin(cent)
        .withColumn("qcos", expr("round(cosine_sim(qv, cv), 6)"))
        .withColumn("prn", row_number().over(wProbe))
        .filter(col("prn") <= MaxNprobe)
        .select("q_id", "qv", "prn", "c_id")
      probes.join(assign, col("c_id") === col("cluster"))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("cos", expr("round(cosine_sim(qv, v), 6)"))
        .select(col("q_id"), col("prn"), col("vec_id").as("n_id"),
          col("cos"))
    }

  private def ivfTopK(s: SparkSession, d: String,
      nprobe: Int = 4, codebook: String = "seed"): DataFrame = {
    require(nprobe <= MaxNprobe, s"nprobe $nprobe > MaxNprobe $MaxNprobe")
    // search only the clusters probed within this nprobe budget: the
    // prn ≤ nprobe slice of the shared scored-candidate memo is exactly
    // the candidate set the per-leg probe used to rebuild
    val wTop = Window.partitionBy("q_id")
      .orderBy(col("cos").desc, col("n_id"))
    ivfScoredCands(s, d, codebook)
      .filter(col("prn") <= nprobe)
      .select(col("q_id"), col("n_id"), col("cos"),
        row_number().over(wTop).cast("long").as("rnk"))
      .filter(col("rnk") <= TopK)
  }

  /** The `embedding_knn_graph` candidate pipeline: IVF assign (nearest
    * of 16 centroids), probe 2 nearest centroids per query, search only
    * those clusters, keep the top [[KnnK]] per query through the
    * bounded-heap TopKPerKey operator. Returns (q_id, n_id, cos),
    * unranked.
    *
    * Memoized per (session, sf): FOUR consumers
    * (`embedding_knn_graph`, `embedding_hubness`, `sim_graph_beam`,
    * `sim_graph_beam_recall`) each re-ran the full corpus-wide probe +
    * cluster search otherwise — the graph build is exactly the cost an
    * HNSW-style index amortizes across its query batch, so the engine
    * should too. The memo is O(N·K) edges; budget family `knn_edges`
    * accounts for whichever consumer pays the build in bench order.
    */
  private def knnEdges(s: SparkSession, d: String): DataFrame =
    graft.plans.ScopedMemo(s, s"sim_knn_edges#$d")(knnEdgesBuild(s, d))

  private def knnEdgesBuild(s: SparkSession, d: String): DataFrame = {
    val e = vectors(s, d)
    val cent = ivfCentroids(s, d)
    val assign = ivfAssign(s, d)
    val wProbe = Window.partitionBy("q_id")
      .orderBy(col("qcos").desc, col("c_id"))
    val probes = e.select(col("vec_id").as("q_id"), col("v").as("qv"))
      .crossJoin(cent)
      .withColumn("qcos", expr("round(cosine_sim(qv, cv), 6)"))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= 2)
      .select("q_id", "qv", "c_id")
    val scored = probes.join(assign, col("c_id") === col("cluster"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", expr("round(cosine_sim(qv, v), 6)"))
      .select(col("q_id"), col("vec_id").as("n_id"), col("cos"))
    graft.plans.TopKPerKey.topK(scored, Seq(col("q_id")),
      Seq(col("cos").desc, col("n_id")), KnnK)
  }

  /** Graph-ANN beam search over the [[knnEdges]] adjacency — the query
    * path the kNN graph build was missing (the HNSW/NSG search loop with
    * a FIXED two-hop budget, which keeps the plan static and
    * oracle-expressible). Seeds: each query's 2 nearest coarse-centroid
    * NODES — the centroids are the first 16 vectors, so they are genuine
    * graph vertices, the standard fixed-entry-point trick. Each hop
    * expands the frontier through the edge list, rescores every visited
    * node with the EXACT rounded cosine, and prunes to a
    * [[BeamWidth]]-node beam (final hop: top-[[TopK]]) through the
    * bounded-heap TopKPerKey. Scale shape: per query the search touches
    * O(seeds + beam·K) nodes; every expansion is an equi-join keyed on
    * the node id against the (src-keyed) edge table — frontier-sized
    * shuffles, never corpus scans — and the graph build amortizes across
    * the whole query batch. Returns (q_id, n_id, cos), ≤ TopK rows per
    * query, unranked; shared by `sim_graph_beam` and its recall eval.
    */
  private def graphBeamTop(s: SparkSession, d: String): DataFrame = {
    val e = vectors(s, d)
    val cent = ivfCentroids(s, d)
    val q = broadcast(e.filter(col("vec_id") >= 10 && col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("v").as("qv")))
    val edges = knnEdges(s, d)
      .select(col("q_id").as("src"), col("n_id").as("dst"))
    val wProbe = Window.partitionBy("q_id")
      .orderBy(col("qcos").desc, col("c_id"))
    val seeds = q.crossJoin(cent)
      .withColumn("qcos", expr("round(cosine_sim(qv, cv), 6)"))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= 2)
      .select(col("q_id"), col("c_id").as("node"))
    // frontier ∪ its out-neighbors, deduped (a node reached twice is
    // scored once), the query itself never a candidate
    def expand(frontier: DataFrame): DataFrame =
      frontier.select("q_id", "node")
        .unionByName(frontier.join(edges, col("node") === col("src"))
          .select(col("q_id"), col("dst").as("node")))
        .filter(col("node") =!= col("q_id"))
        .distinct()
    def score(cand: DataFrame): DataFrame =
      cand.join(q, "q_id")
        .join(e, col("vec_id") === col("node"))
        .withColumn("cos", expr("round(cosine_sim(qv, v), 6)"))
        .select("q_id", "node", "cos")
    val beam1 = graft.plans.TopKPerKey.topK(score(expand(seeds)),
      Seq(col("q_id")), Seq(col("cos").desc, col("node")), BeamWidth)
    graft.plans.TopKPerKey.topK(score(expand(beam1)),
        Seq(col("q_id")), Seq(col("cos").desc, col("node")), TopK)
      .select(col("q_id"), col("node").as("n_id"), col("cos"))
  }

  /** doc_id + 512-dim signed hashing-trick vector over the doc's 3-word
    * shingle set ([[graft.functions.HashTfVec]]) — the featurization feeding
    * `sim_pairs_lsh`. Shingle-less (short) docs are dropped: a zero vector
    * has no direction.
    */
  /** 16-bit sign-LSH codes per vector (deterministic LCG hyperplanes,
    * decimal-summed projections) — the kernel behind
    * `embedding_sign_lsh`'s collision census and
    * `sim_hamming_topk_eval`'s binary retrieval.
    */
  /** Memoized per (session, sf): the O(N·16·d) projection shuffle is the
    * whole cost of BOTH consumers (`embedding_sign_lsh`,
    * `sim_hamming_topk_eval`), each of which previously rebuilt it; the
    * code table itself is O(N) longs — cheap to pin.
    */
  private def signCodes(s: SparkSession, d: String): DataFrame =
    graft.plans.ScopedMemo(s, s"sim_sign_codes#$d")(signCodesBuild(s, d))

  private def signCodesBuild(s: SparkSession, d: String): DataFrame = {
    val ex = t(s, d, "embeddings")
      .select(col("vec_id"),
        posexplode(expr("transform(embedding, " +
          "x -> CAST(round(CAST(x AS DOUBLE), 9) AS DECIMAL(20,9)))"))
          .as(Seq("pos", "xd")))
    ex.withColumn("p", explode(expr("sequence(0, 15)")))
      .withColumn("sgn", expr(
        """CASE WHEN (((CAST(1103515245 AS BIGINT) * (p * 1024 + pos)
          |  + 12345) % 2147483647) div 65536) % 2 = 0
          |THEN 1 ELSE -1 END""".stripMargin))
      .groupBy("vec_id", "p")
      .agg(sum(expr("sgn * xd")).as("dot"))
      .withColumn("bitv", expr(
        "CASE WHEN dot >= 0 THEN shiftleft(CAST(1 AS BIGINT), p) " +
          "ELSE CAST(0 AS BIGINT) END"))
      .groupBy("vec_id").agg(sum(col("bitv")).as("code"))
  }

  private[graft] def docVectors(s: SparkSession, d: String): DataFrame = {
    CosineSim.register(s)
    graft.functions.HashTfVec.register(s)
    // memoized: sim_pairs_lsh joins this table on BOTH pair sides, so
    // unpinned the 512-dim hashing-trick featurization runs twice per
    // document per invocation
    graft.plans.ScopedMemo(s, s"sim_doc_vectors#$d")(
      Dedup.shingled(s, d).filter(size(col("shingles")) > 0)
        .select(col("doc_id"), expr("hash_tf_vec(shingles)").as("v")))
  }

  /** MinHash 16x4 band-join candidate pairs over the doc shingle sets —
    * `sim_pairs_lsh`'s candidate stage, exposed so OperatorSpec's
    * pruning-ratio pin measures the REAL pipeline rather than a copy that
    * could drift from it.
    */
  private[graft] def lshCandidates(s: SparkSession, d: String): DataFrame = {
    graft.functions.MinHashBands.register(s)
    val sh = Dedup.shingled(s, d).filter(size(col("shingles")) > 0)
    val banded = sh.select(col("doc_id"),
      posexplode(expr("minhash_bands(shingles)")).as(Seq("band", "bh")))
    val right = banded.select(col("doc_id").as("doc_b"),
      col("band").as("band2"), col("bh").as("bh2"))
    banded.join(right,
        col("band") === col("band2") && col("bh") === col("bh2")
          && col("doc_id") < col("doc_b"))
      .select(col("doc_id").as("id_a"), col("doc_b").as("id_b"))
      .distinct()
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_cosine_topk" -> { (s, d) =>
      val e = vectors(s, d)
      val q = broadcast(e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("v").as("qv")))
      // per-query top-k through the native TopKPerKey operator: the
      // window formulation would shuffle ALL q×N scored rows and fully
      // sort each query's group; the heap operator ships ≤ K rows per
      // (query, partition) — at corpus scale the difference between
      // moving the scored corpus and moving q×K rows. The rank column is
      // recomputed by a window over the ≤ q×K survivors (tiny).
      val scored = q.join(e, col("vec_id") =!= col("q_id"))
        .withColumn("cos", expr("round(cosine_sim(qv, v), 6)"))
        .select(col("q_id"), col("vec_id").as("n_id"), col("cos"))
      val w = Window.partitionBy("q_id")
        .orderBy(col("cos").desc, col("n_id"))
      graft.plans.TopKPerKey.topK(scored, Seq(col("q_id")),
          Seq(col("cos").desc, col("n_id")), TopK)
        .withColumn("rnk", row_number().over(w).cast("long"))
        .orderBy("q_id", "rnk")
    },

    "sim_pairs_threshold" -> { (s, d) =>
      val e = vectors(s, d)
      val b = e.select(col("vec_id").as("vec_id2"), col("v").as("v2"))
      // cheap ordered-pair predicate FIRST in the join condition: the BNLJ
      // evaluates conjuncts in order, so half the pair space skips the
      // cosine kernel entirely
      e.join(b, col("vec_id") < col("vec_id2")
          && expr("round(cosine_sim(v, v2), 6)") >= CosineThreshold)
        .withColumn("cos", expr("round(cosine_sim(v, v2), 6)"))
        .select(col("vec_id").as("id_a"), col("vec_id2").as("id_b"),
          col("cos"))
        .orderBy("id_a", "id_b")
    },

    // scale path A: LSH-pruned cosine pair search in its WINNING regime.
    // The embeddings fixture is near-orthogonal with tau=0.4 — no banding
    // scheme can prune there (every pair is a candidate at any recall), so
    // this op runs where LSH actually earns its keep: the near-dup-rich
    // document space. Pipeline: shingles -> `hash_tf_vec` 512-dim signed
    // hashing-trick vectors (planted near-dups land at cos >= 0.89,
    // background tops out near 0.4 — a wide empty margin around tau=0.8)
    // -> MinHash 16x4 band join on the same shingle sets for candidates
    // (amplified recall ~1 above the operating point, background Jaccard
    // ~0.01 => candidate pairs are ~1e-4 of N^2) -> exact `cosine_sim`
    // verify of candidates only. No oracle (hash bucketing isn't
    // SQL-mirrorable); OperatorSpec asserts lsh == brute force over the
    // same vectors AND pins the pruning ratio.
    "sim_pairs_lsh" -> { (s, d) =>
      val vecs = docVectors(s, d)
      val a = vecs.select(col("doc_id").as("id_a"), col("v"))
      val b = vecs.select(col("doc_id").as("id_b"), col("v").as("v2"))
      lshCandidates(s, d).join(a, "id_a").join(b, "id_b")
        .withColumn("cos", expr("round(cosine_sim(v, v2), 6)"))
        .filter(col("cos") >= DocCosineThreshold)
        .select("id_a", "id_b", "cos")
        .orderBy("id_a", "id_b")
    },

    // scale path B: IVF — deterministic coarse centroids, nprobe-bounded
    // search. Comparisons per query drop from N to ~(nprobe/C)*N. ANN by
    // construction; the whole deterministic pipeline is ALSO mirrored in
    // SQL, and sim_recall_eval grades it against exact search.
    "sim_topk_ivf" -> ((s, d) => ivfTopK(s, d).orderBy("q_id", "rnk")),

    // IVF cell-balance audit — the ANN twin of dedup_lsh_bucket_skew:
    // per coarse cell, the member count the nprobe search will scan.
    // IVF's latency is Σ over probed cells of |cell|, so one hot cell
    // (or many dead ones — the same mass concentrated elsewhere) is what
    // turns a "1/16th of the corpus" probe into a near-full scan; this
    // is the pre-flight read before committing a codebook at scale. The
    // 0..15 grid materializes DEAD cells as zero rows (the signal a
    // census-by-groupBy alone would silently drop). Counts are integer;
    // the two shares are IEEE divisions on integer operands.
    "sim_ivf_cell_skew" -> { (s, d) =>
      val counts = ivfAssign(s, d)
        .groupBy(col("cluster")).agg(count(lit(1)).as("c"))
      // every vector lands in exactly one cell, so Σ counts == N — the
      // 1-row total broadcasts back instead of a driver-side count()
      val tot = counts.agg(sum(col("c")).as("n_total"))
      s.range(16).select(col("id").as("cell"))
        .join(counts, col("cell") === col("cluster"), "left")
        .na.fill(0L, Seq("c"))
        .crossJoin(broadcast(tot))
        .select(col("cell"), col("c").as("n_vecs"),
          round(col("c").cast("double") / col("n_total").cast("double"), 6)
            .as("share"),
          round(col("c").cast("double") * 16d
            / col("n_total").cast("double"), 6).as("skew_vs_uniform"))
        .orderBy("cell")
    },

    // streaming ANN-index MAINTENANCE twin (the VERDICT r12 extension
    // margin): vectors arrive in ingest batches of 256 (arrival order =
    // vec_id — the StreamTwin discipline: same expressions a
    // readStream + stream-static centroid join would run, minus the
    // watermark), each new vector routes to its IVF cell via the
    // broadcast seed codebook, and every batch closes with the health
    // report an index operator pages on: new/total counts, the hottest
    // cell's cumulative share, live-cell census, and the rebuild flag
    // (hot cell ≥ 3× uniform — IVF latency is Σ|probed cells|, so one
    // overloaded cell is what silently turns nprobe/16 into a full
    // scan). State per batch is the O(cells) cumulative census — what a
    // mapGroupsWithState keeper would hold — never the vectors; the
    // running sums ride a cluster-partitioned window over the
    // batch × 16 grid (bounded: arrivals/256 rows per cell). Integer
    // counts; one mirrored IEEE division for the share.
    "stream_ann_ingest" -> { (s, d) =>
      val a = ivfAssign(s, d)
        .select(expr("CAST(vec_id AS BIGINT) div 256").as("batch"),
          col("cluster"))
      val bc = a.groupBy("batch", "cluster").agg(count(lit(1)).as("n_new"))
      val grid = bc.select("batch").distinct()
        .crossJoin(s.range(16).select(col("id").as("cluster")))
      val w = Window.partitionBy("cluster").orderBy("batch")
      val cum = grid.join(bc, Seq("batch", "cluster"), "left")
        .na.fill(0L, Seq("n_new"))
        .withColumn("cum", sum(col("n_new")).over(w))
      cum.groupBy("batch")
        .agg(sum(col("n_new")).as("n_new"),
          sum(col("cum")).as("n_indexed"),
          max(col("cum")).as("hot_cell_n"),
          sum(when(col("cum") > 0, 1L).otherwise(0L)).as("n_cells_live"))
        .select(col("batch"), col("n_new"), col("n_indexed"),
          col("hot_cell_n"),
          round(col("hot_cell_n").cast("double")
            / col("n_indexed").cast("double"), 6).as("hot_cell_share"),
          col("n_cells_live"),
          (col("hot_cell_n") * 16 >= col("n_indexed") * 3)
            .as("rebuild_hot"))
        .orderBy("batch")
    },

    // ANN quality gate: recall@k of the IVF path against brute-force
    // exact search over the same queries — the eval loop every ANN
    // deployment runs before trusting an index config (C, nprobe) at
    // scale. Exact side reuses the bounded-heap TopKPerKey plan (the
    // sim_cosine_topk shape); the hit count is an equi-join of the two
    // k-row-per-query lists — O(q·k), independent of corpus size. Both
    // branches are deterministic (rounded cosine, id tiebreaks), so even
    // the recall NUMBERS hash-match the oracle.
    "sim_recall_eval" -> { (s, d) =>
      val e = vectors(s, d)
      val q = broadcast(e.filter(col("vec_id") >= 10 && col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("v").as("qv")))
      val scored = q.join(e, col("vec_id") =!= col("q_id"))
        .withColumn("cos", expr("round(cosine_sim(qv, v), 6)"))
        .select(col("q_id"), col("vec_id").as("n_id"), col("cos"))
      val exact = graft.plans.TopKPerKey.topK(scored, Seq(col("q_id")),
          Seq(col("cos").desc, col("n_id")), TopK)
        .select("q_id", "n_id")
      val ann = ivfTopK(s, d).select("q_id", "n_id")
      val hits = exact.join(ann, Seq("q_id", "n_id"))
        .groupBy("q_id").agg(count(lit(1)).as("n_hit"))
      exact.groupBy("q_id").agg(count(lit(1)).as("n_exact"))
        .join(hits, Seq("q_id"), "left")
        .select(col("q_id"), col("n_exact"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          round(coalesce(col("n_hit"), lit(0L)).cast("double")
            / col("n_exact").cast("double"), 6).as("recall"))
        .orderBy("q_id")
    },

    // NDCG@5 of the IVF ANN ranking against the exact brute-force
    // cosine ranking — recall counts hits, NDCG grades their ORDER
    // (serving the true #1 at position 5 costs retrieval quality that
    // recall@5 can't see; this is the graded-relevance eval retrieval
    // teams report next to recall). Relevance of an ANN result = 11 −
    // its exact rank (top-10 graded, rest 0); DCG terms rel/log2(pos+1)
    // are rounded to the 1e-6 grid and summed as exact DECIMAL (the
    // forecast_backtest discipline), so per-query sums are partial-agg-
    // proof; IDCG comes from the exact top-5 through the SAME term
    // formula, making NDCG a ratio of two identically-built sums. Same
    // kernels as sim_recall_eval (ivfTopK + bounded-heap exact top-k);
    // at corpus scale only the O(queries·10) joined lists move.
    "rank_ndcg_eval" -> { (s, d) =>
      val e = vectors(s, d)
      val q = broadcast(e.filter(col("vec_id") >= 10 && col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("v").as("qv")))
      val scored = q.join(e, col("vec_id") =!= col("q_id"))
        .withColumn("cos", expr("round(cosine_sim(qv, v), 6)"))
        .select(col("q_id"), col("vec_id").as("n_id"), col("cos"))
      val wQ = Window.partitionBy("q_id")
        .orderBy(col("cos").desc, col("n_id"))
      val exact = graft.plans.TopKPerKey.topK(scored, Seq(col("q_id")),
          Seq(col("cos").desc, col("n_id")), 10)
        .withColumn("xrn", row_number().over(wQ))
        .select(col("q_id"), col("n_id"), col("xrn"))
      val ann = ivfTopK(s, d).select(col("q_id"), col("n_id"), col("rnk"))
      val dcg = ann.join(exact, Seq("q_id", "n_id"), "left")
        .withColumn("rel", coalesce(lit(11) - col("xrn"), lit(0)))
        .withColumn("term", expr(
          "CAST(round(rel / log2(rnk + 1), 6) AS DECIMAL(18,6))"))
        .groupBy("q_id")
        .agg(sum(when(col("xrn").isNotNull, 1L).otherwise(0L))
            .as("n_rel_hit"),
          sum(col("term")).as("dcg_acc"))
      val idcg = exact.filter(col("xrn") <= 5)
        .withColumn("term", expr(
          "CAST(round((11 - xrn) / log2(xrn + 1), 6) AS DECIMAL(18,6))"))
        .groupBy("q_id").agg(sum(col("term")).as("idcg_acc"))
      dcg.join(idcg, "q_id")
        .select(col("q_id"), col("n_rel_hit"),
          col("dcg_acc").cast("double").as("dcg"),
          expr("round(CAST(dcg_acc AS DOUBLE) / CAST(idcg_acc AS DOUBLE)," +
            " 6)").as("ndcg"))
        .orderBy("q_id")
    },

    // k-NN graph construction — the corpus-wide build every graph-ANN
    // index (HNSW/NSG) and every graph-based dedup/label-propagation
    // pass starts from. Same IVF machinery as sim_topk_ivf but with ALL
    // vectors as queries: assign each vector to its nearest of C
    // centroids (one broadcast pass), probe each query's 2 nearest
    // centroids, search only those clusters, keep the top 5 neighbors
    // through the bounded-heap TopKPerKey operator (≤ K rows per
    // (query, partition) ever shuffle — never a full per-query sort).
    // Work is N * nprobe * N/C kernel evals; C is the accuracy/cost
    // knob and scales ~sqrt(N) in a real deployment (C=16 here matches
    // the fixture and the sim_topk_ivf convention, keeping the two
    // IVF paths comparable). Candidate sets are disjoint by
    // construction (a vector lives in exactly one cluster), so no
    // dedup step is needed before the heap.
    "embedding_knn_graph" -> { (s, d) =>
      val w = Window.partitionBy("q_id")
        .orderBy(col("cos").desc, col("n_id"))
      knnEdges(s, d)
        .withColumn("rnk", row_number().over(w).cast("long"))
        .orderBy("q_id", "rnk")
    },

    // graph-ANN search — the FIFTH ANN path (LSH-bands / sign-LSH / IVF /
    // PQ-ADC / graph), completing the family the kNN graph build opened:
    // beam search over the knnEdges adjacency from fixed centroid entry
    // points, two unrolled hops, exact rescoring of visited nodes (see
    // graphBeamTop for the scale argument). Deterministic end-to-end
    // (rounded cosine + id tiebreaks at every prune), so the whole
    // search — not just its recall — hash-checks against the unrolled
    // CTE twin.
    "sim_graph_beam" -> { (s, d) =>
      val w = Window.partitionBy("q_id")
        .orderBy(col("cos").desc, col("n_id"))
      graphBeamTop(s, d)
        .withColumn("rnk", row_number().over(w).cast("long"))
        .orderBy("q_id", "rnk")
    },

    // index-rebuild churn: re-assign every vector after dropping one
    // coarse centroid (c_id 15) and measure, per surviving cell, how
    // many residents move — the blast-radius audit run BEFORE an IVF
    // rebuild ships (high churn in a hot cell = rebuild invalidates the
    // cached postings a reader is mid-scan on). Two broadcast assign
    // passes over the same vectors (the codebooks are O(K) rows) + one
    // keyed compare; output is O(#cells) at any corpus size.
    "sim_ivf_rebuild_churn" -> { (s, d) =>
      val e = vectors(s, d)
      val cent15 = broadcast(e
        .filter(col("vec_id") < 16 && col("vec_id") =!= 15)
        .select(col("vec_id").as("c_id"), col("v").as("cv")))
      val wAssign = Window.partitionBy("vec_id")
        .orderBy(col("ccos").desc, col("c_id"))
      val a15 = e.crossJoin(cent15)
        .withColumn("ccos", expr("round(cosine_sim(v, cv), 6)"))
        .withColumn("arn", row_number().over(wAssign))
        .filter(col("arn") === 1)
        .select(col("vec_id"), col("c_id").as("cluster15"))
      ivfAssign(s, d).select(col("vec_id"), col("cluster"))
        .join(a15, "vec_id")
        .groupBy(col("cluster").as("old_cluster"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(when(col("cluster15") =!= col("cluster"), 1L).otherwise(0L))
            .as("n_moved"))
        .select(col("old_cluster"), col("n_vecs"), col("n_moved"),
          round(col("n_moved").cast("double")
            / col("n_vecs").cast("double"), 6).as("churn"))
        .orderBy("old_cluster")
    },

    // radius (range) search, IVF-bounded: all neighbors with cos ≥ τ
    // among the 2 probed cells per query — the "find everything this
    // similar" complement of top-k (dedup sweeps and contamination
    // checks are radius queries, not k queries). Same probe/search
    // shape as sim_topk_ivf: candidates are cluster-bounded, the τ
    // filter is a post-scan predicate on the exact rounded cosine, and
    // nothing ranks — no window, no heap, output size is the true
    // neighborhood size.
    "sim_range_search" -> { (s, d) =>
      val e = vectors(s, d)
      val q = e.filter(col("vec_id") >= 10 && col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      val wProbe = Window.partitionBy("q_id")
        .orderBy(col("qcos").desc, col("c_id"))
      val probes = q.crossJoin(ivfCentroids(s, d))
        .withColumn("qcos", expr("round(cosine_sim(qv, cv), 6)"))
        .withColumn("prn", row_number().over(wProbe))
        .filter(col("prn") <= 2)
        .select("q_id", "qv", "c_id")
      probes.join(ivfAssign(s, d), col("c_id") === col("cluster"))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("cos", expr("round(cosine_sim(qv, v), 6)"))
        .filter(col("cos") >= RangeTau)
        .select(col("q_id"), col("vec_id").as("n_id"), col("cos"))
        .orderBy("q_id", "n_id")
    },

    // recall of the radius search vs the brute-force exact τ-neighborhood
    // — the eval-closing rule (an index path without its eval is
    // unshippable); recall defaults to 1.0 for queries whose true
    // neighborhood is empty (nothing to miss).
    "sim_range_recall" -> { (s, d) =>
      val e = vectors(s, d)
      val q = e.filter(col("vec_id") >= 10 && col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      val wProbe = Window.partitionBy("q_id")
        .orderBy(col("qcos").desc, col("c_id"))
      val probes = q.crossJoin(ivfCentroids(s, d))
        .withColumn("qcos", expr("round(cosine_sim(qv, cv), 6)"))
        .withColumn("prn", row_number().over(wProbe))
        .filter(col("prn") <= 2)
        .select("q_id", "qv", "c_id")
      val ann = probes.join(ivfAssign(s, d), col("c_id") === col("cluster"))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("cos", expr("round(cosine_sim(qv, v), 6)"))
        .filter(col("cos") >= RangeTau)
        .select(col("q_id"), col("vec_id").as("n_id"))
      val exact = q.join(e, col("vec_id") =!= col("q_id"))
        .withColumn("cos", expr("round(cosine_sim(qv, v), 6)"))
        .filter(col("cos") >= RangeTau)
        .select(col("q_id"), col("vec_id").as("n_id"))
      val hits = exact.join(ann, Seq("q_id", "n_id"))
        .groupBy("q_id").agg(count(lit(1)).as("n_hit"))
      val nx = exact.groupBy("q_id").agg(count(lit(1)).as("n_exact"))
      q.select("q_id").join(nx, Seq("q_id"), "left")
        .join(hits, Seq("q_id"), "left")
        .select(col("q_id"),
          coalesce(col("n_exact"), lit(0L)).as("n_exact"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          when(coalesce(col("n_exact"), lit(0L)) === 0L, lit(1.0))
            .otherwise(round(coalesce(col("n_hit"), lit(0L))
              .cast("double") / col("n_exact").cast("double"), 6))
            .as("recall"))
        .orderBy("q_id")
    },

    // recall@k of the beam search vs brute-force exact — the same eval
    // closing discipline every other ANN path in this engine ships with
    // (sim_recall_eval, sim_pq_recall_eval, sim_hamming_topk_eval):
    // an index path without its eval is unshippable at scale.
    "sim_graph_beam_recall" -> { (s, d) =>
      val e = vectors(s, d)
      val q = broadcast(e.filter(col("vec_id") >= 10 && col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("v").as("qv")))
      val scored = q.join(e, col("vec_id") =!= col("q_id"))
        .withColumn("cos", expr("round(cosine_sim(qv, v), 6)"))
        .select(col("q_id"), col("vec_id").as("n_id"), col("cos"))
      val exact = graft.plans.TopKPerKey.topK(scored, Seq(col("q_id")),
          Seq(col("cos").desc, col("n_id")), TopK)
        .select("q_id", "n_id")
      val ann = graphBeamTop(s, d).select("q_id", "n_id")
      val hits = exact.join(ann, Seq("q_id", "n_id"))
        .groupBy("q_id").agg(count(lit(1)).as("n_hit"))
      exact.groupBy("q_id").agg(count(lit(1)).as("n_exact"))
        .join(hits, Seq("q_id"), "left")
        .select(col("q_id"), col("n_exact"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          round(coalesce(col("n_hit"), lit(0L)).cast("double")
            / col("n_exact").cast("double"), 6).as("recall"))
        .orderBy("q_id")
    },

    // hubness audit over the k-NN graph: the k-occurrence (in-degree)
    // histogram — how often each vector is someone ELSE's neighbor. The
    // known high-dimensional ANN pathology: a few hub vectors appear in
    // everyone's neighbor lists (dominating retrieval) while antihubs
    // (k-occ 0) are unreachable; the histogram's spread is the health
    // metric an index owner tracks across encoder versions. One keyed
    // count over the shared knn edge list + a left join back to ALL
    // vectors so antihubs are counted, then an O(#degrees) rollup.
    "embedding_hubness" -> { (s, d) =>
      val indeg = knnEdges(s, d).groupBy("n_id")
        .agg(count(lit(1)).as("k_occ"))
      t(s, d, "embeddings").select(col("vec_id"))
        .join(indeg, col("vec_id") === col("n_id"), "left")
        .select(coalesce(col("k_occ"), lit(0L)).as("k_occ"))
        .groupBy("k_occ").agg(count(lit(1)).as("n_vectors"))
        .orderBy("k_occ")
    },

    // two Lloyd iterations of k-means (k=8, deterministic seed centroids =
    // the first 8 vectors) — the clustering pass that builds IVF coarse
    // quantizers and corpus topic buckets. Per iteration: one broadcast
    // argmax assignment (linear scan, no shuffle of vectors) and one
    // per-dimension mean whose sums run in exact decimal so partial-agg
    // merge order can never move a centroid by an ulp. The recompute
    // shuffles (cluster, dim, sum) triples — k×dims rows, independent of
    // corpus size — which is why Lloyd scales on Spark: the data never
    // moves, only the sufficient statistics do.
    "kmeans_lloyd" -> { (s, d) =>
      val e = vectors(s, d)
      val cent0 = broadcast(e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("c_id"), col("v").as("cv")))
      def assign(points: DataFrame, cents: DataFrame): DataFrame = {
        val w = Window.partitionBy("vec_id")
          .orderBy(col("ccos").desc, col("c_id"))
        points.crossJoin(cents)
          .withColumn("ccos", expr("round(cosine_sim(v, cv), 6)"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("vec_id"), col("v"), col("c_id").as("cluster"))
      }
      val a1 = assign(e, cent0)
      // per-dim means in exact decimal: round(x,6) is lossless-decimal,
      // the sum is associative, the final /count is one IEEE division
      val means = a1.select(col("cluster"), posexplode(expr(
          "transform(v, x -> CAST(round(x, 6) AS DECIMAL(12,6)))"))
          .as(Seq("pos", "x")))
        .groupBy("cluster", "pos")
        .agg((sum(col("x")).cast("double") / count(lit(1))).as("m"))
      val cent1 = means.groupBy("cluster")
        .agg(expr("transform(array_sort(collect_list(struct(pos, m))), " +
          "p -> p.m)").as("cv"))
        .select(col("cluster").as("c_id"), col("cv"))
      val a2 = assign(e.select(col("vec_id"), col("v")), broadcast(cent1))
      val n1 = a1.groupBy("cluster").agg(count(lit(1)).as("n_iter1"))
      val n2 = a2.groupBy("cluster").agg(count(lit(1)).as("n_iter2"))
      // checksum/norm from the means table (decimal sums), not a list
      // fold — no dependence on either engine's list-reduction order
      val stats = means.groupBy("cluster").agg(
        sum(expr("CAST(round(m, 6) AS DECIMAL(12,6))")).cast("double")
          .as("centroid_sum"),
        round(sqrt(sum(expr("CAST(round(m, 6) AS DECIMAL(12,6)) * " +
          "CAST(round(m, 6) AS DECIMAL(12,6))")).cast("double")), 6)
          .as("centroid_norm"))
      n1.join(n2, Seq("cluster"), "left")
        .join(stats, Seq("cluster"))
        .select(col("cluster"), col("n_iter1"),
          coalesce(col("n_iter2"), lit(0L)).as("n_iter2"),
          round(col("centroid_sum"), 6).as("centroid_sum"),
          col("centroid_norm"))
        .orderBy("cluster")
    },

    // product quantization (the IVF-PQ compression stage every
    // billion-vector ANN index runs): the 64-dim vector splits into M=8
    // subspaces of 8 dims, each subvector snaps to the nearest of K=16
    // per-subspace codebook centroids (deterministic seeds = slices of
    // the first 16 vectors, the kmeans_lloyd convention), and the vector
    // ships as 8 codes + its reconstruction error. Scale shape: the
    // codebook is O(M*K) and BROADCAST; the corpus explodes to M
    // subvector rows per vector (same total bytes as the input — a
    // projection, not a blow-up), each scoring 16 candidates in one
    // broadcast-join pass, then one groupBy(vec_id) reassembles codes.
    // No all-pairs anywhere; at 100 TB this is a map-side scan + one
    // key-local shuffle of (vec_id, sub, code) triples. Determinism: the
    // squared distance accumulates in exact decimal over lossless
    // round(·,6) casts (merge order can't move an ulp) and the argmin
    // tiebreaks on code id — both engines pick identical codes.
    "embedding_pq" -> { (s, d) =>
      pqBest(s, d)
        .groupBy("vec_id")
        .agg(
          expr("array_join(transform(array_sort(" +
            "collect_list(struct(sub, code))), p -> CAST(p.code AS STRING))" +
            ", ',')").as("codes"),
          round(sum(col("d2")).cast("double"), 6).as("recon_err"))
        .orderBy("vec_id")
    },

    // PQ asymmetric-distance search (the FAISS ADC pattern — the FOURTH
    // ANN path next to banded MinHash, IVF, and sign-LSH): queries stay
    // full-precision, the base stays 8-byte PQ codes, and each query
    // precomputes a (sub, code) -> distance lookup table against the
    // codebook. The scan then never touches a base VECTOR — per base
    // row it's 8 table lookups and an add, which is the whole reason PQ
    // search scales (memory traffic drops 32×; at 100 TB the base read
    // is codes, not floats). LUT is O(Q·8·16) rows broadcast; distances
    // sum in exact decimal (the pqBest discipline) so ADC scores are
    // bit-stable; top-5 per query through the bounded TopKPerKey heap.
    "sim_pq_adc_topk" -> { (s, d) =>
      val w = Window.partitionBy("q_id")
        .orderBy(col("adc_d2"), col("vec_id"))
      pqAdcTop(s, d)
        .select(col("q_id"), col("vec_id").as("n_id"),
          round(col("adc_d2").cast("double"), 6).as("adc_dist"),
          row_number().over(w).cast("long").as("rnk"))
        .orderBy("q_id", "rnk")
    },

    // recall@5 of the ADC path against the exact (rounded-decimal)
    // squared-L2 top-5 — the eval that closes ANN path #4, exactly as
    // sim_recall_eval closes IVF: every ANN path in this engine ships
    // with its recall measured against a shared exact branch, or it
    // doesn't ship. Q is 10 queries, so the exact branch is a bounded
    // broadcast scan; both top-5s ride the heap operator.
    "sim_pq_recall_eval" -> { (s, d) =>
      val e = vectors(s, d)
      val q = broadcast(e
        .filter(col("vec_id") >= 10 && col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("v").as("qv")))
      val exD2 = expr(
        """aggregate(
          |  zip_with(qv, v, (x, c) ->
          |    (CAST(round(x, 6) AS DECIMAL(12,6))
          |      - CAST(round(c, 6) AS DECIMAL(12,6)))
          |    * (CAST(round(x, 6) AS DECIMAL(12,6))
          |      - CAST(round(c, 6) AS DECIMAL(12,6)))),
          |  CAST(0 AS DECIMAL(30,12)),
          |  (acc, z) -> CAST(acc + z AS DECIMAL(30,12)))""".stripMargin)
      val scored = q.join(e, col("vec_id") =!= col("q_id"))
        .withColumn("d2", exD2)
        .select(col("q_id"), col("vec_id").as("n_id"), col("d2"))
      val exact = graft.plans.TopKPerKey.topK(scored, Seq(col("q_id")),
        Seq(col("d2").asc, col("n_id").asc), 5).select("q_id", "n_id")
      val ann = pqAdcTop(s, d)
        .select(col("q_id"), col("vec_id").as("n_id"))
      val hits = exact.join(ann, Seq("q_id", "n_id"))
        .groupBy("q_id").agg(count(lit(1)).as("n_hit"))
      exact.groupBy("q_id").agg(count(lit(1)).as("n_exact"))
        .join(hits, Seq("q_id"), "left")
        .select(col("q_id"), col("n_exact"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          round(coalesce(col("n_hit"), lit(0L)).cast("double")
            / col("n_exact").cast("double"), 6).as("recall"))
        .orderBy("q_id")
    },

    // scale path F: IVF routing × PQ compression composed — FAISS-IVFADC's
    // plan shape. The coarse codebook prunes the scan to ~nprobe/C of the
    // corpus and the PQ codes replace the base vectors inside it, so at
    // 100 TB the per-query work is (nprobe/C)·N LUT lookups over 8-byte
    // codes — neither the full corpus nor any raw vector moves. Both
    // stages reuse their graded kernels (ivfAssign, pqBest, pqQueryLut);
    // the whole pipeline stays exact-decimal, so it hash-matches the
    // oracle end-to-end, and the recall eval below prices the combined
    // cell-miss + quantization loss.
    "sim_ivfpq_topk" -> { (s, d) =>
      val w = Window.partitionBy("q_id")
        .orderBy(col("adc_d2"), col("vec_id"))
      ivfPqTop(s, d)
        .select(col("q_id"), col("vec_id").as("n_id"),
          round(col("adc_d2").cast("double"), 6).as("adc_dist"),
          row_number().over(w).cast("long").as("rnk"))
        .orderBy("q_id", "rnk")
    },

    // recall@5 of the IVF+PQ composite against the exact rounded-decimal
    // squared-L2 top-5 — the eval that closes ANN path F (the
    // sim_recall_eval rule: no path ships unmeasured). Reading this next
    // to sim_pq_recall_eval separates the two loss sources: any recall
    // the flat ADC had that this lacks is CELL loss (the query's true
    // neighbors living in unprobed cells), not quantization.
    "sim_ivfpq_recall_eval" -> { (s, d) =>
      val e = vectors(s, d)
      val q = broadcast(e
        .filter(col("vec_id") >= 10 && col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("v").as("qv")))
      val exD2 = expr(
        """aggregate(
          |  zip_with(qv, v, (x, c) ->
          |    (CAST(round(x, 6) AS DECIMAL(12,6))
          |      - CAST(round(c, 6) AS DECIMAL(12,6)))
          |    * (CAST(round(x, 6) AS DECIMAL(12,6))
          |      - CAST(round(c, 6) AS DECIMAL(12,6)))),
          |  CAST(0 AS DECIMAL(30,12)),
          |  (acc, z) -> CAST(acc + z AS DECIMAL(30,12)))""".stripMargin)
      val scored = q.join(e, col("vec_id") =!= col("q_id"))
        .withColumn("d2", exD2)
        .select(col("q_id"), col("vec_id").as("n_id"), col("d2"))
      val exact = graft.plans.TopKPerKey.topK(scored, Seq(col("q_id")),
        Seq(col("d2").asc, col("n_id").asc), 5).select("q_id", "n_id")
      val ann = ivfPqTop(s, d)
        .select(col("q_id"), col("vec_id").as("n_id"))
      val hits = exact.join(ann, Seq("q_id", "n_id"))
        .groupBy("q_id").agg(count(lit(1)).as("n_hit"))
      exact.groupBy("q_id").agg(count(lit(1)).as("n_exact"))
        .join(hits, Seq("q_id"), "left")
        .select(col("q_id"), col("n_exact"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          round(coalesce(col("n_hit"), lit(0L)).cast("double")
            / col("n_exact").cast("double"), 6).as("recall"))
        .orderBy("q_id")
    },

    // greedy k-center / farthest-point traversal (the classic 2-approx,
    // and the kmeans++-style seeding of diverse-coreset selection): pick
    // vec 0, then 3 times the vector maximizing its min rounded-cosine
    // distance to everything already chosen — the "most different
    // examples" sampler a curation pipeline runs when it wants coverage
    // rather than volume. Each round is ONE broadcast of the O(k) chosen
    // set + a corpus-linear min-reduce + a bounded-heap argmax (≤1 row
    // per partition moves). The accumulated chosen set is PINNED through
    // ScopedMemo after every round (≤4 rows each): the recursion is
    // plan-lazy, so without the per-round materialization round r's
    // broadcast job would re-execute rounds 2..r-1's TopK subtrees —
    // O(k²) corpus scans instead of the k this plan does (VERDICT r12
    // #1, the 3.02× bench-gate breach). With the pins, round r reads a
    // 1-row-per-prior-round in-memory table and scans the corpus exactly
    // once, so the whole traversal is k corpus scans at any scale.
    // Ties break to the smallest id; distances round to 6 before every
    // comparison, so the trajectory (and output) hash-matches the
    // unrolled-CTE oracle — materialization cannot move rounded values.
    "sample_kcenter" -> { (s, d) =>
      val e = vectors(s, d)
      val c1 = e.filter(col("vec_id") === 0L)
        .select(lit(1L).as("rnk"), col("vec_id").as("c_id"),
          col("v").as("cv"), lit(null).cast("double").as("dist"))
      val chosen = (2 to 4).foldLeft(c1) { (acc, r) =>
        val dists = e
          .crossJoin(broadcast(acc.select(col("cv").as("ccv"))))
          .withColumn("dd", expr("round(1 - cosine_sim(v, ccv), 6)"))
          .groupBy("vec_id").agg(min(col("dd")).as("dist"))
        val next = graft.plans.TopKPerKey.topK(
          dists.join(e, "vec_id"), Seq(lit(1)),
          Seq(col("dist").desc, col("vec_id")), 1)
        graft.plans.ScopedMemo(s, s"kcenter_round#$d#$r")(
          acc.unionByName(next.select(lit(r.toLong).as("rnk"),
            col("vec_id").as("c_id"), col("v").as("cv"), col("dist"))))
      }
      chosen.select(col("rnk"), col("c_id").as("vec_id"), col("dist"))
        .orderBy("rnk")
    },

    // PQ codebook-quality audit — per subquantizer: how many of the 16
    // codewords are actually USED, how concentrated assignments are on
    // the hottest codeword, and the mean squared distortion the encode
    // pass left behind. A dead codeword (n_codes_used < 16) or a hot one
    // (max_code_share ≫ 1/16) means the codebook wastes bits exactly
    // where PQ can least afford it; mse is the per-sub reconstruction
    // error a recall regression will trace back here. Rides the SAME
    // pqBest table as embedding_pq (one encode, two reports); the d2
    // sums stay exact decimal until one division, counts are integer.
    "embedding_pq_distortion" -> { (s, d) =>
      val hist = pqBest(s, d)
        .groupBy("sub", "code").agg(
          count(lit(1)).as("cnt"), sum(col("d2")).as("sd2"))
      hist.groupBy("sub")
        .agg(sum(col("cnt")).as("n_vecs"),
          count(lit(1)).as("n_codes_used"),
          round(max(col("cnt")).cast("double")
            / sum(col("cnt")).cast("double"), 6).as("max_code_share"),
          round(sum(col("sd2")).cast("double")
            / sum(col("cnt")).cast("double"), 6).as("mse"))
        .select(col("sub").cast("long").as("sub"), col("n_vecs"),
          col("n_codes_used"), col("max_code_share"), col("mse"))
        .orderBy("sub")
    },

    // dominant principal direction by two unrolled power-iteration rounds
    // (infinity-norm normalized): v' ∝ Σᵢ xᵢ (xᵢ · v). The d×d Gram
    // matrix is never materialized — each round is one broadcast of the
    // 64-row direction and one (vec, dim) contraction each way, so at
    // 100 TB only O(d) (dim, sum) rows shuffle per round while the
    // vectors stay put. Determinism discipline: every cross-row sum runs
    // in exact decimal over lossless round(·,6)/(·,8) casts (partial-agg
    // merge order can't move a loading by an ulp), and the normalizer is
    // max|w| — order-independent — instead of an L2 fold whose summation
    // order differs between engines.
    "embedding_pca_power" -> { (s, d) =>
      // vectors stay ARRAYS end-to-end on the dots side: the per-vector
      // contraction x·v runs as an in-codegen zip_with/aggregate fold
      // against the broadcast 1-row direction array — no explode, no
      // join, no groupBy(vec_id) shuffle (the earlier exploded-join form
      // paid two broadcast joins + a 320k-row shuffle per round for the
      // same exact decimals; decimal addition is exact and associative,
      // so fold order cannot move a bit and the oracle is unchanged).
      // Only the cross-VECTOR dimension sums (w_j = Σᵢ xᵢⱼ·dotᵢ) still
      // explode — that reduction genuinely crosses rows.
      val vecs = graft.plans.ScopedMemo(s, s"embedding_pca_vecs#$d")(
        vectors(s, d).select(col("vec_id"),
          expr("transform(v, x -> CAST(round(x, 6) AS DECIMAL(12,6)))")
            .as("xv")))
      // one round: direction ARRAY (1-row frame) -> (j, vj) next direction
      def round(varr: DataFrame): DataFrame = {
        val dots = vecs.crossJoin(broadcast(varr))
          .select(col("vec_id"), col("xv"), expr(
            """CAST(aggregate(
              |  zip_with(xv, varr, (x, y) -> CAST(x * y AS DECIMAL(38,12))),
              |  CAST(0 AS DECIMAL(38,12)),
              |  (a, p) -> CAST(a + p AS DECIMAL(38,12))) AS DECIMAL(20,8))"""
              .stripMargin).as("dot"))
        val w = dots
          .select(col("dot"), posexplode(col("xv")).as(Seq("j", "x")))
          .groupBy("j").agg(sum(col("x") * col("dot")).as("w"))
        val m = w.agg(max(abs(col("w"))).as("m"))
        w.crossJoin(broadcast(m))
          .select(col("j"), expr(
            "CAST(round(CAST(w AS DOUBLE) / CAST(m AS DOUBLE), 6) " +
              "AS DECIMAL(12,6))").as("vj"))
      }
      // (j, vj) -> the 1-row direction array, j-ordered to align with xv
      def toArr(v: DataFrame): DataFrame =
        v.agg(expr(
          "transform(array_sort(collect_list(struct(j, vj))), s -> s.vj)")
          .as("varr"))
      val v0 = vecs.limit(1)
        .select(expr("transform(xv, x -> CAST(1.0 AS DECIMAL(12,6)))")
          .as("varr"))
      round(toArr(round(v0)))
        .select(col("j").cast("long").as("dim"),
          col("vj").cast("double").as("loading"))
        .orderBy("dim")
    },

    // int8 scalar quantization — the storage-side companion to ANN: each
    // vector compresses 4x (float32 -> uint8 codes + 2 doubles), with the
    // per-vector max reconstruction error reported. Pure projection (the
    // lambdas run inside codegen, no shuffle) — at 100 TB this is a
    // map-only re-encode pass. The quantization grid ((x-lo)/(hi-lo)*255)
    // is plain IEEE double arithmetic, identical in DuckDB, so even the
    // error column is hash-checkable.
    "embedding_quantize" -> ((s, d) =>
      t(s, d, "embeddings")
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        .withColumn("lo", expr("array_min(v)"))
        .withColumn("hi", expr("array_max(v)"))
        .withColumn("codes", expr(
          "transform(v, x -> CAST(round((x - lo) / (hi - lo) * 255) AS INT))"))
        .select(col("vec_id"),
          round(col("lo"), 6).as("lo"),
          round(col("hi"), 6).as("hi"),
          expr("aggregate(codes, CAST(0 AS BIGINT), (a, c) -> a + c)")
            .as("code_sum"),
          expr("""round(aggregate(
            |  transform(sequence(1, size(v)),
            |    i -> abs(v[i - 1] - (lo + codes[i - 1] * (hi - lo) / 255))),
            |  CAST(0 AS DOUBLE), (a, e) -> greatest(a, e)), 6)""".stripMargin)
            .as("max_err"))
        .orderBy("vec_id")),

    // embedding-table QA audit: per-label L2-norm distribution — the
    // sanity pass run before any ANN index build (un-normalized or
    // zero-norm vectors poison cosine indexes). Per-vector work happens
    // inside codegen (fold over the array, no explode), one tiny shuffle
    // on label. Determinism: each x² is rounded then decimal-summed so
    // fold/merge order cannot move a norm; sqrt is IEEE-exact in both
    // engines; the label average decimal-sums the rounded norms.
    "embedding_norm_audit" -> ((s, d) =>
      t(s, d, "embeddings")
        .select(col("vec_id"), col("label"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        .withColumn("norm", expr(
          """round(sqrt(CAST(aggregate(v, CAST(0 AS DECIMAL(20,9)),
            |  (a, x) -> CAST(a + CAST(round(x * x, 9) AS DECIMAL(20,9))
            |    AS DECIMAL(20,9))) AS DOUBLE)), 6)""".stripMargin))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          round(sum(expr("CAST(norm AS DECIMAL(12,6))")).cast("double")
            / count(lit(1)), 6).as("avg_norm"),
          min(col("norm")).as("min_norm"),
          max(col("norm")).as("max_norm"))
        .orderBy("label"))
    ,

    // per-DIMENSION embedding audit: mean/sd/min/max for each of the d
    // coordinates — catches dead dimensions (sd ~ 0) and mean-shifted
    // encoders before an index build. posexplode fans (vec, dim) rows out,
    // but the agg output is O(d) regardless of corpus size and the partial
    // agg combines map-side, so the shuffle carries d rows per partition.
    // Moments decimal-sum rounded coordinates (merge-order-proof); sd is
    // computed from the exact moments in double at the end. The variance
    // is clamped at 0 before sqrt: for a dead (near-constant) dimension
    // the rounded moments can put sxx/n - mean^2 a hair below zero, where
    // Spark's sqrt returns NaN but DuckDB RAISES — exactly the case this
    // audit exists to catch, so both sides clamp identically.
    "embedding_dim_stats" -> ((s, d) =>
      t(s, d, "embeddings")
        .select(col("vec_id"),
          posexplode(expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
            .as(Seq("pos", "x")))
        .select((col("pos") + 1).cast("long").as("dim"),
          expr("CAST(round(x, 9) AS DECIMAL(20,9))").as("xd"),
          expr("CAST(round(x * x, 9) AS DECIMAL(20,9))").as("xxd"),
          col("x"))
        .groupBy("dim")
        .agg(count(lit(1)).as("n"),
          sum(col("xd")).cast("double").as("sx"),
          sum(col("xxd")).cast("double").as("sxx"),
          round(min(col("x")), 6).as("min_x"),
          round(max(col("x")), 6).as("max_x"))
        .select(col("dim"), col("n"),
          round(col("sx") / col("n"), 6).as("mean_x"),
          round(sqrt(greatest(lit(0d), col("sxx") / col("n")
            - (col("sx") / col("n")) * (col("sx") / col("n")))), 6)
            .as("sd_x"),
          col("min_x"), col("max_x"))
        .orderBy("dim")),

    // per-label cluster-dispersion QA: each label's centroid (exact-decimal
    // per-dimension means, rounded) and the distribution of member
    // distances to it — the drift check run between encoder versions
    // (a label whose avg distance balloons means its vectors no longer
    // cluster). Centroids are O(labels × d) — broadcast back onto the
    // exploded table, so the only big shuffles are the two (label, dim) /
    // (vec) keyed partial aggs; nothing pairwise, nothing driver-side.
    // Determinism: coordinates rounded then decimal-summed for the means;
    // squared residuals rounded then decimal-summed per vector; sqrt is
    // IEEE-exact; the final per-label avg decimal-sums rounded distances.
    "embedding_centroid_drift" -> { (s, d) =>
      // one ScopedMemo key shared with embedding_outlier_dist: both keys
      // start from the identical rounded-decimal projection, so the memo
      // collapses what used to be two per-invocation leaked pins into one
      // LRU-managed table
      val vecs = decimalVecs(s, d)
      // centroids still reduce across vectors (that genuinely crosses
      // rows): one explode + one (label, j) keyed agg, O(labels × d) out
      val cents = vecs
        .select(col("label"), posexplode(col("xv")).as(Seq("j", "x")))
        .groupBy("label", "j")
        .agg(expr("CAST(round(CAST(sum(x) AS DOUBLE) / count(*), 6)" +
          " AS DECIMAL(12,6))").as("c"))
      // ...but the residual Σ(x-c)² is per-vector arithmetic: fold it
      // in-codegen against a broadcast 1-row label→centroid-array map
      // (the embedding_pca_power discipline) instead of re-exploding and
      // joining the O(N·d) table — decimal sums are exact+associative,
      // so fold order can't move a bit and the oracle is unchanged
      val cmap = cents.groupBy("label")
        .agg(expr("transform(array_sort(collect_list(struct(j, c))), " +
          "s -> s.c)").as("carr"))
        .agg(expr("map_from_entries(collect_list(struct(label, carr)))")
          .as("cmap"))
      val dist = vecs.crossJoin(broadcast(cmap))
        .select(col("vec_id"), col("label"), expr(
          """CAST(round(sqrt(CAST(aggregate(
            |  zip_with(xv, element_at(cmap, label),
            |    (x, c) -> CAST(round(CAST(x - c AS DOUBLE)
            |      * CAST(x - c AS DOUBLE), 9) AS DECIMAL(30,9))),
            |  CAST(0 AS DECIMAL(30,9)),
            |  (a, q) -> CAST(a + q AS DECIMAL(30,9))) AS DOUBLE)), 6)
            |AS DECIMAL(12,6))""".stripMargin).as("dist"))
      dist.groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          round(sum(col("dist")).cast("double") / count(lit(1)), 6)
            .as("avg_dist"),
          min(col("dist")).cast("double").as("min_dist"),
          max(col("dist")).cast("double").as("max_dist"))
        .orderBy("label")
    },

    // embedding-space outlier audit: vectors whose distance to the GLOBAL
    // corpus centroid z-scores above 2.0 — the encoder-glitch / mislabeled-
    // input screen run before any vector index is built (the per-label
    // twin is embedding_centroid_drift; this one flags individual rows).
    // Same scale shape as the drift check: one O(d) centroid agg
    // broadcast back as a 1-row array, per-vector residuals folded
    // in-codegen, then an O(1) moment row broadcast for the z flags —
    // nothing pairwise, nothing driver-side. Same determinism chain:
    // rounded-decimal sums everywhere a reduction crosses rows.
    "embedding_outlier_dist" -> { (s, d) =>
      val vecs = decimalVecs(s, d)
      val carr = vecs
        .select(posexplode(col("xv")).as(Seq("j", "x")))
        .groupBy("j")
        .agg(expr("CAST(round(CAST(sum(x) AS DOUBLE) / count(*), 6)" +
          " AS DECIMAL(12,6))").as("c"))
        .agg(expr("transform(array_sort(collect_list(struct(j, c))), " +
          "s -> s.c)").as("carr"))
      val distPlan = vecs.crossJoin(broadcast(carr))
        .select(col("vec_id"), col("label"), expr(
          """CAST(round(sqrt(CAST(aggregate(
            |  zip_with(xv, carr,
            |    (x, c) -> CAST(round(CAST(x - c AS DOUBLE)
            |      * CAST(x - c AS DOUBLE), 9) AS DECIMAL(30,9))),
            |  CAST(0 AS DECIMAL(30,9)),
            |  (a, q) -> CAST(a + q AS DECIMAL(30,9))) AS DOUBLE)), 6)
            |AS DECIMAL(12,6))""".stripMargin).as("dist"))
      val dist = graft.plans.ScopedMemo(
        s, s"embedding_outlier_dist#$d")(distPlan)
      val stats = dist
        .agg(count(lit(1)).as("n"),
          sum(col("dist")).cast("double").as("sd"),
          sum(expr("CAST(dist * dist AS DECIMAL(30,12))")).cast("double")
            .as("sdd"))
        .select((col("sd") / col("n")).as("mu"),
          sqrt(greatest(lit(0d), col("sdd") / col("n")
            - (col("sd") / col("n")) * (col("sd") / col("n"))))
            .as("sd_dist"))
      dist.crossJoin(broadcast(stats))
        .withColumn("z",
          round((col("dist").cast("double") - col("mu")) / col("sd_dist"),
            6))
        .filter(col("z") > 2.0)
        .select(col("vec_id"), col("label"),
          col("dist").cast("double").as("dist"), col("z"))
        .orderBy("vec_id")
    },

    // per-dimension whitening (standardize each coordinate to mean 0 /
    // unit variance + ε) — the normalization pass before PCA/IVF
    // training, and the fix for the mean-shifted/dead dimensions
    // embedding_dim_stats diagnoses. Scale shape: one (dim)-keyed moment
    // aggregate (O(d) output), stats BROADCAST back onto the exploded
    // table, one (vec)-keyed re-fold — all linear, nothing pairwise.
    // Determinism: moments decimal-sum rounded coordinates; mean/sd
    // derive from those exact sums through identical IEEE ops on both
    // engines, so the per-cell z values are bit-equal; the per-vector
    // norm then decimal-sums round(z²,9).
    "embedding_whiten" -> { (s, d) =>
      val ex = t(s, d, "embeddings")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("vec_id"),
          posexplode(expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
            .as(Seq("pos", "x")))
        .select(col("vec_id"), (col("pos") + 1).cast("long").as("dim"),
          col("x"),
          expr("CAST(round(x, 9) AS DECIMAL(20,9))").as("xd"),
          expr("CAST(round(x * x, 9) AS DECIMAL(20,9))").as("xxd"))
      val stats = ex.groupBy("dim")
        .agg(count(lit(1)).as("n"),
          sum(col("xd")).cast("double").as("sx"),
          sum(col("xxd")).cast("double").as("sxx"))
        .select(col("dim"), (col("sx") / col("n")).as("mu"),
          sqrt(greatest(lit(0d), col("sxx") / col("n")
            - (col("sx") / col("n")) * (col("sx") / col("n")))
            + lit(1e-6)).as("sd"))
      ex.join(broadcast(stats), "dim")
        .withColumn("z", (col("x") - col("mu")) / col("sd"))
        .groupBy("vec_id")
        .agg(round(sqrt(
            sum(expr("CAST(round(z * z, 9) AS DECIMAL(30,9))"))
              .cast("double")), 6).as("white_norm"),
          round(max(abs(col("z"))), 6).as("max_abs_z"))
        .orderBy("vec_id")
    },

    // maximal-marginal-relevance re-rank (Carbonell–Goldstein): after
    // retrieval, pick a DIVERSE top-4 — each greedy round scores the
    // remaining candidates 0.7·relevance − 0.3·(max similarity to the
    // already-picked set) — the de-redundancy step retrieval-augmented
    // dataset builders run after ANN. Scale shape: the expensive part is
    // the retrieval (bounded-heap top-8 per query, the sim_cosine_topk
    // path); everything after operates on ≤8 rows/query (≤56 pair sims,
    // window picks over ≤8-row groups), so the greedy unroll costs
    // O(queries), never O(corpus). All scores round(·,6) with id
    // tie-breaks — both engines pick identical sets in identical order.
    "sim_mmr_rerank" -> { (s, d) =>
      val e = vectors(s, d)
      val q = broadcast(e.filter(col("vec_id") < 4)
        .select(col("vec_id").as("q_id"), col("v").as("qv")))
      val scored = q.join(e, col("vec_id") =!= col("q_id"))
        .withColumn("rel", expr("round(cosine_sim(qv, v), 6)"))
        .select(col("q_id"), col("vec_id").as("c_id"), col("v"), col("rel"))
      val cands = graft.plans.ScopedMemo(s, s"sim_mmr_cands#$d")(
        graft.plans.TopKPerKey.topK(scored, Seq(col("q_id")),
          Seq(col("rel").desc, col("c_id")), 8))
      val cb = cands.select(col("q_id"), col("c_id").as("o_id"),
        col("v").as("ov"))
      val sims = cands.join(cb, Seq("q_id"))
        .filter(col("c_id") =!= col("o_id"))
        .withColumn("sim", expr("round(cosine_sim(v, ov), 6)"))
        .select("q_id", "c_id", "o_id", "sim")
      // The greedy phase is inherently SEQUENTIAL (round r's scores
      // depend on rounds 1..r-1), so expressing it as r unrolled
      // join+window stages pays ~12 full job launches to move ≤56 rows —
      // pure scheduling overhead (measured 5.6 s as a plan, ~1.5 s as a
      // pack-and-fold). The scalable form every production reranker
      // uses: once retrieval has BOUNDED the candidates (top-8/query
      // via the heap operator), pack each query's (rel, pairwise-sim)
      // tables into one row and run the greedy selection in a single
      // in-row pass. All inputs are the same round(·,6) cosines; the
      // fold reproduces the unrolled plan's 0.7·rel − 0.3·max_sim
      // arithmetic (incl. Spark's HALF_UP double round) term for term.
      val packed = cands.groupBy("q_id")
        .agg(collect_list(struct(col("c_id"), col("rel"))).as("cs"))
        .join(sims.groupBy("q_id")
          .agg(collect_list(struct(col("c_id"), col("o_id"), col("sim")))
            .as("ss")), "q_id")
      packed
        .select(col("q_id"), explode(mmrGreedy(col("cs"), col("ss")))
          .as("p"))
        .select(col("q_id"), col("p.rank").as("rank"),
          col("p.s_id").as("s_id"))
        .join(cands.select(col("q_id"), col("c_id").as("s_id"),
          col("rel")), Seq("q_id", "s_id"))
        .select(col("q_id"), col("rank"), col("s_id").as("vec_id"),
          col("rel"))
        .orderBy("q_id", "rank")
    },

    // sign-random-projection LSH (SimHash for dense vectors): 16
    // deterministic ±1 hyperplanes drawn from an LCG over (plane, dim)
    // — the agg_countmin hash-family pattern, bit 16 used for the sign
    // because an LCG's low bit merely alternates — give each vector a
    // 16-bit binary code; equal codes are the ANN candidate buckets.
    // This is the third ANN path next to banded MinHash (sim_pairs_lsh)
    // and IVF (sim_topk_ivf): O(N·planes·d) map-side work, ONE shuffle
    // keyed by (vec, plane) partial sums, and bucket stats that stay
    // O(#codes). Coordinates round-9 to decimal before any sum (exact,
    // order-free); the dot-sign test is an exact decimal comparison.
    "embedding_sign_lsh" -> ((s, d) =>
      signCodes(s, d)
        .groupBy("code").agg(count(lit(1)).as("n_vecs"))
        .withColumn("pairs", expr("(n_vecs * (n_vecs - 1)) div 2"))
        .orderBy(col("n_vecs").desc, col("code"))
        .limit(50)),

    // binary-embedding retrieval eval: top-5 by Hamming distance over
    // the 16-bit sign-LSH codes vs the exact cosine top-5 — the
    // recall-vs-compression read for binary embeddings (popcount over
    // 16 bits vs 64 float mults: the storage/latency end of the
    // Matryoshka axis). Alongside raw recall (noisy at 16 bits by
    // design) the table reports the separation evidence that the codes
    // carry signal: mean Hamming among TRUE nearest neighbors vs the
    // all-pair mean. Code kernel shared with embedding_sign_lsh
    // (factored signCodes); both top-5s ride the bounded heap; Hamming
    // means are exact-integer sums divided once.
    "sim_hamming_topk_eval" -> { (s, d) =>
      val codes = signCodes(s, d)
      val e = vectors(s, d)
      val q = broadcast(e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("v").as("qv")))
      val scored = q.join(e, col("vec_id") =!= col("q_id"))
        .withColumn("cos", expr("round(cosine_sim(qv, v), 6)"))
        .select(col("q_id"), col("vec_id").as("n_id"), col("cos"))
      val exact = graft.plans.ScopedMemo(s, s"sim_hamming_exact#$d")(
        graft.plans.TopKPerKey.topK(scored, Seq(col("q_id")),
          Seq(col("cos").desc, col("n_id")), TopK).select("q_id", "n_id"))
      val qc = broadcast(codes.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("code").as("qcode")))
      val hscored = graft.plans.ScopedMemo(s, s"sim_hamming_scored#$d")(
        qc.join(codes, col("vec_id") =!= col("q_id"))
          .withColumn("ham", expr("bit_count(qcode ^ code)").cast("long"))
          .select(col("q_id"), col("vec_id").as("n_id"), col("ham")))
      val htop = graft.plans.TopKPerKey.topK(hscored, Seq(col("q_id")),
        Seq(col("ham"), col("n_id")), TopK).select("q_id", "n_id")
      val hits = exact.join(htop, Seq("q_id", "n_id"))
        .agg(count(lit(1)).as("n_hits"))
      val nx = exact.agg(count(lit(1)).as("n_exact"))
      val hamTrue = exact.join(hscored, Seq("q_id", "n_id"))
        .agg(sum(col("ham")).as("sh"), count(lit(1)).as("nh"))
      val hamAll = hscored
        .agg(sum(col("ham")).as("sa"), count(lit(1)).as("na"))
      hits.crossJoin(broadcast(nx)).crossJoin(broadcast(hamTrue))
        .crossJoin(broadcast(hamAll))
        .select(lit(16L).as("code_bits"), col("n_exact"), col("n_hits"),
          round(col("n_hits").cast("double") / col("n_exact"), 6)
            .as("recall"),
          round(col("sh").cast("double") / col("nh"), 6)
            .as("mean_ham_true_nn"),
          round(col("sa").cast("double") / col("na"), 6)
            .as("mean_ham_all"))
    },

    // the ANN tuning table: recall@k of the IVF index at nprobe ∈
    // {1, 2, 4} against one shared brute-force exact pass — the sweep an
    // index owner runs to pick the accuracy/cost point before deploying
    // (sim_recall_eval scores ONE config; this draws the curve). The
    // exact side is computed once and cached (it is the expensive
    // branch); each sweep point re-probes only the centroid table, and
    // the hit joins are O(q·k) regardless of corpus size.
    "sim_ivf_nprobe_sweep" -> { (s, d) =>
      val e = vectors(s, d)
      val q = broadcast(e.filter(col("vec_id") >= 10 && col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("v").as("qv")))
      val scored = q.join(e, col("vec_id") =!= col("q_id"))
        .withColumn("cos", expr("round(cosine_sim(qv, v), 6)"))
        .select(col("q_id"), col("vec_id").as("n_id"), col("cos"))
      val exact = graft.plans.ScopedMemo(s, s"sim_sweep_exact#$d")(
        graft.plans.TopKPerKey.topK(scored, Seq(col("q_id")),
          Seq(col("cos").desc, col("n_id")), TopK)
        .select("q_id", "n_id"))
      // two codebooks side by side (VERDICT r10 #6): the deterministic
      // seed slices vs the one-Lloyd-iteration LEARNED codebook — the
      // table an index owner reads to decide whether training the coarse
      // quantizer buys recall at a given nprobe budget
      val hits = (for {
        cbName <- Seq("seed", "learned")
        np <- Seq(1, 2, 4)
      } yield exact.join(ivfTopK(s, d, np, cbName).select("q_id", "n_id"),
          Seq("q_id", "n_id"))
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(cbName).as("codebook"), lit(np).as("nprobe"),
          col("n_hits"))).reduce(_ unionAll _)
      val tot = exact.agg(count(lit(1)).as("n_exact"))
      hits.crossJoin(broadcast(tot))
        .select(col("codebook"), col("nprobe"), col("n_hits"),
          col("n_exact"),
          round(col("n_hits").cast("double") / col("n_exact"), 6)
            .as("recall"))
        .orderBy("codebook", "nprobe")
    },

    // hard-negative triplet mining over the labeled embedding table —
    // the contrastive-training batch builder: per anchor, its most
    // similar SAME-label vector (the hardest positive to keep close)
    // and most similar DIFFERENT-label vector (the hardest negative to
    // push away), plus the margin and its difficulty class (the FaceNet
    // taxonomy: hard = negative beats the positive, semi-hard = within
    // the 0.2 margin band, easy otherwise). Scoring is brute-force
    // exact at fixture scale — the same N² bound sim_pairs_threshold
    // documents; at corpus scale the candidate set rides the IVF kernel
    // ([[ivfTopK]]) exactly as embedding_knn_graph does, mining inside
    // probed clusters only. Both per-anchor argmaxes ride ONE grouped
    // pass of conditional struct-max aggregates (1 candidate per anchor
    // per partition moves map-side, not the scored N² table, and the N²
    // join executes exactly once); round(·,6) cosines + id tiebreaks
    // keep the pick deterministic. Every fixture label has ≥2 members, so the
    // inner joins keep all anchors (singleton-label anchors would have
    // no positive and drop — the correct mining semantics).
    "embedding_triplet_mining" -> { (s, d) =>
      val e = vectors(s, d)
      val lab = t(s, d, "embeddings").select(col("vec_id"), col("label"))
      val withLab = e.join(lab, "vec_id")
      val a = withLab.select(col("vec_id").as("a_id"), col("v").as("av"),
        col("label").as("a_label"))
      val b = withLab.select(col("vec_id").as("b_id"), col("v").as("bv"),
        col("label").as("b_label"))
      // broadcast(b): the unhinted ≠-join plans as CartesianProduct, which
      // materializes every joined row through its unsafe pair buffer —
      // measured 12 s vs 0.4 s for the IDENTICAL aggregate over
      // BroadcastNestedLoopJoin at sf0.1 (the join itself is the cost; the
      // b side is the O(N) vector table, in-memory at fixture scale, and
      // the IVF candidate path below replaces it past that)
      val scored = a.join(broadcast(b), col("a_id") =!= col("b_id"))
        .withColumn("cos", expr("round(cosine_sim(av, bv), 6)"))
        .select(col("a_id"), col("a_label"), col("b_id"),
          col("b_label"), col("cos"))
      // BOTH argmaxes in ONE pass over the N² table: conditional
      // struct-max aggregates (cos desc, b_id asc via negation) replace
      // the two filtered top-1 operators that each re-executed the
      // uncached N² join — the r7 bench's 9.1 s vs 1.9 s budget. Partial
      // aggregation collapses N² rows to one candidate per (anchor,
      // partition) map-side, so only O(anchors) structs shuffle; no
      // cache, no second execution, nothing pinned after the query.
      val mined = scored.groupBy(col("a_id")).agg(
          max(when(col("a_label") === col("b_label"),
            struct(col("cos"), (-col("b_id")).as("nb"), col("b_id"))))
            .as("p"),
          max(when(col("a_label") =!= col("b_label"),
            struct(col("cos"), (-col("b_id")).as("nb"), col("b_id"))))
            .as("n"))
        // inner-join semantics of the two-sided form: an anchor missing
        // either side (singleton label) drops — correct mining behavior
        .filter(col("p").isNotNull && col("n").isNotNull)
        .select(col("a_id"), col("p.b_id").as("pos_id"),
          col("p.cos").as("pos_cos"), col("n.b_id").as("neg_id"),
          col("n.cos").as("neg_cos"))
      mined
        .join(lab.select(col("vec_id").as("a_id"), col("label")), "a_id")
        .select(col("a_id").as("anchor"), col("label"),
          col("pos_id"), col("pos_cos"), col("neg_id"), col("neg_cos"),
          round(col("pos_cos") - col("neg_cos"), 6).as("margin"),
          when(col("neg_cos") >= col("pos_cos"), "hard")
            .when(col("neg_cos") >= col("pos_cos") - 0.2, "semi_hard")
            .otherwise("easy").as("difficulty"))
        .orderBy("anchor")
    },

    // Matryoshka truncation sweep: recall@5 of cosine search over the
    // first {32, 16, 8} of 64 embedding dimensions vs the full-dim
    // exact top-5 — the dimension-budget curve that tells a serving
    // stack how short it can cut vectors before recall pays (the
    // storage/latency knob MRL-trained encoders expose). Same harness
    // shape as sim_ivf_nprobe_sweep: queries broadcast, every sweep
    // point re-scores only sliced vectors, hits are O(q·k) joins, and
    // the full-dim baseline is computed once and cached. Truncated
    // scores are round(·,6) cosines with id tiebreaks — the vector
    // determinism discipline.
    // reciprocal-rank fusion (RRF, k=60) of two retrieval legs over the
    // same corpus: the full-dim dense ranker and its 16-dim matryoshka
    // prefix — the hybrid-merge step every multi-ranker retrieval stack
    // runs (vendor-agnostic: ranks in, fused ranks out, no score
    // calibration needed across legs). Each leg is the sim_cosine_topk
    // plan (bounded-heap TopKPerKey per query, ≤20 rows per partition
    // move; the rank window runs over the ≤ q·20 survivors only). The
    // 1/(60+rank) contributions round to 9 as exact decimals before the
    // fuse-sum (partial-agg-proof), so the fused ordering — and hence
    // the output — hash-matches the oracle. At 100 TB each leg is
    // whatever ANN path serves it (IVF/PQ/graph above); the fusion
    // itself only ever touches O(queries × k) rows.
    "sim_rrf_fusion" -> { (s, d) =>
      val e = vectors(s, d)
      val q = broadcast(e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("v").as("qv")))
      val pairs = q.join(e, col("vec_id") =!= col("q_id"))
      def leg(cosExpr: String): DataFrame = {
        val w = Window.partitionBy("q_id")
          .orderBy(col("cos").desc, col("n_id"))
        graft.plans.TopKPerKey.topK(
            pairs.withColumn("cos", expr(cosExpr))
              .select(col("q_id"), col("vec_id").as("n_id"), col("cos")),
            Seq(col("q_id")), Seq(col("cos").desc, col("n_id")), 20)
          .withColumn("rnk", row_number().over(w).cast("long"))
          .select("q_id", "n_id", "rnk")
      }
      val fused = leg("round(cosine_sim(qv, v), 6)")
        .unionAll(leg(
          "round(cosine_sim(slice(qv, 1, 16), slice(v, 1, 16)), 6)"))
        .withColumn("rr",
          expr("CAST(round(1.0 / (60 + rnk), 9) AS DECIMAL(20,9))"))
        .groupBy("q_id", "n_id")
        .agg(sum(col("rr")).as("rrf"), count(lit(1)).as("n_rankers"),
          min(col("rnk")).as("best_rank"))
      val w2 = Window.partitionBy("q_id")
        .orderBy(col("rrf").desc, col("n_id"))
      graft.plans.TopKPerKey.topK(fused, Seq(col("q_id")),
          Seq(col("rrf").desc, col("n_id")), TopK)
        .withColumn("rnk", row_number().over(w2).cast("long"))
        .select(col("q_id"), col("rnk"), col("n_id"),
          col("rrf").cast("double").as("rrf"), col("n_rankers"),
          col("best_rank"))
        .orderBy("q_id", "rnk")
    },

    "embedding_matryoshka_eval" -> { (s, d) =>
      val e = vectors(s, d)
      val q = broadcast(e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("v").as("qv")))
      val pairs = q.join(e, col("vec_id") =!= col("q_id"))
      def topkAt(p: Int): DataFrame = {
        val cosExpr =
          if (p >= 64) "round(cosine_sim(qv, v), 6)"
          else s"round(cosine_sim(slice(qv, 1, $p), slice(v, 1, $p)), 6)"
        graft.plans.TopKPerKey.topK(
          pairs.withColumn("cos", expr(cosExpr))
            .select(col("q_id"), col("vec_id").as("n_id"), col("cos")),
          Seq(col("q_id")), Seq(col("cos").desc, col("n_id")), TopK)
          .select("q_id", "n_id")
      }
      val exact = graft.plans.ScopedMemo(s, s"matryoshka_exact#$d")(
        topkAt(64))
      val evals = Seq(8, 16, 32).map { p =>
        exact.join(topkAt(p), Seq("q_id", "n_id"))
          .agg(count(lit(1)).as("n_hits"))
          .select(lit(p.toLong).as("prefix_dim"), col("n_hits"))
      }.reduce(_ unionAll _)
      val tot = exact.agg(count(lit(1)).as("n_exact"))
      evals.crossJoin(broadcast(tot))
        .select(col("prefix_dim"), col("n_hits"), col("n_exact"),
          round(col("n_hits").cast("double") / col("n_exact"), 6)
            .as("recall"))
        .orderBy("prefix_dim")
    }
  )

  private val duckVectors =
    """SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |FROM embeddings""".stripMargin

  /** Sign-LSH code CTE chain (ends in `codes(vec_id, code)`) — the
    * oracle twin of [[signCodes]].
    */
  private val signCodeCtes =
    """ex AS (
      |  SELECT vec_id,
      |    unnest(generate_series(0, len(embedding) - 1)) AS pos,
      |    CAST(round(CAST(unnest(embedding) AS DOUBLE), 9)
      |      AS DECIMAL(20,9)) AS xd
      |  FROM embeddings),
      |pl AS (SELECT unnest(generate_series(0, 15)) AS p),
      |bb AS (
      |  SELECT vec_id, p,
      |    sum(CASE WHEN (((CAST(1103515245 AS BIGINT) * (p * 1024 + pos)
      |        + 12345) % 2147483647) // 65536) % 2 = 0
      |      THEN xd ELSE -xd END) AS dot
      |  FROM ex CROSS JOIN pl
      |  GROUP BY vec_id, p),
      |codes AS (
      |  SELECT vec_id,
      |    CAST(sum(CASE WHEN dot >= 0 THEN CAST(1 AS BIGINT) << p
      |      ELSE 0 END) AS BIGINT) AS code
      |  FROM bb GROUP BY vec_id)""".stripMargin

  /** The rounded-cosine SQL kernel shared by every vector oracle. */
  private def duckCos(a: String, b: String) =
    s"""round(list_dot_product($a, $b) /
       |    (sqrt(list_dot_product($a, $a))
       |     * sqrt(list_dot_product($b, $b))), 6)""".stripMargin

  /** The IVF pipeline CTE chain (assign -> probe -> cluster-bounded rank)
    * shared by the `sim_topk_ivf` and `sim_recall_eval` oracles — single
    * definition mirroring the single [[ivfTopK]] on the Spark side.
    */
  private val ivfSqlCtes =
    s"""e AS ($duckVectors),
       |cent AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 16),
       |assign AS (
       |  SELECT vec_id, v, c_id AS cluster FROM (
       |    SELECT e.vec_id, e.v, cent.c_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${duckCos("e.v", "cent.cv")} DESC, cent.c_id) AS arn
       |    FROM e CROSS JOIN cent) WHERE arn = 1),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e
       |      WHERE vec_id >= 10 AND vec_id < 20),
       |probes AS (
       |  SELECT q_id, qv, c_id FROM (
       |    SELECT q.q_id, q.qv, cent.c_id,
       |      row_number() OVER (PARTITION BY q.q_id
       |        ORDER BY ${duckCos("q.qv", "cent.cv")} DESC, cent.c_id) AS prn
       |    FROM q CROSS JOIN cent) WHERE prn <= 4),
       |r AS (
       |  SELECT q_id, a.vec_id AS n_id, ${duckCos("p.qv", "a.v")} AS cos,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY ${duckCos("p.qv", "a.v")} DESC, a.vec_id) AS rnk
       |  FROM probes p JOIN assign a ON p.c_id = a.cluster
       |  WHERE a.vec_id <> p.q_id)""".stripMargin

  /** The IVF+PQ composite CTE chain (PQ encode -> codes, IVF assign ->
    * per-query probed cells -> candidate restriction, per-query LUT ->
    * cell-bounded ADC sums), ending in `sc(q_id, vec_id, adc_d2)` —
    * shared by the `sim_ivfpq_topk` and `sim_ivfpq_recall_eval` oracles;
    * every CTE mirrors one stage of [[ivfPqTop]].
    */
  private val ivfPqSqlCtes =
    s"""e AS ($duckVectors),
       |sub AS (
       |  SELECT vec_id, unnest(generate_series(0, 7)) AS sub, v FROM e),
       |sv AS (
       |  SELECT vec_id, sub,
       |    list_slice(v, sub * 8 + 1, sub * 8 + 8) AS sv
       |  FROM sub),
       |cb AS (
       |  SELECT vec_id AS code, sub,
       |    list_slice(v, sub * 8 + 1, sub * 8 + 8) AS cv
       |  FROM (SELECT vec_id, unnest(generate_series(0, 7)) AS sub, v
       |        FROM e WHERE vec_id < 16)),
       |dims AS (
       |  SELECT s.vec_id, s.sub, c.code,
       |    unnest(generate_series(1, 8)) AS j, s.sv, c.cv
       |  FROM sv s JOIN cb c USING (sub)),
       |d2 AS (
       |  SELECT vec_id, sub, code,
       |    sum((CAST(round(sv[j], 6) AS DECIMAL(12,6))
       |          - CAST(round(cv[j], 6) AS DECIMAL(12,6)))
       |      * (CAST(round(sv[j], 6) AS DECIMAL(12,6))
       |          - CAST(round(cv[j], 6) AS DECIMAL(12,6)))) AS d2
       |  FROM dims GROUP BY 1, 2, 3),
       |best AS (
       |  SELECT vec_id, sub, code, d2,
       |    row_number() OVER (PARTITION BY vec_id, sub
       |      ORDER BY d2, code) AS rn
       |  FROM d2),
       |codes AS (SELECT vec_id, sub, code FROM best WHERE rn = 1),
       |cent AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 16),
       |assign AS (
       |  SELECT vec_id, c_id AS cluster FROM (
       |    SELECT e.vec_id, cent.c_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${duckCos("e.v", "cent.cv")} DESC, cent.c_id) AS arn
       |    FROM e CROSS JOIN cent) WHERE arn = 1),
       |probes AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT e.vec_id AS q_id, cent.c_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${duckCos("e.v", "cent.cv")} DESC, cent.c_id) AS prn
       |    FROM e CROSS JOIN cent
       |    WHERE e.vec_id >= 10 AND e.vec_id < 20) WHERE prn <= 4),
       |cand AS (
       |  SELECT p.q_id, a.vec_id
       |  FROM probes p JOIN assign a ON p.c_id = a.cluster
       |  WHERE a.vec_id <> p.q_id),
       |qdims AS (
       |  SELECT s.vec_id AS q_id, s.sub, c.code,
       |    unnest(generate_series(1, 8)) AS j, s.sv AS qv, c.cv
       |  FROM sv s JOIN cb c USING (sub)
       |  WHERE s.vec_id >= 10 AND s.vec_id < 20),
       |lut AS (
       |  SELECT q_id, sub, code,
       |    sum((CAST(round(qv[j], 6) AS DECIMAL(12,6))
       |          - CAST(round(cv[j], 6) AS DECIMAL(12,6)))
       |      * (CAST(round(qv[j], 6) AS DECIMAL(12,6))
       |          - CAST(round(cv[j], 6) AS DECIMAL(12,6)))) AS ad2
       |  FROM qdims GROUP BY 1, 2, 3),
       |sc AS (
       |  SELECT l.q_id, k.vec_id, sum(l.ad2) AS adc_d2
       |  FROM cand c
       |  JOIN codes k ON k.vec_id = c.vec_id
       |  JOIN lut l ON l.q_id = c.q_id AND l.sub = k.sub
       |    AND l.code = k.code
       |  GROUP BY 1, 2)""".stripMargin

  /** The beam-search CTE chain (knn edges -> seeds -> hop/score/prune ×2,
    * ends in `fin(q_id, n_id, cos, rnk)`) — the oracle twin of
    * [[graphBeamTop]], every stage mirrored: same knn build as the
    * `embedding_knn_graph` oracle, same 2-centroid seeding, same
    * dedup-then-exact-rescore per hop, same (cos DESC, node) prunes.
    */
  private val beamSqlCtes =
    s"""e AS ($duckVectors),
       |cent AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 16),
       |assign AS (
       |  SELECT vec_id, v, c_id AS cluster FROM (
       |    SELECT e.vec_id, e.v, cent.c_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${duckCos("e.v", "cent.cv")} DESC, cent.c_id) AS arn
       |    FROM e CROSS JOIN cent) WHERE arn = 1),
       |probes AS (
       |  SELECT q_id, qv, c_id FROM (
       |    SELECT e.vec_id AS q_id, e.v AS qv, cent.c_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${duckCos("e.v", "cent.cv")} DESC, cent.c_id) AS prn
       |    FROM e CROSS JOIN cent) WHERE prn <= 2),
       |kr AS (
       |  SELECT q_id, a.vec_id AS n_id,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY ${duckCos("p.qv", "a.v")} DESC, a.vec_id) AS rnk
       |  FROM probes p JOIN assign a ON p.c_id = a.cluster
       |  WHERE a.vec_id <> p.q_id),
       |knn AS (SELECT q_id AS src, n_id AS dst FROM kr WHERE rnk <= $KnnK),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e
       |      WHERE vec_id >= 10 AND vec_id < 20),
       |seeds AS (
       |  SELECT p.q_id, p.c_id AS node FROM probes p
       |  JOIN q ON q.q_id = p.q_id),
       |cand1 AS (
       |  SELECT DISTINCT q_id, node FROM (
       |    SELECT q_id, node FROM seeds
       |    UNION ALL
       |    SELECT s.q_id, k.dst AS node
       |    FROM seeds s JOIN knn k ON k.src = s.node) u
       |  WHERE node <> q_id),
       |sc1 AS (
       |  SELECT c.q_id, c.node, ${duckCos("q.qv", "ev.v")} AS cos
       |  FROM cand1 c JOIN q ON q.q_id = c.q_id
       |  JOIN e ev ON ev.vec_id = c.node),
       |beam1 AS (
       |  SELECT q_id, node FROM (
       |    SELECT q_id, node, row_number() OVER (PARTITION BY q_id
       |      ORDER BY cos DESC, node) AS brn FROM sc1)
       |  WHERE brn <= $BeamWidth),
       |cand2 AS (
       |  SELECT DISTINCT q_id, node FROM (
       |    SELECT q_id, node FROM beam1
       |    UNION ALL
       |    SELECT b.q_id, k.dst AS node
       |    FROM beam1 b JOIN knn k ON k.src = b.node) u
       |  WHERE node <> q_id),
       |sc2 AS (
       |  SELECT c.q_id, c.node, ${duckCos("q.qv", "ev.v")} AS cos
       |  FROM cand2 c JOIN q ON q.q_id = c.q_id
       |  JOIN e ev ON ev.vec_id = c.node),
       |fin AS (
       |  SELECT q_id, node AS n_id, cos,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY cos DESC, node) AS rnk FROM sc2)""".stripMargin

  private val rangeSqlCtes =
    s"""e AS ($duckVectors),
       |cent AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 16),
       |assign AS (
       |  SELECT vec_id, v, c_id AS cluster FROM (
       |    SELECT e.vec_id, e.v, cent.c_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${duckCos("e.v", "cent.cv")} DESC, cent.c_id) AS arn
       |    FROM e CROSS JOIN cent) WHERE arn = 1),
       |probes AS (
       |  SELECT q_id, qv, c_id FROM (
       |    SELECT e.vec_id AS q_id, e.v AS qv, cent.c_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${duckCos("e.v", "cent.cv")} DESC, cent.c_id) AS prn
       |    FROM e CROSS JOIN cent
       |    WHERE e.vec_id >= 10 AND e.vec_id < 20) WHERE prn <= 2),
       |rng AS (
       |  SELECT p.q_id, a.vec_id AS n_id,
       |    ${duckCos("p.qv", "a.v")} AS cos
       |  FROM probes p JOIN assign a ON a.cluster = p.c_id
       |  WHERE a.vec_id <> p.q_id
       |    AND ${duckCos("p.qv", "a.v")} >= $RangeTau)""".stripMargin

  def oracle: Map[String, String] = Map(
    // two assign passes (16 vs 15 centroids), keyed compare, O(#cells)
    "sim_ivf_rebuild_churn" ->
      s"""WITH e AS ($duckVectors),
         |cent AS (SELECT vec_id AS c_id, v AS cv FROM e
         |         WHERE vec_id < 16),
         |cent15 AS (SELECT vec_id AS c_id, v AS cv FROM e
         |           WHERE vec_id < 16 AND vec_id <> 15),
         |a16 AS (
         |  SELECT vec_id, c_id AS cluster FROM (
         |    SELECT e.vec_id, cent.c_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${duckCos("e.v", "cent.cv")} DESC, cent.c_id)
         |        AS arn
         |    FROM e CROSS JOIN cent) WHERE arn = 1),
         |a15 AS (
         |  SELECT vec_id, c_id AS cluster15 FROM (
         |    SELECT e.vec_id, cent15.c_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${duckCos("e.v", "cent15.cv")} DESC,
         |          cent15.c_id) AS arn
         |    FROM e CROSS JOIN cent15) WHERE arn = 1)
         |SELECT a16.cluster AS old_cluster,
         |  CAST(count(*) AS BIGINT) AS n_vecs,
         |  CAST(sum(CASE WHEN a15.cluster15 <> a16.cluster
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
         |  round(CAST(sum(CASE WHEN a15.cluster15 <> a16.cluster
         |      THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS churn
         |FROM a16 JOIN a15 USING (vec_id)
         |GROUP BY 1 ORDER BY old_cluster""".stripMargin,

    "sim_range_search" ->
      s"""WITH $rangeSqlCtes
         |SELECT q_id, n_id, cos FROM rng
         |ORDER BY q_id, n_id""".stripMargin,

    "sim_range_recall" ->
      s"""WITH $rangeSqlCtes,
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e
         |      WHERE vec_id >= 10 AND vec_id < 20),
         |x AS (
         |  SELECT q.q_id, b.vec_id AS n_id
         |  FROM q CROSS JOIN e b
         |  WHERE b.vec_id <> q.q_id
         |    AND ${duckCos("q.qv", "b.v")} >= $RangeTau),
         |h AS (
         |  SELECT x.q_id, CAST(count(*) AS BIGINT) AS n_hit
         |  FROM x JOIN rng ON rng.q_id = x.q_id AND rng.n_id = x.n_id
         |  GROUP BY 1),
         |nx AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_exact
         |       FROM x GROUP BY 1)
         |SELECT q.q_id,
         |  COALESCE(nx.n_exact, CAST(0 AS BIGINT)) AS n_exact,
         |  COALESCE(h.n_hit, CAST(0 AS BIGINT)) AS n_hit,
         |  CASE WHEN COALESCE(nx.n_exact, CAST(0 AS BIGINT)) = 0
         |      THEN CAST(1.0 AS DOUBLE)
         |    ELSE round(CAST(COALESCE(h.n_hit, CAST(0 AS BIGINT))
         |      AS DOUBLE) / CAST(nx.n_exact AS DOUBLE), 6) END AS recall
         |FROM q
         |LEFT JOIN nx ON nx.q_id = q.q_id
         |LEFT JOIN h ON h.q_id = q.q_id
         |ORDER BY q.q_id""".stripMargin,

    // the beam pipeline is deterministic SQL end-to-end (fixed seeds,
    // rounded-cosine scoring, id-tiebroken prunes), so like the IVF path
    // the graph-ANN SEARCH hash-checks stage-for-stage, not just its
    // recall number
    "sim_graph_beam" ->
      s"""WITH $beamSqlCtes
         |SELECT q_id, n_id, cos, rnk FROM fin WHERE rnk <= $TopK
         |ORDER BY q_id, rnk""".stripMargin,
    // same chain + the brute-force exact branch; hit join and recall
    // arithmetic mirror sim_recall_eval's
    "sim_graph_beam_recall" ->
      s"""WITH $beamSqlCtes,
         |ann AS (SELECT q_id, n_id FROM fin WHERE rnk <= $TopK),
         |x AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q.q_id, b.vec_id AS n_id,
         |      row_number() OVER (PARTITION BY q.q_id
         |        ORDER BY ${duckCos("q.qv", "b.v")} DESC, b.vec_id) AS xrn
         |    FROM q CROSS JOIN e b WHERE b.vec_id <> q.q_id)
         |  WHERE xrn <= $TopK),
         |h AS (
         |  SELECT x.q_id, count(*) AS n_hit
         |  FROM x JOIN ann ON ann.q_id = x.q_id AND ann.n_id = x.n_id
         |  GROUP BY 1),
         |nx AS (SELECT q_id, count(*) AS n_exact FROM x GROUP BY 1)
         |SELECT nx.q_id, nx.n_exact, COALESCE(h.n_hit, 0) AS n_hit,
         |  round(CAST(COALESCE(h.n_hit, 0) AS DOUBLE)
         |    / CAST(nx.n_exact AS DOUBLE), 6) AS recall
         |FROM nx LEFT JOIN h ON h.q_id = nx.q_id
         |ORDER BY nx.q_id""".stripMargin,
    // The full LSH pipeline's OUTPUT is exactly reproducible in SQL (the
    // dedup_embedding precedent): verified pairs carry the exact cosine of
    // the FNV-1a hashing-trick vectors, and every arithmetic step is
    // integer-valued in double (signed counts, their products and squares)
    // so summation order cannot move a bit. The hash fold runs as a
    // recursive CTE over DISTINCT shingle strings in mod-2^64 HUGEINT
    // arithmetic (validated against the JVM kernel: tools/fnv_proto.py);
    // `ord` equals the UTF-8 byte for the fixture's ASCII corpus. A
    // cos>=tau pair necessarily shares a signed bucket, so the bucket
    // equi-join enumerates every qualifying pair without an N^2 blowup;
    // banding recall at tau is pinned ==1 on this corpus by OperatorSpec,
    // which is what licenses the LSH-free oracle.
    "sim_pairs_lsh" ->
      s"""WITH RECURSIVE ${Dedup.jaccardCtes},
         |tok AS (SELECT DISTINCT s FROM ex),
         |fnv AS (
         |  SELECT s, 1 AS i, CAST(14695981039346656037 AS UBIGINT) AS h
         |  FROM tok
         |  UNION ALL
         |  SELECT s, i + 1,
         |    CAST(CAST((CAST(xor(h, CAST(ord(substr(s, i, 1)) AS UBIGINT))
         |      AS HUGEINT) * 1099511628211) % 18446744073709551616
         |      AS HUGEINT) AS UBIGINT)
         |  FROM fnv WHERE i <= len(s)),
         |hz AS (
         |  SELECT s, CAST(h >> 55 AS BIGINT) AS idx,
         |    CASE WHEN (h >> 54) & 1 = 1 THEN 1.0 ELSE -1.0 END AS sgn
         |  FROM fnv WHERE i = len(s) + 1),
         |buck AS (
         |  SELECT e.doc_id, z.idx, sum(z.sgn) AS w
         |  FROM ex e JOIN hz z ON e.s = z.s
         |  GROUP BY 1, 2 HAVING sum(z.sgn) <> 0),
         |nrm AS (SELECT doc_id, sum(w * w) AS n2 FROM buck GROUP BY 1),
         |dots AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    sum(a.w * b.w) AS dot
         |  FROM buck a JOIN buck b ON a.idx = b.idx
         |    AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |cosed AS (
         |  SELECT id_a, id_b,
         |    round(dot / (sqrt(na.n2) * sqrt(nb.n2)), 6) AS cos
         |  FROM dots
         |  JOIN nrm na ON na.doc_id = id_a
         |  JOIN nrm nb ON nb.doc_id = id_b)
         |SELECT id_a, id_b, cos FROM cosed
         |WHERE cos >= $DocCosineThreshold
         |ORDER BY id_a, id_b""".stripMargin,
    "sim_cosine_topk" ->
      s"""WITH e AS ($duckVectors),
         |p AS (
         |  SELECT a.vec_id AS q_id, b.vec_id AS n_id,
         |    round(list_dot_product(a.v, b.v) /
         |      (sqrt(list_dot_product(a.v, a.v))
         |       * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
         |  FROM e a JOIN e b ON a.vec_id < 10 AND b.vec_id <> a.vec_id),
         |r AS (SELECT q_id, n_id, cos,
         |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id)
         |    AS rnk FROM p)
         |SELECT q_id, n_id, cos, rnk FROM r WHERE rnk <= $TopK
         |ORDER BY q_id, rnk""".stripMargin,
    "sim_pairs_threshold" ->
      s"""WITH e AS ($duckVectors)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  round(list_dot_product(a.v, b.v) /
         |    (sqrt(list_dot_product(a.v, a.v))
         |     * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
         |FROM e a JOIN e b ON a.vec_id < b.vec_id
         |WHERE round(list_dot_product(a.v, b.v) /
         |    (sqrt(list_dot_product(a.v, a.v))
         |     * sqrt(list_dot_product(b.v, b.v))), 6) >= $CosineThreshold
         |ORDER BY id_a, id_b""".stripMargin,
    // the ENTIRE IVF pipeline is deterministic SQL (fixed centroids,
    // rounded-cosine argmax assignment, nprobe probes, cluster-bounded
    // top-k), so the ANN path is hash-checked end-to-end, not just
    // recall-spec'd — every CTE mirrors one stage of the Spark plan
    "sim_topk_ivf" ->
      s"""WITH $ivfSqlCtes
         |SELECT q_id, n_id, cos, rnk FROM r WHERE rnk <= $TopK
         |ORDER BY q_id, rnk""".stripMargin,
    // same assign CTE; the 0..15 grid keeps dead cells as zero rows and
    // the total comes from summing the cell counts (Σ == N by totality
    // of the assignment)
    "sim_ivf_cell_skew" ->
      s"""WITH $ivfSqlCtes,
         |counts AS (
         |  SELECT cluster, count(*) AS c FROM assign GROUP BY cluster),
         |grid AS (SELECT unnest(generate_series(0, 15)) AS cell),
         |tot AS (SELECT sum(c) AS n_total FROM counts)
         |SELECT CAST(grid.cell AS BIGINT) AS cell,
         |  CAST(COALESCE(counts.c, 0) AS BIGINT) AS n_vecs,
         |  round(CAST(COALESCE(counts.c, 0) AS DOUBLE)
         |    / CAST(n_total AS DOUBLE), 6) AS share,
         |  round(CAST(COALESCE(counts.c, 0) AS DOUBLE) * 16
         |    / CAST(n_total AS DOUBLE), 6) AS skew_vs_uniform
         |FROM grid LEFT JOIN counts ON counts.cluster = grid.cell
         |CROSS JOIN tot
         |ORDER BY cell""".stripMargin,
    // same assign CTE; batch ingest census + cluster-windowed running
    // sums over the batch x 16 grid, mirrored stage-for-stage
    "stream_ann_ingest" ->
      s"""WITH $ivfSqlCtes,
         |ab AS (
         |  SELECT vec_id // 256 AS batch, cluster FROM assign),
         |bc AS (
         |  SELECT batch, cluster, CAST(count(*) AS BIGINT) AS n_new
         |  FROM ab GROUP BY 1, 2),
         |grid AS (
         |  SELECT b.batch, g.cluster
         |  FROM (SELECT DISTINCT batch FROM bc) b
         |  CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS cluster) g),
         |cum AS (
         |  SELECT grid.batch, grid.cluster,
         |    COALESCE(bc.n_new, 0) AS n_new,
         |    sum(COALESCE(bc.n_new, 0)) OVER (
         |      PARTITION BY grid.cluster ORDER BY grid.batch) AS cum
         |  FROM grid LEFT JOIN bc
         |    ON bc.batch = grid.batch AND bc.cluster = grid.cluster)
         |SELECT CAST(batch AS BIGINT) AS batch,
         |  CAST(sum(n_new) AS BIGINT) AS n_new,
         |  CAST(sum(cum) AS BIGINT) AS n_indexed,
         |  CAST(max(cum) AS BIGINT) AS hot_cell_n,
         |  round(CAST(max(cum) AS DOUBLE) / CAST(sum(cum) AS DOUBLE), 6)
         |    AS hot_cell_share,
         |  CAST(sum(CASE WHEN cum > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_cells_live,
         |  max(cum) * 16 >= sum(cum) * 3 AS rebuild_hot
         |FROM cum GROUP BY batch ORDER BY batch""".stripMargin,

    // same IVF CTE chain + a brute-force exact top-k branch; the hit
    // join and recall arithmetic mirror the Spark plan stage-for-stage
    "sim_recall_eval" ->
      s"""WITH $ivfSqlCtes,
         |ann AS (SELECT q_id, n_id FROM r WHERE rnk <= $TopK),
         |x AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q.q_id, b.vec_id AS n_id,
         |      row_number() OVER (PARTITION BY q.q_id
         |        ORDER BY ${duckCos("q.qv", "b.v")} DESC, b.vec_id) AS xrn
         |    FROM q CROSS JOIN e b WHERE b.vec_id <> q.q_id)
         |  WHERE xrn <= $TopK),
         |h AS (
         |  SELECT x.q_id, count(*) AS n_hit
         |  FROM x JOIN ann ON ann.q_id = x.q_id AND ann.n_id = x.n_id
         |  GROUP BY 1),
         |nx AS (SELECT q_id, count(*) AS n_exact FROM x GROUP BY 1)
         |SELECT nx.q_id, nx.n_exact, COALESCE(h.n_hit, 0) AS n_hit,
         |  round(CAST(COALESCE(h.n_hit, 0) AS DOUBLE)
         |    / CAST(nx.n_exact AS DOUBLE), 6) AS recall
         |FROM nx LEFT JOIN h ON h.q_id = nx.q_id
         |ORDER BY nx.q_id""".stripMargin,
    // same IVF chain + exact top-10; DCG/IDCG terms rounded to the 1e-6
    // grid and summed as exact DECIMAL on both engines
    "rank_ndcg_eval" ->
      s"""WITH $ivfSqlCtes,
         |ann AS (SELECT q_id, n_id, rnk FROM r WHERE rnk <= $TopK),
         |x AS (
         |  SELECT q_id, n_id, xrn FROM (
         |    SELECT q.q_id, b.vec_id AS n_id,
         |      row_number() OVER (PARTITION BY q.q_id
         |        ORDER BY ${duckCos("q.qv", "b.v")} DESC, b.vec_id) AS xrn
         |    FROM q CROSS JOIN e b WHERE b.vec_id <> q.q_id)
         |  WHERE xrn <= 10),
         |dcg AS (
         |  SELECT ann.q_id,
         |    sum(CASE WHEN x.xrn IS NOT NULL THEN 1 ELSE 0 END)
         |      AS n_rel_hit,
         |    sum(CAST(round(COALESCE(11 - x.xrn, 0) / log2(ann.rnk + 1),
         |      6) AS DECIMAL(18,6))) AS dcg_acc
         |  FROM ann LEFT JOIN x
         |    ON x.q_id = ann.q_id AND x.n_id = ann.n_id
         |  GROUP BY 1),
         |idcg AS (
         |  SELECT q_id,
         |    sum(CAST(round((11 - xrn) / log2(xrn + 1), 6)
         |      AS DECIMAL(18,6))) AS idcg_acc
         |  FROM x WHERE xrn <= 5 GROUP BY 1)
         |SELECT dcg.q_id, CAST(n_rel_hit AS BIGINT) AS n_rel_hit,
         |  CAST(dcg_acc AS DOUBLE) AS dcg,
         |  round(CAST(dcg_acc AS DOUBLE) / CAST(idcg_acc AS DOUBLE), 6)
         |    AS ndcg
         |FROM dcg JOIN idcg ON idcg.q_id = dcg.q_id
         |ORDER BY dcg.q_id""".stripMargin,
    // knn-graph twin: the sim_topk_ivf pipeline with every vector as a
    // query and nprobe=2 — assignment, probing, and ranking all share
    // the rounded-cosine + id-tiebreak determinism discipline
    "embedding_knn_graph" -> {
      def cos(a: String, b: String) =
        s"""round(list_dot_product($a, $b) /
           |    (sqrt(list_dot_product($a, $a))
           |     * sqrt(list_dot_product($b, $b))), 6)""".stripMargin
      s"""WITH e AS ($duckVectors),
         |cent AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 16),
         |assign AS (
         |  SELECT vec_id, v, c_id AS cluster FROM (
         |    SELECT e.vec_id, e.v, cent.c_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cos("e.v", "cent.cv")} DESC, cent.c_id) AS arn
         |    FROM e CROSS JOIN cent) WHERE arn = 1),
         |probes AS (
         |  SELECT q_id, qv, c_id FROM (
         |    SELECT e.vec_id AS q_id, e.v AS qv, cent.c_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cos("e.v", "cent.cv")} DESC, cent.c_id) AS prn
         |    FROM e CROSS JOIN cent) WHERE prn <= 2),
         |r AS (
         |  SELECT q_id, a.vec_id AS n_id, ${cos("p.qv", "a.v")} AS cos,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY ${cos("p.qv", "a.v")} DESC, a.vec_id) AS rnk
         |  FROM probes p JOIN assign a ON p.c_id = a.cluster
         |  WHERE a.vec_id <> p.q_id)
         |SELECT q_id, n_id, cos, rnk FROM r WHERE rnk <= $KnnK
         |ORDER BY q_id, rnk""".stripMargin
    },

    // same knn CTE chain, reduced to the in-degree histogram (LEFT join
    // keeps antihubs at k-occ 0)
    "embedding_hubness" -> {
      def cos(a: String, b: String) =
        s"""round(list_dot_product($a, $b) /
           |    (sqrt(list_dot_product($a, $a))
           |     * sqrt(list_dot_product($b, $b))), 6)""".stripMargin
      s"""WITH e AS ($duckVectors),
         |cent AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 16),
         |assign AS (
         |  SELECT vec_id, v, c_id AS cluster FROM (
         |    SELECT e.vec_id, e.v, cent.c_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cos("e.v", "cent.cv")} DESC, cent.c_id) AS arn
         |    FROM e CROSS JOIN cent) WHERE arn = 1),
         |probes AS (
         |  SELECT q_id, qv, c_id FROM (
         |    SELECT e.vec_id AS q_id, e.v AS qv, cent.c_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cos("e.v", "cent.cv")} DESC, cent.c_id) AS prn
         |    FROM e CROSS JOIN cent) WHERE prn <= 2),
         |r AS (
         |  SELECT q_id, a.vec_id AS n_id,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY ${cos("p.qv", "a.v")} DESC, a.vec_id) AS rnk
         |  FROM probes p JOIN assign a ON p.c_id = a.cluster
         |  WHERE a.vec_id <> p.q_id),
         |knn AS (SELECT q_id, n_id FROM r WHERE rnk <= $KnnK),
         |ind AS (SELECT n_id, count(*) AS k_occ FROM knn GROUP BY 1),
         |allv AS (
         |  SELECT COALESCE(ind.k_occ, 0) AS k_occ
         |  FROM e LEFT JOIN ind ON e.vec_id = ind.n_id)
         |SELECT CAST(k_occ AS BIGINT) AS k_occ, count(*) AS n_vectors
         |FROM allv GROUP BY 1 ORDER BY k_occ""".stripMargin
    },

    // PQ twin: same seed-slice codebook, same exact-decimal squared
    // distance (sum order irrelevant — decimal adds are associative),
    // same (d2, code) argmin tiebreak
    "embedding_pq" ->
      s"""WITH e AS ($duckVectors),
         |sub AS (
         |  SELECT vec_id, unnest(generate_series(0, 7)) AS sub, v FROM e),
         |sv AS (
         |  SELECT vec_id, sub,
         |    list_slice(v, sub * 8 + 1, sub * 8 + 8) AS sv
         |  FROM sub),
         |cb AS (
         |  SELECT vec_id AS code, sub,
         |    list_slice(v, sub * 8 + 1, sub * 8 + 8) AS cv
         |  FROM (SELECT vec_id, unnest(generate_series(0, 7)) AS sub, v
         |        FROM e WHERE vec_id < 16)),
         |dims AS (
         |  SELECT s.vec_id, s.sub, c.code,
         |    unnest(generate_series(1, 8)) AS j, s.sv, c.cv
         |  FROM sv s JOIN cb c USING (sub)),
         |d2 AS (
         |  SELECT vec_id, sub, code,
         |    sum((CAST(round(sv[j], 6) AS DECIMAL(12,6))
         |          - CAST(round(cv[j], 6) AS DECIMAL(12,6)))
         |      * (CAST(round(sv[j], 6) AS DECIMAL(12,6))
         |          - CAST(round(cv[j], 6) AS DECIMAL(12,6)))) AS d2
         |  FROM dims GROUP BY 1, 2, 3),
         |best AS (
         |  SELECT vec_id, sub, code, d2,
         |    row_number() OVER (PARTITION BY vec_id, sub
         |      ORDER BY d2, code) AS rn
         |  FROM d2)
         |SELECT vec_id,
         |  string_agg(CAST(code AS VARCHAR), ',' ORDER BY sub) AS codes,
         |  round(CAST(sum(d2) AS DOUBLE), 6) AS recon_err
         |FROM best WHERE rn = 1
         |GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    // same chain to `best` (the encode), plus the per-query LUT built by
    // the identical decimal distance kernel; the scan joins codes to the
    // LUT and never touches a base vector
    "sim_pq_adc_topk" ->
      s"""WITH e AS ($duckVectors),
         |sub AS (
         |  SELECT vec_id, unnest(generate_series(0, 7)) AS sub, v FROM e),
         |sv AS (
         |  SELECT vec_id, sub,
         |    list_slice(v, sub * 8 + 1, sub * 8 + 8) AS sv
         |  FROM sub),
         |cb AS (
         |  SELECT vec_id AS code, sub,
         |    list_slice(v, sub * 8 + 1, sub * 8 + 8) AS cv
         |  FROM (SELECT vec_id, unnest(generate_series(0, 7)) AS sub, v
         |        FROM e WHERE vec_id < 16)),
         |dims AS (
         |  SELECT s.vec_id, s.sub, c.code,
         |    unnest(generate_series(1, 8)) AS j, s.sv, c.cv
         |  FROM sv s JOIN cb c USING (sub)),
         |d2 AS (
         |  SELECT vec_id, sub, code,
         |    sum((CAST(round(sv[j], 6) AS DECIMAL(12,6))
         |          - CAST(round(cv[j], 6) AS DECIMAL(12,6)))
         |      * (CAST(round(sv[j], 6) AS DECIMAL(12,6))
         |          - CAST(round(cv[j], 6) AS DECIMAL(12,6)))) AS d2
         |  FROM dims GROUP BY 1, 2, 3),
         |best AS (
         |  SELECT vec_id, sub, code, d2,
         |    row_number() OVER (PARTITION BY vec_id, sub
         |      ORDER BY d2, code) AS rn
         |  FROM d2),
         |codes AS (SELECT vec_id, sub, code FROM best WHERE rn = 1),
         |qdims AS (
         |  SELECT s.vec_id AS q_id, s.sub, c.code,
         |    unnest(generate_series(1, 8)) AS j, s.sv AS qv, c.cv
         |  FROM sv s JOIN cb c USING (sub)
         |  WHERE s.vec_id >= 10 AND s.vec_id < 20),
         |lut AS (
         |  SELECT q_id, sub, code,
         |    sum((CAST(round(qv[j], 6) AS DECIMAL(12,6))
         |          - CAST(round(cv[j], 6) AS DECIMAL(12,6)))
         |      * (CAST(round(qv[j], 6) AS DECIMAL(12,6))
         |          - CAST(round(cv[j], 6) AS DECIMAL(12,6)))) AS ad2
         |  FROM qdims GROUP BY 1, 2, 3),
         |sc AS (
         |  SELECT l.q_id, k.vec_id, sum(l.ad2) AS adc_d2
         |  FROM codes k JOIN lut l ON l.sub = k.sub AND l.code = k.code
         |  WHERE k.vec_id <> l.q_id
         |  GROUP BY 1, 2),
         |r AS (
         |  SELECT q_id, vec_id AS n_id, adc_d2,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY adc_d2, vec_id) AS rnk
         |  FROM sc)
         |SELECT q_id, n_id, round(CAST(adc_d2 AS DOUBLE), 6) AS adc_dist,
         |  CAST(rnk AS BIGINT) AS rnk
         |FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin,
    // same ADC chain to `r` + an exact rounded-decimal squared-L2 branch;
    // the hit join and recall arithmetic mirror sim_recall_eval
    "sim_pq_recall_eval" ->
      s"""WITH e AS ($duckVectors),
         |sub AS (
         |  SELECT vec_id, unnest(generate_series(0, 7)) AS sub, v FROM e),
         |sv AS (
         |  SELECT vec_id, sub,
         |    list_slice(v, sub * 8 + 1, sub * 8 + 8) AS sv
         |  FROM sub),
         |cb AS (
         |  SELECT vec_id AS code, sub,
         |    list_slice(v, sub * 8 + 1, sub * 8 + 8) AS cv
         |  FROM (SELECT vec_id, unnest(generate_series(0, 7)) AS sub, v
         |        FROM e WHERE vec_id < 16)),
         |dims AS (
         |  SELECT s.vec_id, s.sub, c.code,
         |    unnest(generate_series(1, 8)) AS j, s.sv, c.cv
         |  FROM sv s JOIN cb c USING (sub)),
         |d2 AS (
         |  SELECT vec_id, sub, code,
         |    sum((CAST(round(sv[j], 6) AS DECIMAL(12,6))
         |          - CAST(round(cv[j], 6) AS DECIMAL(12,6)))
         |      * (CAST(round(sv[j], 6) AS DECIMAL(12,6))
         |          - CAST(round(cv[j], 6) AS DECIMAL(12,6)))) AS d2
         |  FROM dims GROUP BY 1, 2, 3),
         |best AS (
         |  SELECT vec_id, sub, code, d2,
         |    row_number() OVER (PARTITION BY vec_id, sub
         |      ORDER BY d2, code) AS rn
         |  FROM d2),
         |codes AS (SELECT vec_id, sub, code FROM best WHERE rn = 1),
         |qdims AS (
         |  SELECT s.vec_id AS q_id, s.sub, c.code,
         |    unnest(generate_series(1, 8)) AS j, s.sv AS qv, c.cv
         |  FROM sv s JOIN cb c USING (sub)
         |  WHERE s.vec_id >= 10 AND s.vec_id < 20),
         |lut AS (
         |  SELECT q_id, sub, code,
         |    sum((CAST(round(qv[j], 6) AS DECIMAL(12,6))
         |          - CAST(round(cv[j], 6) AS DECIMAL(12,6)))
         |      * (CAST(round(qv[j], 6) AS DECIMAL(12,6))
         |          - CAST(round(cv[j], 6) AS DECIMAL(12,6)))) AS ad2
         |  FROM qdims GROUP BY 1, 2, 3),
         |sc AS (
         |  SELECT l.q_id, k.vec_id, sum(l.ad2) AS adc_d2
         |  FROM codes k JOIN lut l ON l.sub = k.sub AND l.code = k.code
         |  WHERE k.vec_id <> l.q_id
         |  GROUP BY 1, 2),
         |ann AS (
         |  SELECT q_id, vec_id AS n_id FROM (
         |    SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
         |      ORDER BY adc_d2, vec_id) AS rnk
         |    FROM sc) WHERE rnk <= 5),
         |xdims AS (
         |  SELECT q.vec_id AS q_id, b.vec_id AS n_id,
         |    unnest(generate_series(1, 64)) AS j, q.v AS qv, b.v AS bv
         |  FROM e q JOIN e b ON b.vec_id <> q.vec_id
         |  WHERE q.vec_id >= 10 AND q.vec_id < 20),
         |xd AS (
         |  SELECT q_id, n_id,
         |    sum((CAST(round(qv[j], 6) AS DECIMAL(12,6))
         |          - CAST(round(bv[j], 6) AS DECIMAL(12,6)))
         |      * (CAST(round(qv[j], 6) AS DECIMAL(12,6))
         |          - CAST(round(bv[j], 6) AS DECIMAL(12,6)))) AS d2
         |  FROM xdims GROUP BY 1, 2),
         |x AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
         |      ORDER BY d2, n_id) AS xrn FROM xd) WHERE xrn <= 5),
         |h AS (
         |  SELECT x.q_id, count(*) AS n_hit
         |  FROM x JOIN ann ON ann.q_id = x.q_id AND ann.n_id = x.n_id
         |  GROUP BY 1),
         |nx AS (SELECT q_id, count(*) AS n_exact FROM x GROUP BY 1)
         |SELECT nx.q_id, CAST(nx.n_exact AS BIGINT) AS n_exact,
         |  CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
         |  round(CAST(COALESCE(h.n_hit, 0) AS DOUBLE)
         |    / CAST(nx.n_exact AS DOUBLE), 6) AS recall
         |FROM nx LEFT JOIN h ON h.q_id = nx.q_id
         |ORDER BY nx.q_id""".stripMargin,

    // one CTE pair per greedy round: dN folds the new center into the
    // running min with least() (min of a set == fold of pair-mins), cN+1
    // is the (dist DESC, vec_id) LIMIT 1 argmax — same rounding, same
    // tiebreak as the Spark rounds
    "sample_kcenter" -> {
      def cos(a: String, b: String) =
        s"""(list_dot_product($a, $b) /
           |    (sqrt(list_dot_product($a, $a))
           |     * sqrt(list_dot_product($b, $b))))""".stripMargin
      s"""WITH e AS ($duckVectors),
         |c1 AS (SELECT vec_id, v FROM e WHERE vec_id = 0),
         |d1 AS (
         |  SELECT e.vec_id, e.v,
         |    round(1 - ${cos("e.v", "c1.v")}, 6) AS dist
         |  FROM e CROSS JOIN c1),
         |c2 AS (SELECT vec_id, v, dist FROM d1
         |       ORDER BY dist DESC, vec_id LIMIT 1),
         |d2 AS (
         |  SELECT d1.vec_id, d1.v,
         |    least(d1.dist, round(1 - ${cos("d1.v", "c2.v")}, 6)) AS dist
         |  FROM d1 CROSS JOIN c2),
         |c3 AS (SELECT vec_id, v, dist FROM d2
         |       ORDER BY dist DESC, vec_id LIMIT 1),
         |d3 AS (
         |  SELECT d2.vec_id, d2.v,
         |    least(d2.dist, round(1 - ${cos("d2.v", "c3.v")}, 6)) AS dist
         |  FROM d2 CROSS JOIN c3),
         |c4 AS (SELECT vec_id, v, dist FROM d3
         |       ORDER BY dist DESC, vec_id LIMIT 1)
         |SELECT CAST(1 AS BIGINT) AS rnk, vec_id,
         |  CAST(NULL AS DOUBLE) AS dist FROM c1
         |UNION ALL SELECT 2, vec_id, dist FROM c2
         |UNION ALL SELECT 3, vec_id, dist FROM c3
         |UNION ALL SELECT 4, vec_id, dist FROM c4
         |ORDER BY rnk""".stripMargin
    },

    // IVF probe CTEs + the PQ encode/LUT chain composed; `sc` only sums
    // codes of vectors in the query's probed cells — the same candidate
    // restriction the Spark plan applies before its groupBy
    "sim_ivfpq_topk" ->
      s"""WITH $ivfPqSqlCtes,
         |r AS (
         |  SELECT q_id, vec_id AS n_id, adc_d2,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY adc_d2, vec_id) AS rnk
         |  FROM sc)
         |SELECT q_id, n_id, round(CAST(adc_d2 AS DOUBLE), 6) AS adc_dist,
         |  CAST(rnk AS BIGINT) AS rnk
         |FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin,
    // same composite chain + the sim_pq_recall_eval exact-L2 branch
    "sim_ivfpq_recall_eval" ->
      s"""WITH $ivfPqSqlCtes,
         |ann AS (
         |  SELECT q_id, vec_id AS n_id FROM (
         |    SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
         |      ORDER BY adc_d2, vec_id) AS rnk
         |    FROM sc) WHERE rnk <= 5),
         |xdims AS (
         |  SELECT q.vec_id AS q_id, b.vec_id AS n_id,
         |    unnest(generate_series(1, 64)) AS j, q.v AS qv, b.v AS bv
         |  FROM e q JOIN e b ON b.vec_id <> q.vec_id
         |  WHERE q.vec_id >= 10 AND q.vec_id < 20),
         |xd AS (
         |  SELECT q_id, n_id,
         |    sum((CAST(round(qv[j], 6) AS DECIMAL(12,6))
         |          - CAST(round(bv[j], 6) AS DECIMAL(12,6)))
         |      * (CAST(round(qv[j], 6) AS DECIMAL(12,6))
         |          - CAST(round(bv[j], 6) AS DECIMAL(12,6)))) AS d2
         |  FROM xdims GROUP BY 1, 2),
         |x AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
         |      ORDER BY d2, n_id) AS xrn FROM xd) WHERE xrn <= 5),
         |h AS (
         |  SELECT x.q_id, count(*) AS n_hit
         |  FROM x JOIN ann ON ann.q_id = x.q_id AND ann.n_id = x.n_id
         |  GROUP BY 1),
         |nx AS (SELECT q_id, count(*) AS n_exact FROM x GROUP BY 1)
         |SELECT nx.q_id, CAST(nx.n_exact AS BIGINT) AS n_exact,
         |  CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
         |  round(CAST(COALESCE(h.n_hit, 0) AS DOUBLE)
         |    / CAST(nx.n_exact AS DOUBLE), 6) AS recall
         |FROM nx LEFT JOIN h ON h.q_id = nx.q_id
         |ORDER BY nx.q_id""".stripMargin,

    // same chain to `best`, folded per subquantizer instead of per
    // vector: code-usage census + exact-decimal distortion sums, one
    // IEEE division each for the share and the mse
    "embedding_pq_distortion" ->
      s"""WITH e AS ($duckVectors),
         |sub AS (
         |  SELECT vec_id, unnest(generate_series(0, 7)) AS sub, v FROM e),
         |sv AS (
         |  SELECT vec_id, sub,
         |    list_slice(v, sub * 8 + 1, sub * 8 + 8) AS sv
         |  FROM sub),
         |cb AS (
         |  SELECT vec_id AS code, sub,
         |    list_slice(v, sub * 8 + 1, sub * 8 + 8) AS cv
         |  FROM (SELECT vec_id, unnest(generate_series(0, 7)) AS sub, v
         |        FROM e WHERE vec_id < 16)),
         |dims AS (
         |  SELECT s.vec_id, s.sub, c.code,
         |    unnest(generate_series(1, 8)) AS j, s.sv, c.cv
         |  FROM sv s JOIN cb c USING (sub)),
         |d2 AS (
         |  SELECT vec_id, sub, code,
         |    sum((CAST(round(sv[j], 6) AS DECIMAL(12,6))
         |          - CAST(round(cv[j], 6) AS DECIMAL(12,6)))
         |      * (CAST(round(sv[j], 6) AS DECIMAL(12,6))
         |          - CAST(round(cv[j], 6) AS DECIMAL(12,6)))) AS d2
         |  FROM dims GROUP BY 1, 2, 3),
         |best AS (
         |  SELECT vec_id, sub, code, d2,
         |    row_number() OVER (PARTITION BY vec_id, sub
         |      ORDER BY d2, code) AS rn
         |  FROM d2),
         |hist AS (
         |  SELECT sub, code, count(*) AS cnt, sum(d2) AS sd2
         |  FROM best WHERE rn = 1 GROUP BY sub, code)
         |SELECT CAST(sub AS BIGINT) AS sub,
         |  CAST(sum(cnt) AS BIGINT) AS n_vecs,
         |  CAST(count(*) AS BIGINT) AS n_codes_used,
         |  round(CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE), 6)
         |    AS max_code_share,
         |  round(CAST(sum(sd2) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE), 6)
         |    AS mse
         |FROM hist GROUP BY sub ORDER BY sub""".stripMargin,
    // every Lloyd stage is deterministic SQL (fixed seeds, rounded-cosine
    // argmax, exact-decimal dimension means), so both iterations hash-check
    "kmeans_lloyd" -> {
      def cos(a: String, b: String) =
        s"""round(list_dot_product($a, $b) /
           |    (sqrt(list_dot_product($a, $a))
           |     * sqrt(list_dot_product($b, $b))), 6)""".stripMargin
      s"""WITH e AS ($duckVectors),
         |cent0 AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 8),
         |a1 AS (
         |  SELECT vec_id, v, c_id AS cluster FROM (
         |    SELECT e.vec_id, e.v, cent0.c_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cos("e.v", "cent0.cv")} DESC, cent0.c_id) AS rn
         |    FROM e CROSS JOIN cent0) WHERE rn = 1),
         |dims AS (
         |  SELECT cluster, unnest(generate_series(1, len(v))) AS pos, v
         |  FROM a1),
         |m AS (
         |  SELECT cluster, pos,
         |    CAST(sum(CAST(round(v[pos], 6) AS DECIMAL(12,6))) AS DOUBLE)
         |      / count(*) AS m
         |  FROM dims GROUP BY 1, 2),
         |c1 AS (SELECT cluster AS c_id, list(m ORDER BY pos) AS cv
         |       FROM m GROUP BY 1),
         |a2 AS (
         |  SELECT vec_id, c_id AS cluster FROM (
         |    SELECT e.vec_id, c1.c_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cos("e.v", "c1.cv")} DESC, c1.c_id) AS rn
         |    FROM e CROSS JOIN c1) WHERE rn = 1),
         |n1 AS (SELECT cluster, count(*) AS n_iter1 FROM a1 GROUP BY 1),
         |n2 AS (SELECT cluster, count(*) AS n_iter2 FROM a2 GROUP BY 1),
         |st AS (
         |  SELECT cluster,
         |    CAST(sum(CAST(round(m, 6) AS DECIMAL(12,6))) AS DOUBLE)
         |      AS centroid_sum,
         |    round(sqrt(CAST(sum(CAST(round(m, 6) AS DECIMAL(12,6))
         |      * CAST(round(m, 6) AS DECIMAL(12,6))) AS DOUBLE)), 6)
         |      AS centroid_norm
         |  FROM m GROUP BY 1)
         |SELECT n1.cluster AS cluster, n_iter1,
         |  COALESCE(n_iter2, 0) AS n_iter2,
         |  round(centroid_sum, 6) AS centroid_sum, centroid_norm
         |FROM n1 LEFT JOIN n2 ON n1.cluster = n2.cluster
         |JOIN st ON n1.cluster = st.cluster
         |ORDER BY cluster""".stripMargin
    },
    "embedding_pca_power" ->
      """WITH ex AS (
        |  SELECT vec_id,
        |    unnest(generate_series(0, len(embedding) - 1)) AS j,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE), 6)
        |      AS DECIMAL(12,6)) AS x
        |  FROM embeddings),
        |v0 AS (SELECT DISTINCT j, CAST(1.0 AS DECIMAL(12,6)) AS vj
        |       FROM ex),
        |d1 AS (SELECT e.vec_id, CAST(sum(e.x * v.vj) AS DECIMAL(20,8))
        |         AS dot
        |       FROM ex e JOIN v0 v USING (j) GROUP BY e.vec_id),
        |w1 AS (SELECT e.j, sum(e.x * d.dot) AS w
        |       FROM ex e JOIN d1 d USING (vec_id) GROUP BY e.j),
        |m1 AS (SELECT max(abs(w)) AS m FROM w1),
        |v1 AS (SELECT j, CAST(round(CAST(w AS DOUBLE) / CAST(m AS DOUBLE),
        |         6) AS DECIMAL(12,6)) AS vj
        |       FROM w1 CROSS JOIN m1),
        |d2 AS (SELECT e.vec_id, CAST(sum(e.x * v.vj) AS DECIMAL(20,8))
        |         AS dot
        |       FROM ex e JOIN v1 v USING (j) GROUP BY e.vec_id),
        |w2 AS (SELECT e.j, sum(e.x * d.dot) AS w
        |       FROM ex e JOIN d2 d USING (vec_id) GROUP BY e.j),
        |m2 AS (SELECT max(abs(w)) AS m FROM w2),
        |v2 AS (SELECT j, CAST(round(CAST(w AS DOUBLE) / CAST(m AS DOUBLE),
        |         6) AS DECIMAL(12,6)) AS vj
        |       FROM w2 CROSS JOIN m2)
        |SELECT CAST(j AS BIGINT) AS dim, CAST(vj AS DOUBLE) AS loading
        |FROM v2 ORDER BY dim""".stripMargin,
    "embedding_quantize" ->
      s"""WITH e AS ($duckVectors),
         |b AS (SELECT vec_id, v, list_min(v) AS lo, list_max(v) AS hi
         |      FROM e),
         |c AS (SELECT vec_id, v, lo, hi,
         |  list_transform(v,
         |    x -> CAST(round((x - lo) / (hi - lo) * 255) AS INT)) AS codes
         |  FROM b)
         |SELECT vec_id, round(lo, 6) AS lo, round(hi, 6) AS hi,
         |  CAST(list_sum(codes) AS BIGINT) AS code_sum,
         |  round(list_max(list_transform(generate_series(1, len(v)),
         |    i -> abs(v[i] - (lo + codes[i] * (hi - lo) / 255)))), 6)
         |    AS max_err
         |FROM c ORDER BY vec_id""".stripMargin,
    // per-element rounding before the exact decimal sum mirrors the Spark
    // fold — unnest+GROUP BY is DuckDB's fold equivalent
    "embedding_norm_audit" ->
      s"""WITH e AS ($duckVectors),
         |el AS (SELECT e.vec_id, emb.label, e.v
         |       FROM e JOIN embeddings emb ON e.vec_id = emb.vec_id),
         |t AS (SELECT vec_id, label, unnest(v) AS x FROM el),
         |n AS (SELECT vec_id, label,
         |        round(sqrt(CAST(sum(CAST(round(x * x, 9)
         |          AS DECIMAL(20,9))) AS DOUBLE)), 6) AS norm
         |      FROM t GROUP BY 1, 2)
         |SELECT label, count(*) AS n_vecs,
         |  round(CAST(sum(CAST(norm AS DECIMAL(12,6))) AS DOUBLE)
         |    / count(*), 6) AS avg_norm,
         |  min(norm) AS min_norm, max(norm) AS max_norm
         |FROM n GROUP BY label ORDER BY label""".stripMargin,
    "embedding_outlier_dist" ->
      """WITH e AS (
        |  SELECT vec_id, label,
        |    unnest(generate_series(0, len(embedding) - 1)) AS j,
        |    unnest(list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE), 6) AS DECIMAL(12,6)))) AS x
        |  FROM embeddings),
        |c AS (
        |  SELECT j, CAST(round(CAST(sum(x) AS DOUBLE) / count(*), 6)
        |    AS DECIMAL(12,6)) AS c
        |  FROM e GROUP BY j),
        |sq AS (
        |  SELECT e.vec_id, e.label,
        |    CAST(round(CAST(e.x - c.c AS DOUBLE)
        |      * CAST(e.x - c.c AS DOUBLE), 9) AS DECIMAL(30,9)) AS sq
        |  FROM e JOIN c ON e.j = c.j),
        |dist AS (
        |  SELECT vec_id, label,
        |    CAST(round(sqrt(CAST(sum(sq) AS DOUBLE)), 6)
        |      AS DECIMAL(12,6)) AS dist
        |  FROM sq GROUP BY 1, 2),
        |st AS (
        |  SELECT count(*) AS n, CAST(sum(dist) AS DOUBLE) AS sd,
        |    CAST(sum(CAST(dist * dist AS DECIMAL(30,12))) AS DOUBLE)
        |      AS sdd
        |  FROM dist),
        |sf AS (
        |  SELECT sd / n AS mu,
        |    sqrt(greatest(0, sdd / n - (sd / n) * (sd / n))) AS sd_dist
        |  FROM st)
        |SELECT vec_id, label, CAST(dist AS DOUBLE) AS dist,
        |  round((CAST(dist AS DOUBLE) - mu) / sd_dist, 6) AS z
        |FROM dist CROSS JOIN sf
        |WHERE round((CAST(dist AS DOUBLE) - mu) / sd_dist, 6) > 2.0
        |ORDER BY vec_id""".stripMargin,
    // the same exact-decimal chain as the Spark side: rounded coordinates
    // summed in decimal for the centroid, exact decimal residual cast to
    // double for the (IEEE-identical) square, decimal-summed per vector
    "embedding_centroid_drift" ->
      """WITH e AS (
        |  SELECT vec_id, label,
        |    unnest(generate_series(0, len(embedding) - 1)) AS j,
        |    unnest(list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE), 6) AS DECIMAL(12,6)))) AS x
        |  FROM embeddings),
        |c AS (
        |  SELECT label, j,
        |    CAST(round(CAST(sum(x) AS DOUBLE) / count(*), 6)
        |      AS DECIMAL(12,6)) AS c
        |  FROM e GROUP BY 1, 2),
        |sq AS (
        |  SELECT e.vec_id, e.label,
        |    CAST(round(CAST(e.x - c.c AS DOUBLE)
        |      * CAST(e.x - c.c AS DOUBLE), 9) AS DECIMAL(20,9)) AS sq
        |  FROM e JOIN c ON e.label = c.label AND e.j = c.j),
        |dist AS (
        |  SELECT vec_id, label,
        |    CAST(round(sqrt(CAST(sum(sq) AS DOUBLE)), 6)
        |      AS DECIMAL(12,6)) AS dist
        |  FROM sq GROUP BY 1, 2)
        |SELECT label, count(*) AS n_vecs,
        |  round(CAST(sum(dist) AS DOUBLE) / count(*), 6) AS avg_dist,
        |  CAST(min(dist) AS DOUBLE) AS min_dist,
        |  CAST(max(dist) AS DOUBLE) AS max_dist
        |FROM dist GROUP BY label ORDER BY label""".stripMargin,
    // parallel unnests in one SELECT zip elementwise in DuckDB, giving the
    // (dim, x) pairs posexplode produces on the Spark side
    "embedding_dim_stats" ->
      s"""WITH e AS ($duckVectors),
         |t AS (
         |  SELECT unnest(generate_series(1, len(v))) AS dim, unnest(v) AS x
         |  FROM e),
         |m AS (
         |  SELECT dim, count(*) AS n,
         |    CAST(sum(CAST(round(x, 9) AS DECIMAL(20,9))) AS DOUBLE) AS sx,
         |    CAST(sum(CAST(round(x * x, 9) AS DECIMAL(20,9))) AS DOUBLE)
         |      AS sxx,
         |    round(min(x), 6) AS min_x, round(max(x), 6) AS max_x
         |  FROM t GROUP BY 1)
         |SELECT dim, n, round(sx / n, 6) AS mean_x,
         |  round(sqrt(greatest(0, sxx / n - (sx / n) * (sx / n))), 6) AS sd_x,
         |  min_x, max_x
         |FROM m ORDER BY dim""".stripMargin,
    // same per-dim moments -> identical IEEE mean/sd -> bit-equal z cells
    "embedding_whiten" ->
      """WITH ex AS (
        |  SELECT vec_id,
        |    CAST(unnest(generate_series(1, len(embedding))) AS BIGINT)
        |      AS dim,
        |    unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS x
        |  FROM embeddings),
        |e2 AS (
        |  SELECT vec_id, dim, x,
        |    CAST(round(x, 9) AS DECIMAL(20,9)) AS xd,
        |    CAST(round(x * x, 9) AS DECIMAL(20,9)) AS xxd
        |  FROM ex),
        |st AS (
        |  SELECT dim, count(*) AS n, CAST(sum(xd) AS DOUBLE) AS sx,
        |    CAST(sum(xxd) AS DOUBLE) AS sxx
        |  FROM e2 GROUP BY dim),
        |sdv AS (
        |  SELECT dim, sx / n AS mu,
        |    sqrt(greatest(0, sxx / n - (sx / n) * (sx / n)) + 1e-6) AS sd
        |  FROM st),
        |z AS (
        |  SELECT vec_id, (x - mu) / sd AS z
        |  FROM e2 JOIN sdv USING (dim))
        |SELECT vec_id,
        |  round(sqrt(CAST(sum(CAST(round(z * z, 9) AS DECIMAL(30,9)))
        |    AS DOUBLE)), 6) AS white_norm,
        |  round(max(abs(z)), 6) AS max_abs_z
        |FROM z GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    // the same greedy unroll, one CTE block per round; the NOT EXISTS
    // anti-join mirrors the left_anti, and every pick window carries the
    // identical (score DESC, id) total order
    "sim_mmr_rerank" -> {
      val rounds = (2 to 4).map { r =>
        s"""p$r AS (
           |  SELECT s.q_id, s.c_id, max(s.sim) AS max_sim
           |  FROM sims s JOIN sel${r - 1} pv
           |    ON pv.q_id = s.q_id AND pv.s_id = s.o_id
           |  GROUP BY 1, 2),
           |r$r AS (
           |  SELECT c.q_id, c.c_id,
           |    round(0.7 * c.rel - 0.3 * p.max_sim, 6) AS score
           |  FROM cands c JOIN p$r p
           |    ON p.q_id = c.q_id AND p.c_id = c.c_id
           |  WHERE NOT EXISTS (SELECT 1 FROM sel${r - 1} pv
           |    WHERE pv.q_id = c.q_id AND pv.s_id = c.c_id)),
           |s$r AS (
           |  SELECT q_id, c_id AS s_id, CAST($r AS BIGINT) AS rank FROM (
           |    SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
           |      ORDER BY score DESC, c_id) AS rn
           |    FROM r$r) t WHERE rn = 1),
           |sel$r AS (
           |  SELECT * FROM sel${r - 1} UNION ALL SELECT * FROM s$r)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH e AS ($duckVectors),
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 4),
         |scored AS (
         |  SELECT q_id, e.vec_id AS c_id, e.v,
         |    ${duckCos("qv", "e.v")} AS rel
         |  FROM q JOIN e ON e.vec_id <> q_id),
         |cands AS (
         |  SELECT q_id, c_id, v, rel FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id
         |      ORDER BY rel DESC, c_id) AS rn
         |    FROM scored) t WHERE rn <= 8),
         |sims AS (
         |  SELECT a.q_id, a.c_id, b.c_id AS o_id,
         |    ${duckCos("a.v", "b.v")} AS sim
         |  FROM cands a JOIN cands b
         |    ON a.q_id = b.q_id AND a.c_id <> b.c_id),
         |sel1 AS (
         |  SELECT q_id, c_id AS s_id, CAST(1 AS BIGINT) AS rank FROM (
         |    SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
         |      ORDER BY rel DESC, c_id) AS rn
         |    FROM cands) t WHERE rn = 1),
         |$rounds
         |SELECT p.q_id, p.rank, p.s_id AS vec_id, c.rel
         |FROM sel4 p JOIN cands c
         |  ON c.q_id = p.q_id AND c.c_id = p.s_id
         |ORDER BY p.q_id, p.rank""".stripMargin
    },

    "embedding_sign_lsh" ->
      s"""WITH $signCodeCtes
         |SELECT code, count(*) AS n_vecs,
         |  (count(*) * (count(*) - 1)) // 2 AS pairs
         |FROM codes GROUP BY code
         |ORDER BY n_vecs DESC, code LIMIT 50""".stripMargin,

    "sim_hamming_topk_eval" ->
      s"""WITH $signCodeCtes,
         |e AS ($duckVectors),
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
         |x AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q.q_id, b2.vec_id AS n_id,
         |      row_number() OVER (PARTITION BY q.q_id
         |        ORDER BY ${duckCos("q.qv", "b2.v")} DESC, b2.vec_id)
         |        AS rn
         |    FROM q CROSS JOIN e b2 WHERE b2.vec_id <> q.q_id) z
         |  WHERE rn <= $TopK),
         |qc AS (SELECT vec_id AS q_id, code AS qcode FROM codes
         |       WHERE vec_id < 10),
         |hs AS (
         |  SELECT qc.q_id, c.vec_id AS n_id,
         |    CAST(bit_count(xor(CAST(qcode AS UBIGINT),
         |      CAST(c.code AS UBIGINT))) AS BIGINT) AS ham
         |  FROM qc CROSS JOIN codes c WHERE c.vec_id <> qc.q_id),
         |ht AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
         |      ORDER BY ham, n_id) AS rn
         |    FROM hs) z WHERE rn <= $TopK),
         |hits AS (
         |  SELECT count(*) AS n_hits FROM x
         |  JOIN ht ON ht.q_id = x.q_id AND ht.n_id = x.n_id),
         |nx AS (SELECT count(*) AS n_exact FROM x),
         |h1 AS (
         |  SELECT CAST(sum(hs.ham) AS BIGINT) AS sh, count(*) AS nh
         |  FROM x JOIN hs ON hs.q_id = x.q_id AND hs.n_id = x.n_id),
         |h2 AS (SELECT CAST(sum(ham) AS BIGINT) AS sa, count(*) AS na
         |       FROM hs)
         |SELECT CAST(16 AS BIGINT) AS code_bits,
         |  CAST(n_exact AS BIGINT) AS n_exact,
         |  CAST(n_hits AS BIGINT) AS n_hits,
         |  round(CAST(n_hits AS DOUBLE) / n_exact, 6) AS recall,
         |  round(CAST(sh AS DOUBLE) / nh, 6) AS mean_ham_true_nn,
         |  round(CAST(sa AS DOUBLE) / na, 6) AS mean_ham_all
         |FROM hits CROSS JOIN nx CROSS JOIN h1 CROSS JOIN h2"""
        .stripMargin,

    // shared assign/exact CTEs + one probes/rank/hit chain per
    // (codebook, nprobe) point; the learned leg rebuilds the one-Lloyd-
    // iteration codebook with the same exact-decimal dimension means as
    // the kmeans_lloyd oracle, then probes/assigns against it
    "sim_ivf_nprobe_sweep" -> {
      val per = (for {
        (tag, centName, assignName) <-
          Seq(("S", "cent", "assign"), ("L", "centL", "assignL"))
        np <- Seq(1, 2, 4)
      } yield {
        val cb = if (tag == "S") "seed" else "learned"
        s"""probes$tag$np AS (
           |  SELECT q_id, qv, c_id FROM (
           |    SELECT q.q_id, q.qv, $centName.c_id,
           |      row_number() OVER (PARTITION BY q.q_id
           |        ORDER BY ${duckCos("q.qv", s"$centName.cv")} DESC,
           |          $centName.c_id) AS prn
           |    FROM q CROSS JOIN $centName) WHERE prn <= $np),
           |r$tag$np AS (
           |  SELECT q_id, a.vec_id AS n_id,
           |    row_number() OVER (PARTITION BY q_id
           |      ORDER BY ${duckCos("p.qv", "a.v")} DESC, a.vec_id)
           |      AS rnk
           |  FROM probes$tag$np p JOIN $assignName a ON p.c_id = a.cluster
           |  WHERE a.vec_id <> p.q_id),
           |h$tag$np AS (
           |  SELECT '$cb' AS codebook, CAST($np AS INTEGER) AS nprobe,
           |    count(*) AS n_hits
           |  FROM x JOIN (SELECT q_id, n_id FROM r$tag$np
           |      WHERE rnk <= $TopK) ann
           |    ON ann.q_id = x.q_id AND ann.n_id = x.n_id)""".stripMargin
      }).mkString(",\n")
      val unions = (for {
        tag <- Seq("S", "L"); np <- Seq(1, 2, 4)
      } yield s"SELECT * FROM h$tag$np").mkString("\n       UNION ALL ")
      s"""WITH e AS ($duckVectors),
         |cent AS (SELECT vec_id AS c_id, v AS cv FROM e
         |  WHERE vec_id < 16),
         |assign AS (
         |  SELECT vec_id, v, c_id AS cluster FROM (
         |    SELECT e.vec_id, e.v, cent.c_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${duckCos("e.v", "cent.cv")} DESC, cent.c_id)
         |        AS arn
         |    FROM e CROSS JOIN cent) WHERE arn = 1),
         |dims AS (
         |  SELECT cluster, unnest(generate_series(1, len(v))) AS pos, v
         |  FROM assign),
         |mm AS (
         |  SELECT cluster, pos,
         |    CAST(sum(CAST(round(v[pos], 6) AS DECIMAL(12,6))) AS DOUBLE)
         |      / count(*) AS m
         |  FROM dims GROUP BY 1, 2),
         |centL AS (SELECT cluster AS c_id, list(m ORDER BY pos) AS cv
         |          FROM mm GROUP BY 1),
         |assignL AS (
         |  SELECT vec_id, v, c_id AS cluster FROM (
         |    SELECT e.vec_id, e.v, centL.c_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${duckCos("e.v", "centL.cv")} DESC, centL.c_id)
         |        AS arn
         |    FROM e CROSS JOIN centL) WHERE arn = 1),
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e
         |      WHERE vec_id >= 10 AND vec_id < 20),
         |x AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q.q_id, b.vec_id AS n_id,
         |      row_number() OVER (PARTITION BY q.q_id
         |        ORDER BY ${duckCos("q.qv", "b.v")} DESC, b.vec_id)
         |        AS xrn
         |    FROM q CROSS JOIN e b WHERE b.vec_id <> q.q_id)
         |  WHERE xrn <= $TopK),
         |$per,
         |hh AS ($unions),
         |nx AS (SELECT count(*) AS n_exact FROM x)
         |SELECT codebook, nprobe, CAST(n_hits AS BIGINT) AS n_hits,
         |  CAST(n_exact AS BIGINT) AS n_exact,
         |  round(CAST(n_hits AS DOUBLE) / n_exact, 6) AS recall
         |FROM hh CROSS JOIN nx ORDER BY codebook, nprobe""".stripMargin
    },

    "embedding_triplet_mining" ->
      s"""WITH e AS ($duckVectors),
         |l AS (SELECT vec_id, label FROM embeddings),
         |s AS (
         |  SELECT a.vec_id AS a_id, la.label AS a_label,
         |    b.vec_id AS b_id, lb.label AS b_label,
         |    ${duckCos("a.v", "b.v")} AS cos
         |  FROM e a JOIN l la ON la.vec_id = a.vec_id
         |    JOIN e b ON b.vec_id <> a.vec_id
         |    JOIN l lb ON lb.vec_id = b.vec_id),
         |p AS (
         |  SELECT a_id, b_id AS pos_id, cos AS pos_cos FROM (
         |    SELECT a_id, b_id, cos, row_number() OVER (
         |      PARTITION BY a_id ORDER BY cos DESC, b_id) AS rn
         |    FROM s WHERE a_label = b_label) t WHERE rn = 1),
         |n AS (
         |  SELECT a_id, b_id AS neg_id, cos AS neg_cos FROM (
         |    SELECT a_id, b_id, cos, row_number() OVER (
         |      PARTITION BY a_id ORDER BY cos DESC, b_id) AS rn
         |    FROM s WHERE a_label <> b_label) t WHERE rn = 1)
         |SELECT p.a_id AS anchor, l.label, pos_id, pos_cos,
         |  neg_id, neg_cos,
         |  round(pos_cos - neg_cos, 6) AS margin,
         |  CASE WHEN neg_cos >= pos_cos THEN 'hard'
         |       WHEN neg_cos >= pos_cos - 0.2 THEN 'semi_hard'
         |       ELSE 'easy' END AS difficulty
         |FROM p JOIN n ON n.a_id = p.a_id
         |  JOIN l ON l.vec_id = p.a_id
         |ORDER BY anchor""".stripMargin,

    // both legs rank with the same rounded-cosine + id tiebreak as the
    // Spark plan; contributions are the same round-9 decimals, so the
    // fused ordering hash-matches end-to-end
    "sim_rrf_fusion" -> {
      def legSql(name: String, cos: String) =
        s"""$name AS (
           |  SELECT q_id, n_id, rn AS rnk FROM (
           |    SELECT q.q_id, b.vec_id AS n_id,
           |      row_number() OVER (PARTITION BY q.q_id
           |        ORDER BY $cos DESC, b.vec_id) AS rn
           |    FROM q CROSS JOIN e b WHERE b.vec_id <> q.q_id) z
           |  WHERE rn <= 20)""".stripMargin
      s"""WITH e AS ($duckVectors),
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
         |${legSql("lf", duckCos("q.qv", "b.v"))},
         |${legSql("lp",
             duckCos("list_slice(q.qv, 1, 16)", "list_slice(b.v, 1, 16)"))},
         |u AS (SELECT * FROM lf UNION ALL SELECT * FROM lp),
         |f AS (
         |  SELECT q_id, n_id,
         |    sum(CAST(round(1.0 / (60 + rnk), 9) AS DECIMAL(20,9)))
         |      AS rrf,
         |    count(*) AS n_rankers, min(rnk) AS best_rank
         |  FROM u GROUP BY 1, 2),
         |r AS (SELECT q_id, n_id, rrf, n_rankers, best_rank,
         |  row_number() OVER (PARTITION BY q_id ORDER BY rrf DESC, n_id)
         |    AS rnk FROM f)
         |SELECT q_id, rnk, n_id, CAST(rrf AS DOUBLE) AS rrf,
         |  CAST(n_rankers AS BIGINT) AS n_rankers,
         |  CAST(best_rank AS BIGINT) AS best_rank
         |FROM r WHERE rnk <= $TopK ORDER BY q_id, rnk""".stripMargin
    },
    "embedding_matryoshka_eval" -> {
      def cosAt(p: Int) =
        duckCos(s"list_slice(q.qv, 1, $p)", s"list_slice(b.v, 1, $p)")
      val per = Seq(8, 16, 32).map { p =>
        s"""t$p AS (
           |  SELECT q_id, n_id FROM (
           |    SELECT q.q_id, b.vec_id AS n_id,
           |      row_number() OVER (PARTITION BY q.q_id
           |        ORDER BY ${cosAt(p)} DESC, b.vec_id) AS rn
           |    FROM q CROSS JOIN e b WHERE b.vec_id <> q.q_id) z
           |  WHERE rn <= $TopK),
           |h$p AS (
           |  SELECT CAST($p AS BIGINT) AS prefix_dim, count(*) AS n_hits
           |  FROM x JOIN t$p ON t$p.q_id = x.q_id AND t$p.n_id = x.n_id)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH e AS ($duckVectors),
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
         |x AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q.q_id, b.vec_id AS n_id,
         |      row_number() OVER (PARTITION BY q.q_id
         |        ORDER BY ${duckCos("q.qv", "b.v")} DESC, b.vec_id) AS rn
         |    FROM q CROSS JOIN e b WHERE b.vec_id <> q.q_id) z
         |  WHERE rn <= $TopK),
         |$per,
         |hh AS (SELECT * FROM h8 UNION ALL SELECT * FROM h16
         |       UNION ALL SELECT * FROM h32),
         |nx AS (SELECT count(*) AS n_exact FROM x)
         |SELECT prefix_dim, CAST(n_hits AS BIGINT) AS n_hits,
         |  CAST(n_exact AS BIGINT) AS n_exact,
         |  round(CAST(n_hits AS DOUBLE) / n_exact, 6) AS recall
         |FROM hh CROSS JOIN nx ORDER BY prefix_dim""".stripMargin
    }
  )
}
