package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (SURVEY.md §2B
  * "LLM-data-pipeline extensions").
  *
  * Scale design: `dedup_exact` is a hash-groupBy (one shuffle on the content
  * fingerprint — the canonical 100 TB exact-dedup plan). `dedup_minhash` is
  * the full shingle → MinHash → banded-LSH pipeline: the only joins are
  * equi-joins on (band, band_hash) and on shingle *restricted to LSH
  * candidates*, so nothing ever goes quadratic in the corpus size.
  *
  * Determinism: the MinHash permutation family lives in the native
  * [[graft.functions.MinHashBands]] expression — fixed FNV-1a constants, no
  * RNG — so every run (and the DuckDB exact-Jaccard oracle) sees the same
  * pairs. With 64 permutations in 16 bands of 4, a true pair at Jaccard 0.9
  * is missed with probability (1-0.9^4)^16 < 4e-8; the fixture's planted
  * near-dups all sit at J >= 0.9 (measured) so LSH recall is effectively 1
  * and the emitted table equals the exact-Jaccard table.
  */
object Dedup {
  import Tables._

  val JaccardThreshold = 0.8

  /** Max docs per (first-token, token-count-bucket) block that still run
    * the exact quadratic within-block pair join in the blocked re-rank
    * keys (`dedup_editdist_blocked`, `dedup_weighted_jaccard`). Blocks
    * over the cap — the Zipf-headed "the"/"a" first-token blocks of a
    * real corpus — route their candidates through the banded MinHash
    * kernel instead (VERDICT r12 #3), bounding a hot block's cost at
    * |near-dup pairs| instead of |block|². 16 keeps the quadratic budget
    * at ≤ 120 pairs/block while letting the fixture's largest sf0.1
    * blocks (21 docs) exercise the routed path in the golden checks.
    */
  val BlockCap = 16

  /** Max directional n-gram containment at or above which a pair counts as
    * doc-in-doc duplication (`dedup_containment`).
    */
  val ContainmentThreshold = 0.8
  val HammingMax = 8 // dedup_simhash pair threshold (of 64 bits)

  /** doc_id -> distinct 3-word shingles (lower/trim normalized).
    *
    * Memoized per (session, sf): the same table is traversed several
    * times inside each dedup query AND across the dedup family, and one
    * pinned instance makes that reuse structural instead of a plan-
    * equality coincidence. Size is corpus-bounded (tokens × ~1
    * shingle/token), a few MB per 100k docs.
    */
  private[graft] def shingled(s: SparkSession, d: String): DataFrame = {
    graft.plans.ScopedMemo(s, s"dedup_shingled#$d")(
      corpus(s, d)
        .withColumn("toks", split(lower(trim(col("text"))), " "))
        .withColumn("shingles",
          when(size(col("toks")) >= 3,
            array_distinct(expr(
              """transform(sequence(0, size(toks) - 3),
                |  i -> concat_ws(' ', slice(toks, i + 1, 3)))""".stripMargin)))
            .otherwise(array()))
        .select("doc_id", "shingles"))
  }

  /** The exact-dedup pipeline (normalize -> sha256 fingerprint -> groupBy
    * fingerprint -> min-id keeper + copy count), shared between the
    * `dedup_exact` operator and the harness-level
    * [[graft.harness.DedupJob]] so the two can never drift apart.
    */
  def exactKeepers(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs
      .select(col(idCol),
        sha2(regexp_replace(lower(trim(col(textCol))), "\\s+", " "), 256)
          .as("fingerprint"))
      .groupBy("fingerprint")
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_copies"))

  /** LSH candidate pairs with their exact set-overlap statistics:
    * shingles -> fused native `minhash_bands` projection -> 16x4 band
    * equi-join candidates -> per-pair |A|, |B|, |A ∩ B| computed only on
    * the candidate set. The one candidate generator behind every
    * set-similarity dedup (`dedup_minhash`, `dedup_connected`,
    * `dedup_embedding`): each finisher just applies its own similarity
    * formula to (na, nb, c).
    */
  private[graft] def candidateOverlaps(s: SparkSession, d: String): DataFrame = {
    graft.functions.MinHashBands.register(s)
    val sh = shingled(s, d)

    // fused native sketch: shingles -> 64 minima -> 16 band keys as a
    // pure projection (no shuffle to build signatures). Shingle-less
    // (short) docs are excluded BEFORE banding: minhash_bands of an
    // empty set is a constant, which would make every short doc collide
    // in every band (quadratic candidates on short-doc-heavy corpora).
    // Memoized per (session, sf) like `shingled`: the self-join below
    // scans it twice, and every set-similarity dedup needs the identical
    // (doc_id, band, bh) table — one instance serves them all instead of
    // re-deriving + re-analyzing the 64-hash sketch plan per query.
    val banded = graft.plans.ScopedMemo(s, s"dedup_banded#$d")(
      sh.filter(size(col("shingles")) > 0)
        .select(col("doc_id"),
          posexplode(expr("minhash_bands(shingles)")).as(Seq("band", "bh"))))

    // LSH candidates: equal (band, band-hash), ordered pair, distinct
    val right = banded
      .withColumnRenamed("doc_id", "doc_b_id")
    val cands = banded.join(right,
        banded("band") === right("band") && banded("bh") === right("bh")
          && banded("doc_id") < right("doc_b_id"))
      .select(banded("doc_id").as("doc_a"), col("doc_b_id").as("doc_b"))
      .distinct()

    // exact verify statistics, computed only on the candidate set: attach
    // the two shingle ARRAYS and intersect per pair. |A ∩ B| via
    // `array_intersect` on already-distinct arrays beats the exploded
    // shingle equi-join + groupBy + two size-joins it replaced — same
    // exact semantics, but 3 narrow joins and zero aggregations fewer, so
    // ~6 fewer subplan executions per run (on an overhead-bound local
    // profile that halved the pipeline; at scale it removes two shuffles
    // of the exploded corpus). Candidates are a vanishing fraction of N²
    // (the LSH point), so the per-pair intersect work is bounded.
    val a = sh.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a"))
    val b = sh.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b"))
    cands.join(a, "doc_a").join(b, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(col("sh_a")).as("na"), size(col("sh_b")).as("nb"),
        size(array_intersect(col("sh_a"), col("sh_b"))).as("c"))
  }

  /** MinHash-LSH near-dup pairs (unordered) at Jaccard >= 0.8. Shared by
    * `dedup_minhash` (which adds the presentation ORDER BY) and
    * `dedup_connected` (which feeds the pairs into components and must NOT
    * pay a range-partition/sort — the RangePartitioner's sampling job alone
    * is one extra pass per materialization).
    *
    * Memoized (r13, guide §2.4 "remove shuffles outright"): EIGHT keys
    * consume this pair list (dedup_minhash, dedup_connected,
    * dedup_cross_source, dedup_split_leakage, dedup_lsh_audit,
    * dedup_weighted_jaccard, dedup_editdist_blocked, dedup_method_overlap)
    * and each invocation previously re-ran the band self-join + exact
    * verify over the memoized sketch (~0.5-0.7 s each at sf0.1). The
    * output is the thresholded near-dup pair list — tiny by the LSH
    * pruning invariant — so pinning it costs O(pairs), not O(corpus).
    */
  private[graft] def minhashPairs(s: SparkSession, d: String): DataFrame =
    graft.plans.ScopedMemo(s, s"dedup_minhash_pairs#$d")(
      candidateOverlaps(s, d)
        .withColumn("jac",
          col("c").cast("double") / (col("na") + col("nb") - col("c")))
        .filter(col("jac") >= JaccardThreshold)
        .select("doc_a", "doc_b", "jac"))

  /** Exact-Jaccard qualifying pairs (doc_a < doc_b, jac >= threshold) via
    * the shingle inverted index — NO LSH pruning, quadratic only in docs
    * sharing a shingle. The LSH-free baseline behind `dedup_ngram_jaccard`
    * and the estimator check's pair universe.
    */
  private def exactJaccardPairs(s: SparkSession, d: String): DataFrame =
    exactPairStats(s, d)
      .withColumn("jac",
        col("c").cast("double") / (col("na") + col("nb") - col("c")))
      .filter(col("jac") >= JaccardThreshold)
      .select("doc_a", "doc_b", "jac")

  /** Raw exact-overlap pair statistics (doc_a < doc_b, |A∩B|, |A|, |B|)
    * from the shingle inverted index — UNthresholded, so operating-curve
    * consumers (dedup_threshold_sweep) see full recall at any cut.
    *
    * Memoized (r13): the inverted-index self-join + pair aggregate is the
    * heaviest dedup subplan and EIGHT keys re-ran it per invocation
    * (dedup_ngram_jaccard, dedup_containment, dedup_threshold_sweep,
    * dedup_pair_similarity_hist, dedup_minhash_estimate, dedup_lsh_audit,
    * dedup_method_overlap, corpus_dedup_survivorship — ~22 s of the r13
    * baseline bench). The pair-stats table is O(pairs sharing a shingle),
    * small at any sf; one materialization serves the family.
    */
  private def exactPairStats(s: SparkSession, d: String): DataFrame =
    graft.plans.ScopedMemo(s, s"dedup_pairstats#$d")(
      exactPairStatsPlan(s, d))

  private def exactPairStatsPlan(s: SparkSession, d: String): DataFrame = {
    val sh = shingled(s, d)
    val ex = sh.select(col("doc_id"), explode(col("shingles")).as("sh"))
    val sizes = sh.select(col("doc_id"), size(col("shingles")).as("n"))
    val common = ex
      .join(ex.select(col("doc_id").as("db"), col("sh").as("sh_b")),
        col("sh") === col("sh_b") && col("doc_id") < col("db"))
      .groupBy(col("doc_id").as("doc_a"), col("db").as("doc_b"))
      .agg(count(lit(1)).as("c"))
    common
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")),
        "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")),
        "doc_b")
  }

  /** Both-direction shingle-containment pairs at the operating threshold
    * — the `dedup_containment` kernel, factored so method-comparison
    * consumers (`dedup_method_overlap`) share the one inverted-index
    * join. Same plan as dedup_ngram_jaccard: quadratic only in docs
    * sharing a shingle.
    */
  private[graft] def containmentPairs(s: SparkSession,
      d: String): DataFrame =
    exactPairStats(s, d)
      .withColumn("contain_ab",
        round(col("c").cast("double") / col("na"), 6))
      .withColumn("contain_ba",
        round(col("c").cast("double") / col("nb"), 6))
      .filter(greatest(col("contain_ab"), col("contain_ba"))
        >= ContainmentThreshold)
      .select("doc_a", "doc_b", "contain_ab", "contain_ba")

  /** Charikar SimHash near-dup pairs: one 64-bit signature per doc
    * (native expression), banded 8x8 bits for candidates, Hamming verify
    * via bit_count(xor). The `dedup_simhash` kernel, factored for the
    * method-overlap consumer. Oracle-checked: DuckDB rebuilds the
    * identical signatures (FNV-1a recursive CTE) and applies the same
    * banded predicate.
    */
  /** SimHash signature + 8×8-bit band keys `(doc_id, sig, band, bh)` —
    * the sketch half of [[simhashPairs]], factored out and memoized per
    * (session, sf) like [[shingled]]: the FNV-per-token signature is the
    * CPU cost of the whole simhash family, and THREE consumers each
    * rebuilt it (`dedup_simhash`, `dedup_method_overlap`,
    * `dedup_lsh_bucket_skew`). O(8 rows × N docs) of longs — cheap to
    * pin. Band extraction `(sig >> 8b) & 255` is mask-safe on the signed
    * long (arithmetic-shift fill bits never survive the & 255), matching
    * the DuckDB twin's logical shift on UBIGINT.
    */
  private[graft] def simhashBanded(s: SparkSession, d: String): DataFrame =
    graft.plans.ScopedMemo(s, s"dedup_simhash_banded#$d") {
      graft.functions.CharikarSimHash.register(s)
      // corpus(), not the raw table: the one-row-group fixture scans as a
      // single partition, serializing the 64-bit sketch on one core while
      // 31 idle (the Tables.corpus rationale; the sketch is the CPU cost
      // here, consumers order the result themselves)
      corpus(s, d)
        .withColumn("toks", split(lower(trim(col("text"))), " "))
        .select(col("doc_id"), expr("charikar_simhash(toks)").as("sig"))
        .select(col("doc_id"), col("sig"),
          explode(expr(
            """transform(sequence(0, 7),
              |  b -> struct(b AS band, shiftright(sig, b * 8) & 255 AS bh))"""
              .stripMargin)).as("bk"))
        .select(col("doc_id"), col("sig"), col("bk.band").as("band"),
          col("bk.bh").as("bh"))
    }

  private[graft] def simhashPairs(s: SparkSession, d: String): DataFrame = {
    val banded = simhashBanded(s, d)
    val right = banded.select(col("doc_id").as("doc_b"),
      col("sig").as("sig_b"), col("band").as("band2"), col("bh").as("bh2"))
    // Hamming verify BEFORE the candidate distinct: the popcount is a
    // per-row projection on rows the band join already materialized,
    // while distinct is a shuffle — filtering first shrinks that
    // exchange from every band collision (~N * bucket size rows; a
    // random pair colliding in one 8-bit band still has expected
    // Hamming ~28 over the other 56 bits) down to the true near-dup
    // survivors. Same result set: hamming is a function of the pair.
    banded.join(right,
        col("band") === col("band2") && col("bh") === col("bh2")
          && col("doc_id") < col("doc_b"))
      .withColumn("hamming", expr("bit_count(sig ^ sig_b)").cast("long"))
      .filter(col("hamming") <= HammingMax)
      .select(col("doc_id").as("doc_a"), col("doc_b"), col("hamming"))
      .distinct()
  }

  /** Connected components by min-label propagation WITH pointer doubling,
    * over a symmetric, cached (src, dst) edge table. Returns one
    * materialized (id, label) row per node, label = smallest node id in
    * the component.
    *
    * Each round does two equi-joins + one groupBy, all on node ids —
    * nothing quadratic, and the driver holds only a changed-row COUNT:
    *   - neighbor step: nbr_label = min label over neighbors (join edges
    *     to labels + groupBy) — how labels enter a node;
    *   - doubling step: hop_label = label(label(id)) (labels self-join) —
    *     the Wyllie shortcut that halves every node's pointer distance to
    *     its component minimum each round, so convergence takes
    *     O(log diameter) rounds instead of O(diameter). A 1000-node chain
    *     converges in ~11 rounds where plain propagation needs 999 (pinned
    *     by PropertySpec); near-dup clusters (diameter ~2) converge in 2-3
    *     rounds either way, the doubling join just rides along at
    *     labels-table size.
    *
    * At fixpoint label(u) <= label(v) across every (symmetric) edge, hence
    * labels are constant per component; the minimum id keeps itself (labels
    * only ever take existing node-id values), so the constant is the min.
    *
    * localCheckpoint (eager) each iteration: labels feeds the next plan
    * THREE times (neighbor join, doubling self-join, keep-side), so
    * without lineage truncation the logical plan grows geometrically and
    * Catalyst re-analysis goes exponential — caching alone truncates
    * execution, not analysis (measured: 31s -> ~5s at sf0.1). Trade-off:
    * localCheckpoint is not fault-tolerant — an executor loss mid-loop
    * fails the query instead of recomputing; on a cluster with preemption
    * set [[ReliableCheckpointKey]]=true (+ `sc.setCheckpointDir`) and the
    * loop takes the reliable-checkpoint path for the same lineage cut.
    *
    * ONE materialization per round: the checkpointed frame carries BOTH
    * next_label and prev_label, so the convergence count and the next
    * round's labels are projections of already-materialized blocks.
    * `Dataset.unpersist()` on a localCheckpoint'd frame is a silent no-op
    * (checkpoint blocks never enter the CacheManager), so stale
    * generations are freed through their persisted RDD ids: snapshot
    * getPersistentRDDs around each checkpoint call and unpersist the
    * previous generation once the new one is materialized.
    */
  /** Conf key gating the lineage-cut strategy: `false` (default) uses
    * eager `localCheckpoint` — fastest, but blocks live on executors, so
    * an executor loss mid-loop fails the query. On a real cluster with
    * preemption set this `true` AND call `sc.setCheckpointDir(<dfs path>)`
    * first: each round then writes a reliable checkpoint that survives
    * executor loss (the deployable path VERDICT r6 asked to be wired, not
    * just documented).
    */
  val ReliableCheckpointKey = "spark.graft.reliableCheckpoint"

  /** Connected-component labels over the LSH near-dup pair graph — the
    * shared build behind `dedup_connected` and `dedup_cluster_stats`.
    * Pairs are cached (the union references the pair plan twice; without
    * it the whole LSH pipeline executes once per branch — measured ~2× the
    * dominant cost of the query at sf0.1).
    */
  private[graft] def connectedLabels(s: SparkSession, d: String): DataFrame = {
    // Memoized per (session, sf) like the shingle/band tables: FOUR query
    // keys consume the same label table (dedup_connected, cluster_stats,
    // canonical_pick, and the component census), and the iterative CC run
    // underneath is the single most expensive kernel in the dedup family
    // (~4 s/run at sf0.1) — without memoization each consumer pays it
    // again. The result is O(#labeled-docs), tiny to pin.
    graft.plans.ScopedMemo(s, s"dedup_cc_labels#$d") {
      // r13: minhashPairs is itself memoized + compacted now, so the
      // former per-build `pairs.cache()` + count would double-cache a
      // projection of an already-pinned IMR — both union branches read
      // the memo directly
      val pairs = minhashPairs(s, d).select(col("doc_a"), col("doc_b"))
      val edges = pairs
        .union(pairs.select(col("doc_b"), col("doc_a")))
        .toDF("src", "dst")
        .cache()
      // materialize before the transient edges unpersist
      try graft.plans.ScopedMemo.materialize(connectedComponents(s, edges))
      finally edges.unpersist()
    }
  }

  private[graft] def connectedComponents(s: SparkSession,
      edges: DataFrame, maxIter: Int = 32): DataFrame = {
    val sc = s.sparkContext
    val reliable = s.conf.get(ReliableCheckpointKey, "false").toBoolean
    if (reliable) require(sc.getCheckpointDir.isDefined,
      s"$ReliableCheckpointKey=true needs sc.setCheckpointDir(...) — a " +
        "reliable checkpoint must land on fault-tolerant storage")
    def checkpointTracked(df: DataFrame): (DataFrame, Set[Int]) = {
      val pre = sc.getPersistentRDDs.keySet.toSet
      // reliable path: files in the checkpoint dir, no persisted-RDD
      // generations to free (the Set is empty); cleanup of superseded
      // round files is the cluster's spark.cleaner.referenceTracking
      // .cleanCheckpoints / dir-TTL policy
      val out = if (reliable) df.checkpoint(true) else df.localCheckpoint(true)
      (out, sc.getPersistentRDDs.keySet.toSet -- pre)
    }
    // the initial labels frame is NOT checkpointed: its lineage is depth-1
    // (distinct over the cached edges), so letting round 1 read it twice
    // costs nothing, while an eager localCheckpoint here is one whole
    // extra job before the loop starts
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
    var gen = Set.empty[Int]
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val nbrMin = edges.join(labels, col("dst") === col("id"))
        .groupBy("src").agg(min("label").as("nbr_label"))
      val hop = labels
        .select(col("id").as("hid"), col("label").as("hop_label"))
      val (next, nextGen) = checkpointTracked(
        labels
          .join(nbrMin, col("id") === col("src"), "left")
          .join(hop, col("label") === col("hid"))
          .select(col("id"),
            least(
              least(col("label"), coalesce(col("nbr_label"), col("label"))),
              col("hop_label")).as("next_label"),
            col("label").as("prev_label")))
      changed = next.filter(col("next_label") < col("prev_label")).count()
      gen.foreach(id =>
        sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
      gen = nextGen
      labels = next.select(col("id"), col("next_label").as("label"))
      iter += 1
    }
    // converge or FAIL — a silent cap would return intermediate labels as
    // keepers (wrong answers)
    if (changed > 0) {
      throw new IllegalStateException(
        s"dedup_connected: not converged after $maxIter iterations")
    }
    labels
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // fingerprint BEFORE the shuffle: the groupBy key is the 32-byte
    // sha256, not the normalized text itself, so the exchange moves
    // (doc_id, hash) pairs instead of full documents — at 100 TB that is
    // the difference between shuffling 64 bytes/row and shuffling the
    // corpus
    "dedup_exact" -> ((s, d) =>
      exactKeepers(t(s, d, "documents"), "doc_id", "text")
        .select(col("keeper"), col("n_copies"), col("fingerprint"))
        .orderBy("keeper")),

    // shared-prefix duplication audit: docs whose first 10 tokens are
    // identical, clustered by prefix hash — the boilerplate-header
    // detector (license banners, scraped nav bars, templated intros)
    // that exact dedup misses because the tails differ and
    // MinHash under-weights because 10 tokens is a sliver of the
    // shingle set. Same hash-groupBy shape as dedup_exact: only
    // (doc_id, 32-byte md5) pairs shuffle, never text.
    "dedup_prefix_cluster" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), md5(array_join(
          slice(split(lower(trim(col("text"))), " "), 1, 10), " "))
          .as("prefix_hash"))
        .groupBy("prefix_hash")
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_docs"))
        .filter(col("n_docs") >= 2)
        .select(col("keeper"), col("n_docs"), col("prefix_hash"))
        .orderBy("keeper")),

    "dedup_minhash" -> ((s, d) =>
      minhashPairs(s, d).orderBy("doc_a", "doc_b")),

    // incremental dedup — the production shape: a NEW batch (every 5th
    // doc_id, ~20% of the corpus) checks into an already-indexed corpus
    // (the rest) instead of re-running corpus × corpus. Only pairs that
    // CROSS the split matter, so the work is |batch| × collisions, and
    // the band inverted index is exactly the structure a long-running
    // dedup service keeps warm between batches (here: the memoized band
    // cache). Every new doc reports its verdict — matched old-doc count,
    // best exact Jaccard among matches (0.0 when clean), and the is_dup
    // flag the ingest gate keys on. LSH recall at the 0.8 operating
    // point is ~1 (the dedup_minhash oracle precedent), so the
    // exact-Jaccard oracle mirrors the banded engine bit-for-bit.
    "dedup_incremental" -> { (s, d) =>
      val pairs = minhashPairs(s, d)
      val hits = pairs
        .filter(col("doc_a") % 5 === 0 && col("doc_b") % 5 =!= 0)
        .select(col("doc_a").as("doc_id"), col("jac"))
        .unionAll(pairs
          .filter(col("doc_b") % 5 === 0 && col("doc_a") % 5 =!= 0)
          .select(col("doc_b").as("doc_id"), col("jac")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_dups"),
          round(max(col("jac")), 6).as("best_jac"))
      t(s, d, "documents").filter(col("doc_id") % 5 === 0)
        .select("doc_id")
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_dups"), lit(0L)).as("n_dups"),
          coalesce(col("best_jac"), lit(0.0)).as("best_jac"),
          (coalesce(col("n_dups"), lit(0L)) > 0).as("is_dup"))
        .orderBy("doc_id")
    },

    // LSH index audit — the sim_recall_eval discipline applied to
    // MinHash banding: recall of the banded candidate generator against
    // the exact-Jaccard pair set, plus the pruning bound that justifies
    // LSH at all, in one summary row. n_hit counts candidates that
    // SURVIVE exact verification (= minhashPairs), so recall is the true
    // end-to-end figure, not a band-collision proxy. The candidate COUNT
    // is banding-dependent and not SQL-mirrorable (DuckDB cannot rebuild
    // the hash bands — the dedup_minhash_estimate precedent), so the
    // prune claim ships as a boolean the oracle pins true: candidates
    // must stay under 1% of the N²/2 pair space. All inputs are tiny
    // aggregates over the memoized sketch tables — the audit itself
    // never rescans the corpus.
    "dedup_lsh_audit" -> { (s, d) =>
      val nEx = exactJaccardPairs(s, d).agg(count(lit(1)).as("n_exact"))
      val nHit = minhashPairs(s, d).agg(count(lit(1)).as("n_hit"))
      val nCand = candidateOverlaps(s, d).agg(count(lit(1)).as("n_cand"))
      val nDocs = t(s, d, "documents").agg(count(lit(1)).as("n_docs"))
      nEx.crossJoin(nHit).crossJoin(nCand).crossJoin(nDocs)
        .select(col("n_exact"), col("n_hit"),
          round(col("n_hit").cast("double")
            / col("n_exact").cast("double"), 6).as("recall"),
          (col("n_cand").cast("double") <= col("n_docs").cast("double")
            * (col("n_docs") - 1).cast("double") * 0.005).as("prune_ok"))
    },

    // URL canonicalization + dedup — the crawl-curation pass that
    // collapses tracking-param / host-case / slash variants of the same
    // page BEFORE any content dedup runs (at 100 TB, dropping a refetch
    // by URL identity is ~free; every later stage pays per byte). The
    // fixtures carry no URL column, so raw URLs are synthesized
    // deterministically from event fields (the text_pii_scrub
    // convention) with planted variance in exactly the components
    // canonicalization must erase: host case, www prefix, duplicate
    // slashes, utm_* params, fragments — three raw variants collapse
    // per canonical id on average. Decomposition is extract-per-part
    // (scheme/host/path/query), NOT replacement with group refs: Spark
    // writes backrefs as $1 where DuckDB writes \1, so group refs are
    // banned from oracle-shared regex (determinism rule). Pure
    // projection + one hash groupBy on the canonical string — map-only
    // plus a key-sized shuffle at any corpus size.
    "dedup_url_norm" -> { (s, d) =>
      val raw = t(s, d, "events")
        .withColumn("url", concat(
          lit("HTTPS://WWW.Shop-"), pmod(col("user_id"), lit(7)),
          lit(".Example.COM/Products//Item-"), pmod(col("event_id"), lit(12)),
          lit("/?utm_source=mail&id="), pmod(col("event_id"), lit(8)),
          lit("&utm_campaign=c"), pmod(col("user_id"), lit(3)),
          lit("#sec"), pmod(col("event_id"), lit(5))))
      raw
        .withColumn("u0", regexp_replace(col("url"), "#.*$", ""))
        .withColumn("scheme",
          lower(regexp_extract(col("u0"), "^([A-Za-z]+)://", 1)))
        .withColumn("host0",
          lower(regexp_extract(col("u0"), "^[A-Za-z]+://([^/?#]*)", 1)))
        .withColumn("host",
          when(col("host0").startsWith("www."),
            expr("substring(host0, 5)")).otherwise(col("host0")))
        .withColumn("path", regexp_replace(regexp_replace(
          regexp_extract(col("u0"), "^[A-Za-z]+://[^/?#]*([^?#]*)", 1),
          "/{2,}", "/"), "/$", ""))
        .withColumn("kept", expr(
          """array_join(filter(split(regexp_extract(u0, '\\?([^#]*)', 1),
            |  '&'), p -> NOT startswith(p, 'utm_') AND p != ''), '&')"""
            .stripMargin))
        .withColumn("canonical_url", concat(
          col("scheme"), lit("://"), col("host"), col("path"),
          when(col("kept") =!= "", concat(lit("?"), col("kept")))
            .otherwise(lit(""))))
        .groupBy("canonical_url")
        .agg(count(lit(1)).as("n_copies"), min(col("event_id")).as("keeper"))
        .orderBy("canonical_url")
    },

    // cross-source near-dup audit (the "is crawl data contaminating the
    // curated set" scan): the same banded-LSH pair source, kept only when
    // the two docs come from DIFFERENT sources. The source dimension
    // joins onto the already-thresholded pair table — corpus-sized data
    // never re-scans, the extra work is two id-equi-joins on a table
    // that is tiny by the LSH pruning invariant.
    "dedup_cross_source" -> { (s, d) =>
      val src = corpus(s, d).select(col("doc_id"), col("source"))
      minhashPairs(s, d)
        .join(src.select(col("doc_id").as("doc_a"),
          col("source").as("source_a")), "doc_a")
        .join(src.select(col("doc_id").as("doc_b"),
          col("source").as("source_b")), "doc_b")
        .filter(col("source_a") =!= col("source_b"))
        .select("doc_a", "doc_b", "jac", "source_a", "source_b")
        .orderBy("doc_a", "doc_b")
    },

    // train/valid/test leakage at the NEAR-DUP level: the verified
    // near-dup pairs classified by the deterministic hash split each
    // side lands in (the sample_split rule) — contamination_check
    // catches n-gram containment; this catches whole-document near-dups
    // that straddle the split boundary, the leak that inflates eval
    // scores silently. One memoized pair kernel + two broadcast-able
    // doc→split joins; output is the O(#splits²) matrix with the
    // crossing flag a gate alerts on.
    "dedup_split_leakage" -> { (s, d) =>
      val split = corpus(s, d)
        .select(col("doc_id"),
          substring(md5(col("doc_id").cast("string")), 1, 2).as("b"))
        .select(col("doc_id"),
          when(col("b") < "e6", "train")
            .when(col("b") < "f3", "valid").otherwise("test")
            .as("split"))
      minhashPairs(s, d)
        .join(split.select(col("doc_id").as("doc_a"),
          col("split").as("split_a")), "doc_a")
        .join(split.select(col("doc_id").as("doc_b"),
          col("split").as("split_b")), "doc_b")
        .groupBy("split_a", "split_b")
        .agg(count(lit(1)).as("n_pairs"),
          // round-6 jac summed exactly, divided once: partial-agg-proof
          round(sum(col("jac").cast("decimal(16,6)")).cast("double")
            / count(lit(1)), 6).as("avg_jac"))
        .withColumn("is_leak", col("split_a") =!= col("split_b"))
        .orderBy("split_a", "split_b")
    },

    // exact n-gram Jaccard via the shingle inverted index — the LSH-free
    // baseline (quadratic only in docs *sharing a shingle*); same oracle
    // shape as dedup_minhash, but no candidate pruning step
    "dedup_ngram_jaccard" -> ((s, d) =>
      exactJaccardPairs(s, d).orderBy("doc_a", "doc_b")),

    // dedup operating-curve sweep: near-dup pair and touched-doc counts
    // at each candidate shingle-cosine threshold — the table that picks
    // dedup_embedding's operating point (a threshold inside the
    // background-noise knee admits ~N²/2 pairs; the curve makes the knee
    // visible BEFORE a full run commits to it). Pairs come from the
    // EXACT inverted index, not the LSH candidates — below the banding
    // operating point LSH recall decays, and a tuning curve built on
    // partial recall would bless the wrong threshold. Quadratic only in
    // docs sharing a shingle (the dedup_ngram_jaccard bound); the sweep
    // itself is a bounded 5× fan-out of the pair table.
    "dedup_threshold_sweep" -> { (s, d) =>
      val pairs = exactPairStats(s, d)
        .withColumn("cos", expr(
          "round(c / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6)"))
        .select("doc_a", "doc_b", "cos")
      val ex = graft.plans.ScopedMemo(s, s"threshold_sweep_ex#$d")(pairs
        .select(explode(array(lit(0.5), lit(0.6), lit(0.7), lit(0.8),
          lit(0.9))).as("thr"), col("doc_a"), col("doc_b"), col("cos"))
        .filter(col("cos") >= col("thr")))
      val np = ex.groupBy("thr").agg(count(lit(1)).as("n_pairs"))
      val nd = ex.select(col("thr"), col("doc_a").as("doc"))
        .unionAll(ex.select(col("thr"), col("doc_b").as("doc")))
        .groupBy("thr").agg(countDistinct(col("doc")).as("n_docs"))
      np.join(nd, "thr").orderBy("thr")
    },

    // WEIGHTED Jaccard re-rank over the same (first-token, token-count-
    // bucket) blocking as dedup_editdist_blocked: wj = Σ_t min(tf_a, tf_b)
    // / Σ_t max(tf_a, tf_b) over token FREQUENCIES — set Jaccard treats a
    // token repeated 40× like one occurrence, so template docs that differ
    // only in repetition count look identical to it; the weighted form is
    // what near-dup literature scores when multiplicity carries signal.
    // Scale shape: the pair space is quadratic only within a block AND
    // only for blocks of ≤ [[BlockCap]] docs — first-token blocks are
    // Zipf-headed, so a natural-language corpus concentrates "the"/"a"
    // blocks that would otherwise blow the quadratic budget (VERDICT r12
    // #3). Oversized blocks route through the banded MinHash index
    // instead: their candidate pairs are [[minhashPairs]] (recall 1 at
    // the 0.8 operating point — the dedup_minhash oracle precedent)
    // restricted to same-block pairs, so a hot block costs
    // |near-dup pairs|, never |block|². The Σmin fold is an equi-join on
    // (block, token) — docs sharing no block never meet — and Σmax comes
    // free from the identity Σmax = |A| + |B| − Σmin (token counts with
    // multiplicity), so no full-outer token join ever runs. Integer
    // masses end-to-end; ONE IEEE division (mirrored) at the cut and the
    // rounded output.
    "dedup_weighted_jaccard" -> { (s, d) =>
      val docs = t(s, d, "documents")
        .select(col("doc_id"), lower(trim(col("text"))).as("tx"))
        .select(col("doc_id"),
          split(col("tx"), " ").getItem(0).as("w1"),
          expr("CAST(size(split(tx, ' ')) AS BIGINT) div 5").as("nb"),
          split(col("tx"), " ").as("toks"))
      val bsz = docs.groupBy("w1", "nb").agg(count(lit(1)).as("bsz"))
      // memoized (r13): the token-frequency table is read FOUR times by
      // this plan (the capped self-join's two legs + the hot-path's two
      // per-side joins) — un-pinned, Catalyst re-runs the corpus explode
      // + groupBy once per read
      val tf = graft.plans.ScopedMemo(s, s"dedup_wj_tf#$d")(docs
        .select(col("doc_id"), col("w1"), col("nb"),
          explode(col("toks")).as("tok"))
        .groupBy("doc_id", "w1", "nb", "tok")
        .agg(count(lit(1)).as("tf"))
        .join(bsz, Seq("w1", "nb")))
      val sizes = docs.select(col("doc_id"),
        size(col("toks")).cast("long").as("ntok"))
      // capped quadratic path: the within-block pair join runs only for
      // blocks the cap admits, so its pair space is ≤ BlockCap²/2 each
      val tfSmall = tf.filter(col("bsz") <= BlockCap)
      val sharedSmall = tfSmall
        .join(tfSmall.select(col("doc_id").as("doc_b"), col("w1"),
            col("nb"), col("tok"), col("tf").as("tf_b")),
          Seq("w1", "nb", "tok"))
        .filter(col("doc_id") < col("doc_b"))
        .groupBy(col("doc_id").as("doc_a"), col("doc_b"))
        .agg(sum(least(col("tf"), col("tf_b"))).cast("long")
          .as("shared_mass"))
      // hot-block path: banded-LSH candidates (jac ≥ 0.8, doc_a < doc_b)
      // that land in the SAME oversized block, re-scored by the weighted
      // measure — candidate-bounded, never block-quadratic
      val blk = docs.join(bsz, Seq("w1", "nb"))
        .select(col("doc_id"), col("w1"), col("nb"), col("bsz"))
      val bigCand = minhashPairs(s, d).select("doc_a", "doc_b")
        .join(blk.select(col("doc_id").as("doc_a"), col("w1"),
          col("nb"), col("bsz")), "doc_a")
        .join(blk.select(col("doc_id").as("doc_b"), col("w1").as("w1_b"),
          col("nb").as("nb_b")), "doc_b")
        .filter(col("w1") === col("w1_b") && col("nb") === col("nb_b")
          && col("bsz") > BlockCap)
        .select("doc_a", "doc_b")
      val tfDoc = tf.select(col("doc_id"), col("tok"), col("tf"))
      val sharedBig = bigCand
        .join(tfDoc.select(col("doc_id").as("doc_a"), col("tok"),
          col("tf").as("tf_a")), "doc_a")
        .join(tfDoc.select(col("doc_id").as("doc_b"), col("tok"),
          col("tf").as("tf_b")), Seq("doc_b", "tok"))
        .groupBy("doc_a", "doc_b")
        .agg(sum(least(col("tf_a"), col("tf_b"))).cast("long")
          .as("shared_mass"))
      val shared = sharedSmall.unionByName(sharedBig)
      shared
        .join(sizes.select(col("doc_id").as("doc_a"),
          col("ntok").as("n_tok_a")), "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"),
          col("ntok").as("n_tok_b")), "doc_b")
        .filter(col("shared_mass")
          / (col("n_tok_a") + col("n_tok_b") - col("shared_mass")) >= 0.4)
        .select(col("doc_a"), col("doc_b"), col("n_tok_a"),
          col("n_tok_b"), col("shared_mass"),
          round(col("shared_mass")
            / (col("n_tok_a") + col("n_tok_b") - col("shared_mass")), 6)
            .as("weighted_jaccard"))
        .orderBy("doc_a", "doc_b")
    },

    // blocked edit-distance near-dup: candidate pairs from a cheap
    // (first-token, token-count-bucket) blocking key, re-ranked by exact
    // Levenshtein over the 80-char head. This is the precise RE-RANK
    // stage of a fuzzy-dedup pipeline — the pair space is quadratic only
    // WITHIN a block, and since r13 only for blocks of ≤ [[BlockCap]]
    // docs: first-token blocks are Zipf-headed, so the "the"/"a" head
    // blocks of a natural-language corpus are exactly the skewed keys
    // that blow a naive within-block join (VERDICT r12 #3). Blocks over
    // the cap swap in the MinHash pre-filter the comment always promised:
    // their candidates are [[minhashPairs]] (banded LSH, recall 1 at the
    // 0.8 operating point) restricted to same-block pairs, re-ranked by
    // the same head Levenshtein — |near-dup pairs| work, never |block|².
    // Levenshtein cost is bounded by the fixed 80-char head, not the doc.
    "dedup_editdist_blocked" -> { (s, d) =>
      val docs = t(s, d, "documents")
        .select(col("doc_id"), lower(trim(col("text"))).as("tx"))
        .select(col("doc_id"),
          split(col("tx"), " ").getItem(0).as("w1"),
          expr("CAST(size(split(tx, ' ')) AS BIGINT) div 5").as("nb"),
          substring(col("tx"), 1, 80).as("head"))
      val bsz = docs.groupBy("w1", "nb").agg(count(lit(1)).as("bsz"))
      // memoized (r13): read four times (both legs of the capped
      // self-join + the hot-path's two endpoint joins); the table is one
      // narrow row per doc
      val keyed = graft.plans.ScopedMemo(s, s"dedup_ed_keyed#$d")(
        docs.join(bsz, Seq("w1", "nb")))
      val smallA = keyed.filter(col("bsz") <= BlockCap)
        .select(col("doc_id").as("doc_a"), col("w1"), col("nb"),
          col("head").as("head_a"))
      val smallB = keyed.filter(col("bsz") <= BlockCap)
        .select(col("doc_id").as("doc_b"), col("w1"), col("nb"),
          col("head").as("head_b"))
      val small = smallA.join(smallB, Seq("w1", "nb"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          levenshtein(col("head_a"), col("head_b")).cast("long")
            .as("head_dist"))
      val big = minhashPairs(s, d).select("doc_a", "doc_b")
        .join(keyed.select(col("doc_id").as("doc_a"), col("w1"),
          col("nb"), col("bsz"), col("head").as("head_a")), "doc_a")
        .join(keyed.select(col("doc_id").as("doc_b"),
          col("w1").as("w1_b"), col("nb").as("nb_b"),
          col("head").as("head_b")), "doc_b")
        .filter(col("w1") === col("w1_b") && col("nb") === col("nb_b")
          && col("bsz") > BlockCap)
        .select(col("doc_a"), col("doc_b"),
          levenshtein(col("head_a"), col("head_b")).cast("long")
            .as("head_dist"))
      small.unionByName(big)
        .filter(col("head_dist") <= 12)
        .orderBy("doc_a", "doc_b")
    },

    // MinHash ESTIMATOR quality check: for every exact-Jaccard qualifying
    // pair, the signature-agreement estimate (shared kernel with the
    // production band join — same permutation family) must sit within 0.2
    // of the exact value. Deterministic (no RNG: Kirsch-Mitzenmacher over
    // fixed FNV bases), so the bound either holds for all pairs or the
    // oracle fails loudly — the sketch-discipline twin of
    // agg_approx_distinct's within_bound pattern. The estimate itself
    // stays out of the output columns (DuckDB cannot rebuild the native
    // signatures); the boolean is what both engines agree on.
    "dedup_minhash_estimate" -> { (s, d) =>
      graft.functions.MinHashSig.register(s)
      val sig = shingled(s, d)
        .select(col("doc_id"), expr("minhash_sig(shingles)").as("sig"))
      exactJaccardPairs(s, d)
        .join(sig.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")),
          "doc_a")
        .join(sig.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")),
          "doc_b")
        .withColumn("est", expr(
          """aggregate(zip_with(sig_a, sig_b, (x, y) -> IF(x = y, 1, 0)),
            |  0, (a, v) -> a + v) / 64.0""".stripMargin))
        .select(col("doc_a"), col("doc_b"), col("jac"),
          (abs(col("est") - col("jac")) <= 0.2).as("within_bound"))
        .orderBy("doc_a", "doc_b")
    },

    // n-gram CONTAINMENT dedup: C(A→B) = |A∩B| / |A|. Jaccard misses
    // doc-in-doc duplication when sizes differ wildly (a paragraph pasted
    // into a long page has tiny Jaccard but containment ~1), so curation
    // pipelines screen on max directional containment. Same inverted-index
    // plan as dedup_ngram_jaccard — quadratic only in docs sharing a
    // shingle; both directions come from the one common-count table.
    "dedup_containment" -> ((s, d) =>
      containmentPairs(s, d).orderBy("doc_a", "doc_b")),

    // Charikar SimHash near-dup: one 64-bit signature per doc (native
    // expression), banded 8x8 bits for candidates, Hamming verify via
    // bit_count(xor). Oracle-checked: DuckDB rebuilds the identical
    // signatures (FNV-1a recursive CTE) and applies the same banded
    // predicate; DedupSpec additionally cross-checks the minhash pair set.
    "dedup_simhash" -> ((s, d) =>
      simhashPairs(s, d).orderBy("doc_a", "doc_b")),

    // LSH bucket-skew audit: per simhash band, the bucket-size profile
    // the operator reads BEFORE launching a dedup run at scale — the
    // band self-join's cost is Σ c·(c−1)/2 over bucket sizes c, so one
    // hot bucket (constant-ish signature bytes from boilerplate or
    // short docs) turns the "pruned" join quadratic. n_buckets of a
    // healthy 8-bit band ≈ min(256, N); max_bucket ≫ N/256 marks the
    // band as skewed (skew_ratio = max_bucket / uniform expectation).
    // Everything is integer counts off the memoized banded sketch; the
    // one division is IEEE on integer-valued operands. 8 rows out.
    "dedup_lsh_bucket_skew" -> { (s, d) =>
      val buckets = simhashBanded(s, d)
        .groupBy("band", "bh").agg(count(lit(1)).as("c"))
      buckets.groupBy("band")
        .agg(count(lit(1)).as("n_buckets"),
          sum(col("c")).as("n_docs"),
          max(col("c")).as("max_bucket"),
          sum(expr("c * (c - 1) div 2")).as("cand_pairs"))
        .select(col("band").cast("long").as("band"), col("n_buckets"),
          col("max_bucket"), col("cand_pairs"),
          round(col("max_bucket").cast("double") * 256d
            / col("n_docs").cast("double"), 6).as("skew_ratio"))
        .orderBy("band")
    },

    // transitive dedup: near-dup is not transitive pair-wise (A~B, B~C but
    // A!~C), so production keeper assignment runs on CONNECTED COMPONENTS
    // of the pair graph, not on individual pairs.
    "dedup_connected" -> ((s, d) =>
      connectedLabels(s, d)
        .select(col("id").as("doc_id"), col("label").as("keeper"))
        .orderBy("doc_id")),

    // dedup yield report: the cluster-size histogram over the connected
    // near-dup components — n_docs_removable = Σ clusters·(size−1) is the
    // number a dedup run reports as its savings before anyone deletes a
    // byte. Two O(#labeled-docs) keyed aggregates on top of the same
    // label build; output is O(#distinct sizes).
    "dedup_cluster_stats" -> ((s, d) =>
      connectedLabels(s, d)
        .groupBy("label").agg(count(lit(1)).as("csize"))
        .groupBy("csize")
        .agg(count(lit(1)).as("n_clusters"))
        .select(col("csize").as("cluster_size"), col("n_clusters"),
          (col("n_clusters") * (col("csize") - 1L)).as("n_docs_removable"))
        .orderBy("cluster_size")),

    // the similarity-distribution histogram behind threshold choice:
    // bucket EVERY shingle-sharing pair's exact Jaccard into 0.05-wide
    // bins — the bimodality plot (background-similarity mass vs the
    // near-dup spike) that justifies where `JaccardThreshold` sits.
    // Rides the unthresholded pair-stats kernel dedup_threshold_sweep
    // uses; output is O(20) buckets.
    "dedup_pair_similarity_hist" -> { (s, d) =>
      exactPairStats(s, d)
        .withColumn("jac",
          col("c").cast("double") / (col("na") + col("nb") - col("c")))
        .withColumn("bucket", floor(col("jac") * 20).cast("long"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_pairs"),
          round(min(col("jac")), 6).as("min_jac"),
          round(max(col("jac")), 6).as("max_jac"))
        .select(col("bucket"),
          round(col("bucket").cast("double") / 20.0, 2).as("bucket_lo"),
          col("n_pairs"), col("min_jac"), col("max_jac"))
        .orderBy("bucket")
    },

    // cross-source duplication provenance matrix: which source PAIRS
    // share near-duplicate documents — the contamination map that tells
    // a corpus owner "src3 is mostly re-crawled src0" before mixing
    // weights are chosen (dedup_cross_source counts victims; this names
    // the offending pair). Two dim-sized source joins onto the
    // LSH-pruned verified pair list; output is O(#source²) at most.
    "dedup_source_matrix" -> { (s, d) =>
      val src = t(s, d, "documents").select(col("doc_id"), col("source"))
      minhashPairs(s, d).select("doc_a", "doc_b")
        .join(src.select(col("doc_id").as("doc_a"),
          col("source").as("src_a")), "doc_a")
        .join(src.select(col("doc_id").as("doc_b"),
          col("source").as("src_b")), "doc_b")
        .select(least(col("src_a"), col("src_b")).as("source_x"),
          greatest(col("src_a"), col("src_b")).as("source_y"))
        .groupBy("source_x", "source_y")
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("source_x", "source_y")
    },

    // the dedup ACTION table: one canonical keeper per near-dup cluster
    // (longest document wins, ties to smallest id — the web-pipeline
    // convention that keeps the most complete variant) plus the member
    // census a delete manifest is cut from. One arg-min aggregate over
    // the labeled docs joined to the dim columns — no window, no sort;
    // cluster count is corpus-sublinear by the LSH pruning invariant.
    "dedup_canonical_pick" -> ((s, d) =>
      connectedLabels(s, d)
        .join(t(s, d, "documents")
          .select(col("doc_id").as("id"), col("n_chars")), "id")
        .groupBy(col("label").as("cluster"))
        .agg(count(lit(1)).as("n_members"),
          expr("min_by(id, struct(-n_chars, id))").as("keeper_id"),
          max(col("n_chars")).as("keeper_chars"),
          sum(col("n_chars")).as("total_chars"))
        .orderBy("cluster")),

    // embedding-cosine near-dup dedup, run where embedding dedup actually
    // operates: near-duplicate documents with a wide similarity margin. The
    // embedding is the doc's binary shingle-indicator vector (the exact
    // vector space that hashed-TF featurizations approximate), so
    // cos(A, B) = |A ∩ B| / sqrt(|A| * |B|) — computable exactly from the
    // candidate overlap stats AND SQL-mirrorable, which keeps this op
    // hash-checked against DuckDB (a hashed/learned embedding would demote
    // it to rows-only). Pairs at cos >= 0.8 collapse to (keeper, dup) with
    // the smallest-id keeper. The pair source is the shared MinHash band
    // join, which genuinely PRUNES at this operating point (fixture
    // near-dups sit at Jaccard >= 0.8 where 16x4-band recall is ~1;
    // background cosine tops out at 0.25, far below tau): candidates are
    // <1% of N^2 — spec-pinned — unlike the previous embedding-table
    // variant whose tau=0.4 operating point sat inside the near-orthogonal
    // background noise and forced every banding scheme to admit ~all N^2/2
    // pairs. A threshold *inside* the background noise is not a dedup
    // operating point; exact search (`sim_pairs_threshold`) is the only
    // correct plan there, at any scale.
    "dedup_embedding" -> { (s, d) =>
      val pairs = candidateOverlaps(s, d)
        .withColumn("cos",
          expr("round(c / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6)"))
        .filter(col("cos") >= Similarity.DocCosineThreshold)
      val w = Window.partitionBy("doc_b").orderBy("doc_a")
      pairs
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_b").as("dup_id"), col("doc_a").as("keeper"),
          col("cos"))
        .orderBy("dup_id")
    },

    // substring-level duplication (the "Deduplicating Training Data Makes
    // Language Models Better" signal, at 8-token granularity): for every
    // doc, the fraction of its positional 8-gram spans that also occur in
    // at least one OTHER doc. Two shuffles total — one groupBy to count
    // distinct docs per gram, one groupBy back to docs — both keyed by the
    // gram / doc id, never a pair join, so the plan is linear in corpus
    // size. The explode runs ONCE and is immediately reduced to distinct
    // (gram, doc, occurrence-count) triples — the earlier groupBy+re-join
    // formulation recomputed the explode on both branches and shuffled
    // every raw occurrence into a string equi-join (measured ~4.3s → ~3.0s
    // at sf0.1). At 100 TB you'd xxhash64 the gram BEFORE the exchange so
    // 8 bytes move instead of ~50 (collision odds ~n²/2⁶⁴); kept as the
    // raw string here because the oracle comparison is exact and the
    // fixture is small.
    "dedup_substring" -> { (s, d) =>
      val grams = corpus(s, d)
        .withColumn("toks", split(lower(trim(col("text"))), " "))
        .filter(size(col("toks")) >= 8)
        .select(col("doc_id"), explode(expr(
          """transform(sequence(0, size(toks) - 8),
            |  i -> concat_ws(' ', slice(toks, i + 1, 8)))""".stripMargin))
          .as("gram"))
      // reduce to distinct (gram, doc, occurrences) in one shuffle, then
      // read the per-gram distinct-doc count off a window over the reduced
      // rows — the raw occurrence stream is exploded and shuffled exactly
      // once, and no stage re-joins occurrence rows on the gram string.
      // (Measured at sf0.1: 4.3s original groupBy+re-join → 3.0s; the
      // collect_list single-agg and reduce-then-join variants both lost —
      // object hash agg and the extra pair shuffle cost more than the
      // window's in-partition sort.)
      val occ = grams.groupBy("gram", "doc_id")
        .agg(count(lit(1)).as("occ"))
      occ.withColumn("nd", count(lit(1)).over(Window.partitionBy("gram")))
        .groupBy("doc_id")
        .agg(sum(col("occ")).as("n_grams"),
          sum(when(col("nd") >= 2, col("occ")).otherwise(0L)).as("n_dup"))
        .select(col("doc_id"), col("n_grams"), col("n_dup"),
          round(col("n_dup").cast("double") / col("n_grams"), 6)
            .as("dup_frac"),
          (col("n_dup").cast("double") / col("n_grams") >= 0.5)
            .as("flag_dup"))
        .orderBy("doc_id")
    },

    // content-defined chunking dedup (the FastCDC/storage-dedup shape on
    // token streams): chunk boundaries are a pure function of LOCAL
    // content — position i starts a new chunk when md5(token)'s first
    // nibble lands in {0,1} (P=1/8, mean chunk ~8 tokens) — so an edit
    // reshuffles only the chunks it touches, never the downstream cut
    // points (the shift-resistance fixed-size blocks lack; production
    // CDC widens the hash to a rolling window, width 1 keeps the oracle
    // mirrorable with identical semantics). Chunks are assembled IN-ROW
    // with array ops (cuts -> slices -> concat_ws — the basket_rules
    // discipline, bounded by doc length), so the ONLY corpus-wide
    // shuffle carries (md5 digest, token count) pairs — chunk text never
    // moves, the dedup_exact rule. Output is the storage-dedup planning
    // histogram: per multiplicity, how many chunk types, the token mass
    // stored once vs addressed logically, and the saved share.
    "dedup_chunk_cdc" -> { (s, d) =>
      val chunks = corpus(s, d)
        .withColumn("toks", split(lower(trim(col("text"))), " "))
        .withColumn("cuts", expr(
          """concat(array(0),
            |  filter(sequence(0, size(toks) - 1), i -> i > 0
            |    AND substring(md5(element_at(toks, i + 1)), 1, 1)
            |      IN ('0', '1')),
            |  array(size(toks)))""".stripMargin))
        .select(col("doc_id"), explode(expr(
          """transform(sequence(1, size(cuts) - 1),
            |  k -> concat_ws(' ', slice(toks, element_at(cuts, k) + 1,
            |    element_at(cuts, k + 1) - element_at(cuts, k))))"""
            .stripMargin)).as("chunk"))
      val types = chunks
        .select(md5(col("chunk")).as("sig"),
          size(split(col("chunk"), " ")).cast("long").as("tok_len"))
        .groupBy("sig")
        .agg(count(lit(1)).as("copies"), min(col("tok_len")).as("tok_len"))
      types.groupBy("copies")
        .agg(count(lit(1)).as("n_chunk_types"),
          sum(col("tok_len")).as("n_tokens_stored"),
          sum(col("copies") * col("tok_len")).as("n_tokens_logical"))
        .select(col("copies"), col("n_chunk_types"),
          col("n_tokens_stored"), col("n_tokens_logical"),
          round(lit(1) - col("n_tokens_stored").cast("double")
            / col("n_tokens_logical"), 6).as("saved_share"))
        .orderBy("copies")
    },

    // which near-dup detector catches what: per candidate pair the three
    // method verdicts (MinHash-LSH Jaccard >= 0.8, SimHash banded
    // Hamming <= 8, directional containment >= threshold) rolled up to
    // the count of pairs per verdict combination — the methods-audit
    // Venn a dedup rollout reads before picking its production detector
    // (all-three cells build confidence; single-method cells are where
    // the precision/recall review happens). All three pair kernels are
    // the SHARED factored ones their own keys run — nothing recomputed,
    // and the memoized shingle/band caches make the union three cheap
    // reads. Output is O(7) rows.
    "dedup_method_overlap" -> { (s, d) =>
      val m = minhashPairs(s, d)
        .select(col("doc_a"), col("doc_b"), lit("m").as("meth"))
      val sh = simhashPairs(s, d)
        .select(col("doc_a"), col("doc_b"), lit("s").as("meth"))
      val c = containmentPairs(s, d)
        .select(col("doc_a"), col("doc_b"), lit("c").as("meth"))
      m.unionAll(sh).unionAll(c)
        .groupBy("doc_a", "doc_b")
        .agg(max(when(col("meth") === "m", 1).otherwise(0)).as("im"),
          max(when(col("meth") === "s", 1).otherwise(0)).as("isim"),
          max(when(col("meth") === "c", 1).otherwise(0)).as("ic"))
        .select((col("im") === 1).as("by_minhash"),
          (col("isim") === 1).as("by_simhash"),
          (col("ic") === 1).as("by_containment"))
        .groupBy("by_minhash", "by_simhash", "by_containment")
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("by_minhash", "by_simhash", "by_containment")
    },

    // MinHash-LSH parameter planner: the detection S-curve
    // P(J) = 1 − (1 − J^r)^b for every power-of-two split of the
    // 64-hash signature — the banding-choice table read before any
    // dedup run (steep curve at the operating threshold = sharp
    // candidate filter; the production 16×4 split is one row of it).
    // The grid is restricted to power-of-two (b, r) so every power is
    // REPEATED SQUARING — deterministic IEEE multiplication on both
    // engines, where libm pow() is not correctly rounded and can
    // diverge by an ulp. Pure O(95)-row closed-form table, no corpus
    // scan at all.
    "dedup_minhash_param_planner" -> { (s, d) =>
      import s.implicits._
      val grid = s.range(1)
        .select(explode(lit((1 to 19).map(_ * 5).toArray)).as("j_pct"))
        .crossJoin(broadcast(
          Seq((32, 2), (16, 4), (8, 8), (4, 16), (2, 32))
            .toDF("bands", "rows_per_band")))
      grid
        .withColumn("j", col("j_pct").cast("double") / 100d)
        .withColumn("s1", col("j") * col("j"))
        .withColumn("s2", col("s1") * col("s1"))
        .withColumn("s3", col("s2") * col("s2"))
        .withColumn("s4", col("s3") * col("s3"))
        .withColumn("s5", col("s4") * col("s4"))
        .withColumn("jr",
          when(col("rows_per_band") === 2, col("s1"))
            .when(col("rows_per_band") === 4, col("s2"))
            .when(col("rows_per_band") === 8, col("s3"))
            .when(col("rows_per_band") === 16, col("s4"))
            .otherwise(col("s5")))
        .withColumn("q", lit(1d) - col("jr"))
        .withColumn("q1", col("q") * col("q"))
        .withColumn("q2", col("q1") * col("q1"))
        .withColumn("q3", col("q2") * col("q2"))
        .withColumn("q4", col("q3") * col("q3"))
        .withColumn("qb",
          when(col("bands") === 2, col("q1"))
            .when(col("bands") === 4, col("q2"))
            .when(col("bands") === 8, col("q3"))
            .when(col("bands") === 16, col("q4"))
            .otherwise(col("q4") * col("q4")))
        .select(col("bands").cast("long").as("bands"),
          col("rows_per_band").cast("long").as("rows_per_band"),
          col("j_pct").cast("long").as("j_pct"),
          round(lit(1d) - col("qb"), 6).as("p_detect"))
        .orderBy("bands", "j_pct")
    },

    // dedup survivorship by source — the "who loses data" report read
    // before a dedup run ships: per source the docs and tokens that a
    // connected-component collapse would remove (non-keeper members of
    // near-dup clusters). Sources are not interchangeable — a crawl
    // source losing 40% of its tokens changes the corpus mix — so this
    // table gates the run next to dedup_cluster_stats' size histogram.
    // Rides the memoized CC labels (docs outside the pair graph are
    // singleton keepers via the left join); one keyed rollup after.
    "corpus_dedup_survivorship" -> { (s, d) =>
      val labels = connectedLabels(s, d)
        .select(col("id").as("doc_id"), col("label"))
      t(s, d, "documents")
        .withColumn("n_tokens",
          size(split(lower(trim(col("text"))), " ")).cast("long"))
        .join(labels, Seq("doc_id"), "left")
        .withColumn("removed",
          col("label").isNotNull && col("label") =!= col("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("removed"), 1L).otherwise(0L)).as("n_removed"),
          sum(col("n_tokens")).as("tokens_total"),
          sum(when(col("removed"), col("n_tokens")).otherwise(0L))
            .as("tokens_removed"))
        .select(col("source"), col("n_docs"),
          col("n_removed"),
          (col("n_docs") - col("n_removed")).as("n_kept"),
          col("tokens_total"), col("tokens_removed"),
          round(col("tokens_removed").cast("double")
            / col("tokens_total"), 6).as("token_loss_share"))
        .orderBy("source")
    },

    // token-sort canonical dedup: docs equal as BAGS of words — word
    // order shuffled, multiplicities kept — collapse to one canonical
    // fingerprint (sort the tokens, rejoin, hash). Catches the
    // reorder-paraphrase class exact dedup misses (template engines and
    // scrapers emit the same fields in different orders) while staying
    // strictly linear: one map-side canonicalization per doc + one keyed
    // agg on the 32-byte hash — no pairwise work anywhere, the same
    // scale shape as `dedup_exact`. Per-doc sort cost is O(len·log len)
    // inside codegen. Every exact-dup cluster is token-sort-equal by
    // construction, so this partitions COARSER than `dedup_exact` —
    // `n_exact_forms` counts the distinct exact fingerprints each
    // cluster merged (>1 = a pure-reorder dup exact dedup missed;
    // OperatorSpec pins n_docs >= n_exact_forms >= 1 and the coarsening
    // row-count relation against dedup_exact). ASCII-only corpus
    // contract (FixtureContractSpec) makes lower() and byte-order
    // sorting agree across engines.
    "dedup_token_sort" -> { (s, d) =>
      val canon = sha2(concat_ws(" ",
        array_sort(filter(split(lower(col("text")), "[^a-z0-9]+"),
          t => t =!= ""))), 256)
      val exact = sha2(regexp_replace(lower(trim(col("text"))),
        "\\s+", " "), 256)
      t(s, d, "documents")
        .select(col("doc_id"), canon.as("fingerprint"),
          exact.as("exact_fp"))
        .groupBy("fingerprint")
        .agg(min(col("doc_id")).as("keeper"),
          count(lit(1)).as("n_docs"),
          countDistinct(col("exact_fp")).as("n_exact_forms"))
        .select(col("keeper"), col("n_docs"), col("n_exact_forms"),
          col("fingerprint"))
        .orderBy("keeper")
    }
  )

  /** Shared CTE chain computing exact shingle-set Jaccard pairs at the 0.8
    * threshold (`jpairs`) — spliced into both the pair oracles and the
    * recursive connected-components oracle.
    */
  private[graft] val jaccardCtes =
    """sh AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    generate_series(1, len(w) - 2),
      |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
      |  FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS w
      |        FROM documents)),
      |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
      |sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
      |common AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |jpairs AS (
      |  SELECT doc_a, doc_b,
      |    CAST(c AS DOUBLE) / (s1.n + s2.n - c) AS jac
      |  FROM common
      |  JOIN sizes s1 ON s1.doc_id = doc_a
      |  JOIN sizes s2 ON s2.doc_id = doc_b
      |  WHERE CAST(c AS DOUBLE) / (s1.n + s2.n - c) >= 0.8)""".stripMargin

  /** SimHash signature + banded-pair CTE chain in DuckDB (FNV-1a over
    * UTF-8/ASCII codepoints, majority-vote signature, banded Hamming
    * predicate) — ends in `spairs(doc_a, doc_b, hamming)`. Requires WITH
    * RECURSIVE. Shared by `dedup_simhash` and `dedup_method_overlap`; CTE
    * names are disjoint from [[jaccardCtes]] so the two chains compose.
    * The pair predicate replicates the BANDED semantics, not plain
    * hamming<=8: pigeonhole only guarantees a shared 8-bit band at
    * hamming<=7, so a distance-8 pair with one flipped bit per band is
    * (correctly) absent from both engines — hence the any-zero-xor-byte
    * conjunct.
    */
  private val simhashCtes =
    """tok AS (
      |  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS s
      |  FROM documents),
      |dtok AS (SELECT DISTINCT s FROM tok),
      |fnv AS (
      |  SELECT s, 1 AS i, CAST(14695981039346656037 AS UBIGINT) AS h
      |  FROM dtok
      |  UNION ALL
      |  SELECT s, i + 1,
      |    CAST(CAST((CAST(xor(h, CAST(ord(substr(s, i, 1)) AS UBIGINT))
      |      AS HUGEINT) * 1099511628211) % 18446744073709551616
      |      AS HUGEINT) AS UBIGINT)
      |  FROM fnv WHERE i <= len(s)),
      |hfin AS (SELECT s, h FROM fnv WHERE i = len(s) + 1),
      |occ AS (SELECT t.doc_id, f.h FROM tok t JOIN hfin f ON t.s = f.s),
      |votes AS (
      |  SELECT doc_id, b,
      |    sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
      |  FROM occ CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b)
      |  GROUP BY doc_id, b),
      |sig AS (
      |  SELECT doc_id,
      |    bit_or(CASE WHEN v >= 0 THEN CAST(1 AS UBIGINT) << b
      |           ELSE CAST(0 AS UBIGINT) END) AS usig
      |  FROM votes GROUP BY doc_id),
      |px AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    xor(a.usig, b.usig) AS x
      |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id),
      |spairs AS (
      |  SELECT doc_a, doc_b, CAST(bit_count(x) AS BIGINT) AS hamming
      |  FROM px
      |  WHERE bit_count(x) <= 8
      |    AND ((x & 255) = 0 OR ((x >> 8) & 255) = 0
      |      OR ((x >> 16) & 255) = 0 OR ((x >> 24) & 255) = 0
      |      OR ((x >> 32) & 255) = 0 OR ((x >> 40) & 255) = 0
      |      OR ((x >> 48) & 255) = 0 OR ((x >> 56) & 255) = 0))"""
      .stripMargin

  /** Exact shingle-set Jaccard in DuckDB — oracle for both the LSH and the
    * inverted-index Spark implementations (they must agree with it and so
    * with each other).
    */
  private val exactJaccardSql =
    s"""WITH $jaccardCtes
       |SELECT doc_a, doc_b, jac FROM jpairs
       |ORDER BY doc_a, doc_b""".stripMargin

  def oracle: Map[String, String] = Map(
    "dedup_exact" ->
      """SELECT min(doc_id) AS keeper, count(*) AS n_copies,
        |sha256(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        |  AS fingerprint
        |FROM documents
        |GROUP BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
        |ORDER BY keeper""".stripMargin,
    "dedup_prefix_cluster" ->
      """WITH p AS (
        |  SELECT doc_id, md5(array_to_string(list_slice(
        |    string_split(lower(trim(text)), ' '), 1, 10), ' '))
        |    AS prefix_hash
        |  FROM documents)
        |SELECT min(doc_id) AS keeper, count(*) AS n_docs, prefix_hash
        |FROM p GROUP BY prefix_hash HAVING count(*) >= 2
        |ORDER BY keeper""".stripMargin,
    // exact Jaccard over ALL pairs sharing a shingle (inverted index —
    // no LSH on the oracle side, which is what makes it an oracle)
    "dedup_minhash" -> exactJaccardSql,
    // exact-Jaccard crossing pairs aggregated per new doc; clean new docs
    // surface via the left join with a 0.0/false verdict
    "dedup_incremental" ->
      s"""WITH $jaccardCtes,
         |m AS (
         |  SELECT doc_a AS doc_id, jac FROM jpairs
         |  WHERE doc_a % 5 = 0 AND doc_b % 5 <> 0
         |  UNION ALL
         |  SELECT doc_b AS doc_id, jac FROM jpairs
         |  WHERE doc_b % 5 = 0 AND doc_a % 5 <> 0),
         |v AS (
         |  SELECT doc_id, count(*) AS n_dups, round(max(jac), 6) AS best_jac
         |  FROM m GROUP BY 1)
         |SELECT d.doc_id, COALESCE(v.n_dups, 0) AS n_dups,
         |  COALESCE(v.best_jac, CAST(0.0 AS DOUBLE)) AS best_jac,
         |  COALESCE(v.n_dups, 0) > 0 AS is_dup
         |FROM documents d LEFT JOIN v ON v.doc_id = d.doc_id
         |WHERE d.doc_id % 5 = 0
         |ORDER BY d.doc_id""".stripMargin,
    // the oracle pins recall == 1 (hits == exact pairs — the same
    // equality dedup_minhash's oracle already enforces pairwise) and the
    // prune bound as a constant TRUE: if banding ever misses a pair or
    // the candidate set blows past 1% of N²/2, the hash check goes red
    "dedup_lsh_audit" ->
      s"""WITH $jaccardCtes,
         |c AS (SELECT count(*) AS n_exact FROM jpairs)
         |SELECT n_exact, n_exact AS n_hit,
         |  round(CAST(n_exact AS DOUBLE) / CAST(n_exact AS DOUBLE), 6)
         |    AS recall,
         |  TRUE AS prune_ok
         |FROM c""".stripMargin,
    // same jpairs chain; same md5 split rule as sample_split
    "dedup_split_leakage" ->
      s"""WITH $jaccardCtes,
         |sp AS (
         |  SELECT doc_id,
         |    CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
         |        THEN 'train'
         |      WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'f3'
         |        THEN 'valid'
         |      ELSE 'test' END AS split
         |  FROM documents)
         |SELECT sa.split AS split_a, sb.split AS split_b,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  round(CAST(sum(CAST(jac AS DECIMAL(16,6))) AS DOUBLE)
         |    / count(*), 6) AS avg_jac,
         |  sa.split <> sb.split AS is_leak
         |FROM jpairs
         |JOIN sp sa ON sa.doc_id = doc_a
         |JOIN sp sb ON sb.doc_id = doc_b
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "dedup_cross_source" ->
      s"""WITH $jaccardCtes
         |SELECT doc_a, doc_b, jac,
         |  da.source AS source_a, db.source AS source_b
         |FROM jpairs
         |JOIN documents da ON da.doc_id = doc_a
         |JOIN documents db ON db.doc_id = doc_b
         |WHERE da.source <> db.source
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_ngram_jaccard" -> exactJaccardSql,
    "dedup_threshold_sweep" ->
      s"""WITH $jaccardCtes,
         |cp AS (
         |  SELECT doc_a, doc_b,
         |    round(c / sqrt(CAST(s1.n AS DOUBLE) * s2.n), 6) AS cos
         |  FROM common
         |  JOIN sizes s1 ON s1.doc_id = doc_a
         |  JOIN sizes s2 ON s2.doc_id = doc_b),
         |th AS (
         |  SELECT CAST(unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS DOUBLE)
         |    AS thr),
         |sel AS (
         |  SELECT thr, doc_a, doc_b
         |  FROM cp CROSS JOIN th WHERE cos >= thr),
         |np AS (SELECT thr, count(*) AS n_pairs FROM sel GROUP BY thr),
         |nd AS (
         |  SELECT thr, count(DISTINCT doc) AS n_docs
         |  FROM (SELECT thr, doc_a AS doc FROM sel
         |        UNION ALL SELECT thr, doc_b FROM sel)
         |  GROUP BY thr)
         |SELECT np.thr, np.n_pairs, nd.n_docs
         |FROM np JOIN nd ON np.thr = nd.thr ORDER BY np.thr""".stripMargin,
    // mirrors the BlockCap rule verbatim: blocks of <= 16 docs pair
    // all-ways; bigger blocks admit only pairs the near-dup index flags
    // (exact jac >= 0.8 == the banded engine side, recall 1 pinned by
    // the dedup_minhash/dedup_lsh_audit oracles) in the SAME block
    "dedup_weighted_jaccard" ->
      s"""WITH $jaccardCtes,
        |d AS (
        |  SELECT doc_id, lower(trim(text)) AS tx FROM documents),
        |k AS (
        |  SELECT doc_id, string_split(tx, ' ')[1] AS w1,
        |    CAST(len(string_split(tx, ' ')) AS BIGINT) // 5 AS nb,
        |    string_split(tx, ' ') AS toks
        |  FROM d),
        |bs AS (SELECT w1, nb, count(*) AS bsz FROM k GROUP BY 1, 2),
        |tfc AS (
        |  SELECT doc_id, w1, nb, tok, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, w1, nb, unnest(toks) AS tok FROM k)
        |  GROUP BY doc_id, w1, nb, tok),
        |sz AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS ntok FROM k),
        |sm_small AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(sum(least(a.tf, b.tf)) AS BIGINT) AS shared_mass
        |  FROM tfc a JOIN tfc b
        |    ON a.w1 = b.w1 AND a.nb = b.nb AND a.tok = b.tok
        |      AND a.doc_id < b.doc_id
        |  JOIN bs ON bs.w1 = a.w1 AND bs.nb = a.nb
        |  WHERE bs.bsz <= 16
        |  GROUP BY a.doc_id, b.doc_id),
        |sm_big AS (
        |  SELECT p.doc_a, p.doc_b,
        |    CAST(sum(least(ta.tf, tb.tf)) AS BIGINT) AS shared_mass
        |  FROM jpairs p
        |  JOIN k ka ON ka.doc_id = p.doc_a
        |  JOIN k kb ON kb.doc_id = p.doc_b
        |    AND kb.w1 = ka.w1 AND kb.nb = ka.nb
        |  JOIN bs ON bs.w1 = ka.w1 AND bs.nb = ka.nb AND bs.bsz > 16
        |  JOIN tfc ta ON ta.doc_id = p.doc_a
        |  JOIN tfc tb ON tb.doc_id = p.doc_b AND tb.tok = ta.tok
        |  GROUP BY p.doc_a, p.doc_b),
        |sm AS (SELECT * FROM sm_small UNION ALL SELECT * FROM sm_big)
        |SELECT doc_a, doc_b, sa.ntok AS n_tok_a, sb.ntok AS n_tok_b,
        |  shared_mass,
        |  round(shared_mass / (sa.ntok + sb.ntok - shared_mass), 6)
        |    AS weighted_jaccard
        |FROM sm
        |JOIN sz sa ON sm.doc_a = sa.doc_id
        |JOIN sz sb ON sm.doc_b = sb.doc_id
        |WHERE shared_mass / (sa.ntok + sb.ntok - shared_mass) >= 0.4
        |ORDER BY doc_a, doc_b""".stripMargin,

    // same BlockCap mirror as dedup_weighted_jaccard, same jpairs chain
    "dedup_editdist_blocked" ->
      s"""WITH $jaccardCtes,
        |d AS (
        |  SELECT doc_id, lower(trim(text)) AS tx FROM documents),
        |k AS (
        |  SELECT doc_id, string_split(tx, ' ')[1] AS w1,
        |    CAST(len(string_split(tx, ' ')) AS BIGINT) // 5 AS nb,
        |    substr(tx, 1, 80) AS head
        |  FROM d),
        |bs AS (SELECT w1, nb, count(*) AS bsz FROM k GROUP BY 1, 2),
        |small AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(levenshtein(a.head, b.head) AS BIGINT) AS head_dist
        |  FROM k a JOIN k b
        |    ON a.w1 = b.w1 AND a.nb = b.nb AND a.doc_id < b.doc_id
        |  JOIN bs ON bs.w1 = a.w1 AND bs.nb = a.nb
        |  WHERE bs.bsz <= 16),
        |big AS (
        |  SELECT p.doc_a, p.doc_b,
        |    CAST(levenshtein(ka.head, kb.head) AS BIGINT) AS head_dist
        |  FROM jpairs p
        |  JOIN k ka ON ka.doc_id = p.doc_a
        |  JOIN k kb ON kb.doc_id = p.doc_b
        |    AND kb.w1 = ka.w1 AND kb.nb = ka.nb
        |  JOIN bs ON bs.w1 = ka.w1 AND bs.nb = ka.nb AND bs.bsz > 16)
        |SELECT doc_a, doc_b, head_dist
        |FROM (SELECT * FROM small UNION ALL SELECT * FROM big)
        |WHERE head_dist <= 12
        |ORDER BY doc_a, doc_b""".stripMargin,
    // URL twin: identical synthesis, identical extract-per-part
    // canonicalization (no regex group refs — Spark $1 vs DuckDB \1
    // would fork the semantics)
    "dedup_url_norm" ->
      """WITH raw AS (
        |  SELECT event_id,
        |    'HTTPS://WWW.Shop-' || (user_id % 7)
        |      || '.Example.COM/Products//Item-' || (event_id % 12)
        |      || '/?utm_source=mail&id=' || (event_id % 8)
        |      || '&utm_campaign=c' || (user_id % 3)
        |      || '#sec' || (event_id % 5) AS url
        |  FROM events),
        |s1 AS (SELECT event_id, regexp_replace(url, '#.*$', '') AS u0
        |       FROM raw),
        |s2 AS (
        |  SELECT event_id, u0,
        |    lower(regexp_extract(u0, '^([A-Za-z]+)://', 1)) AS scheme,
        |    lower(regexp_extract(u0, '^[A-Za-z]+://([^/?#]*)', 1)) AS host0,
        |    regexp_replace(regexp_replace(
        |      regexp_extract(u0, '^[A-Za-z]+://[^/?#]*([^?#]*)', 1),
        |      '/{2,}', '/'), '/$', '') AS path,
        |    regexp_extract(u0, '\?([^#]*)', 1) AS q
        |  FROM s1),
        |s3 AS (
        |  SELECT event_id, scheme,
        |    CASE WHEN starts_with(host0, 'www.') THEN substring(host0, 5)
        |         ELSE host0 END AS host,
        |    path,
        |    array_to_string(list_filter(string_split(q, '&'),
        |      p -> NOT starts_with(p, 'utm_') AND p <> ''), '&') AS kept
        |  FROM s2),
        |canon AS (
        |  SELECT event_id,
        |    scheme || '://' || host || path ||
        |      CASE WHEN kept <> '' THEN '?' || kept ELSE '' END
        |      AS canonical_url
        |  FROM s3)
        |SELECT canonical_url, count(*) AS n_copies, min(event_id) AS keeper
        |FROM canon GROUP BY 1 ORDER BY canonical_url""".stripMargin,
    // full banded-SimHash twin: the same FNV-1a per-token hash (recursive
    // CTE over DISTINCT tokens, mod-2^64 HUGEINT arithmetic — the
    // sim_pairs_lsh precedent), the same +1/-1 bit votes with multiplicity,
    // the same sign rule, all in UBIGINT (the output carries no signed sig,
    // so the two's-complement view never matters). The pair predicate
    // replicates the BANDED semantics, not plain hamming<=8: pigeonhole
    // only guarantees a shared 8-bit band at hamming<=7, so a distance-8
    // pair with one flipped bit per band is (correctly) absent from both
    // engines — hence the explicit any-zero-xor-byte conjunct.
    "dedup_simhash" ->
      s"""WITH RECURSIVE $simhashCtes
         |SELECT doc_a, doc_b, hamming FROM spairs
         |ORDER BY doc_a, doc_b""".stripMargin,
    // same rebuilt signatures, banded by logical shift on the UBIGINT
    // (mask-equivalent to Spark's arithmetic shift + & 255)
    "dedup_lsh_bucket_skew" ->
      s"""WITH RECURSIVE $simhashCtes,
         |bk AS (
         |  SELECT doc_id, b.b AS band,
         |    CAST((usig >> (b.b * 8)) & 255 AS BIGINT) AS bh
         |  FROM sig CROSS JOIN
         |    (SELECT unnest(generate_series(0, 7)) AS b) b),
         |bsz AS (
         |  SELECT band, bh, count(*) AS c FROM bk GROUP BY band, bh)
         |SELECT band, count(*) AS n_buckets,
         |  max(c) AS max_bucket,
         |  CAST(sum(c * (c - 1) // 2) AS BIGINT) AS cand_pairs,
         |  round(CAST(max(c) AS DOUBLE) * 256
         |    / CAST(sum(c) AS DOUBLE), 6) AS skew_ratio
         |FROM bsz GROUP BY band ORDER BY band""".stripMargin,
    // exact pairs + the bound boolean pinned true (DuckDB cannot rebuild
    // the native signatures; the agg_approx_distinct within_bound pattern)
    "dedup_minhash_estimate" ->
      s"""WITH $jaccardCtes
         |SELECT doc_a, doc_b, jac, true AS within_bound
         |FROM jpairs ORDER BY doc_a, doc_b""".stripMargin,
    // both containment directions from the same shingle inverted index;
    // c/n divisions are integer-valued operands in IEEE double, identical
    // bits on both engines before the (belt-and-braces) round
    "dedup_containment" ->
      s"""WITH $jaccardCtes
         |SELECT doc_a, doc_b,
         |  round(CAST(c AS DOUBLE) / s1.n, 6) AS contain_ab,
         |  round(CAST(c AS DOUBLE) / s2.n, 6) AS contain_ba
         |FROM common
         |JOIN sizes s1 ON s1.doc_id = doc_a
         |JOIN sizes s2 ON s2.doc_id = doc_b
         |WHERE greatest(round(CAST(c AS DOUBLE) / s1.n, 6),
         |               round(CAST(c AS DOUBLE) / s2.n, 6))
         |  >= $ContainmentThreshold
         |ORDER BY doc_a, doc_b""".stripMargin,
    // transitive closure by recursive CTE: every node's keeper is the min
    // doc_id reachable in the pair graph (including itself)
    "dedup_connected" ->
      s"""WITH RECURSIVE $jaccardCtes,
         |edges AS (
         |  SELECT doc_a AS u, doc_b AS v FROM jpairs
         |  UNION ALL
         |  SELECT doc_b AS u, doc_a AS v FROM jpairs),
         |reach AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
         |  WHERE e.v <> r.u)
         |SELECT u AS doc_id, least(u, min(v)) AS keeper
         |FROM reach GROUP BY u ORDER BY doc_id""".stripMargin,

    "corpus_dedup_survivorship" ->
      s"""WITH RECURSIVE $jaccardCtes,
         |edges AS (
         |  SELECT doc_a AS u, doc_b AS v FROM jpairs
         |  UNION ALL
         |  SELECT doc_b AS u, doc_a AS v FROM jpairs),
         |reach AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
         |  WHERE e.v <> r.u),
         |lbl AS (
         |  SELECT u AS doc_id, least(u, min(v)) AS label
         |  FROM reach GROUP BY u),
         |dt AS (
         |  SELECT d.doc_id, d.source,
         |    CAST(len(string_split(lower(trim(d.text)), ' '))
         |      AS BIGINT) AS n_tokens,
         |    (l.label IS NOT NULL AND l.label <> d.doc_id) AS removed
         |  FROM documents d LEFT JOIN lbl l ON l.doc_id = d.doc_id)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN removed THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_removed,
         |  count(*) - CAST(sum(CASE WHEN removed THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_kept,
         |  CAST(sum(n_tokens) AS BIGINT) AS tokens_total,
         |  CAST(sum(CASE WHEN removed THEN n_tokens ELSE 0 END)
         |    AS BIGINT) AS tokens_removed,
         |  round(CAST(sum(CASE WHEN removed THEN n_tokens ELSE 0 END)
         |    AS DOUBLE) / CAST(sum(n_tokens) AS BIGINT), 6)
         |    AS token_loss_share
         |FROM dt GROUP BY source ORDER BY source""".stripMargin,

    // unthresholded pair stats -> exact-Jaccard bins, same kernel as the
    // threshold sweep
    "dedup_pair_similarity_hist" ->
      s"""WITH $jaccardCtes,
         |jp AS (
         |  SELECT CAST(c AS DOUBLE) / (s1.n + s2.n - c) AS jac
         |  FROM common
         |  JOIN sizes s1 ON s1.doc_id = doc_a
         |  JOIN sizes s2 ON s2.doc_id = doc_b),
         |b AS (SELECT CAST(floor(jac * 20) AS BIGINT) AS bucket, jac
         |      FROM jp)
         |SELECT bucket, round(CAST(bucket AS DOUBLE) / 20.0, 2)
         |    AS bucket_lo,
         |  count(*) AS n_pairs, round(min(jac), 6) AS min_jac,
         |  round(max(jac), 6) AS max_jac
         |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,

    // exact-Jaccard pair graph + two source joins, same ordered pair key
    "dedup_source_matrix" ->
      s"""WITH $jaccardCtes,
         |sp AS (
         |  SELECT least(da.source, db.source) AS source_x,
         |    greatest(da.source, db.source) AS source_y
         |  FROM jpairs j
         |  JOIN documents da ON j.doc_a = da.doc_id
         |  JOIN documents db ON j.doc_b = db.doc_id)
         |SELECT source_x, source_y, count(*) AS n_pairs
         |FROM sp GROUP BY 1, 2
         |ORDER BY source_x, source_y""".stripMargin,

    // same transitive closure, then the longest-doc arg-pick per cluster
    "dedup_canonical_pick" ->
      s"""WITH RECURSIVE $jaccardCtes,
         |edges AS (
         |  SELECT doc_a AS u, doc_b AS v FROM jpairs
         |  UNION ALL
         |  SELECT doc_b AS u, doc_a AS v FROM jpairs),
         |reach AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
         |  WHERE e.v <> r.u),
         |labels AS (
         |  SELECT u AS id, least(u, min(v)) AS label
         |  FROM reach GROUP BY u),
         |j AS (
         |  SELECT l.label AS cluster, l.id, d.n_chars
         |  FROM labels l JOIN documents d ON l.id = d.doc_id),
         |pick AS (
         |  SELECT cluster, id,
         |    row_number() OVER (PARTITION BY cluster
         |      ORDER BY n_chars DESC, id) AS rn
         |  FROM j),
         |ag AS (
         |  SELECT cluster, count(*) AS n_members,
         |    CAST(max(n_chars) AS BIGINT) AS keeper_chars,
         |    CAST(sum(n_chars) AS BIGINT) AS total_chars
         |  FROM j GROUP BY 1),
         |k AS (SELECT cluster, id AS keeper_id FROM pick WHERE rn = 1)
         |SELECT ag.cluster, n_members, keeper_id, keeper_chars,
         |  total_chars
         |FROM ag JOIN k USING (cluster) ORDER BY ag.cluster""".stripMargin,
    // same transitive closure, reduced to the size histogram
    "dedup_cluster_stats" ->
      s"""WITH RECURSIVE $jaccardCtes,
         |edges AS (
         |  SELECT doc_a AS u, doc_b AS v FROM jpairs
         |  UNION ALL
         |  SELECT doc_b AS u, doc_a AS v FROM jpairs),
         |reach AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
         |  WHERE e.v <> r.u),
         |labels AS (
         |  SELECT u AS doc_id, least(u, min(v)) AS keeper
         |  FROM reach GROUP BY u),
         |cl AS (SELECT keeper, count(*) AS csize FROM labels GROUP BY 1)
         |SELECT csize AS cluster_size, count(*) AS n_clusters,
         |  CAST(count(*) * (csize - 1) AS BIGINT) AS n_docs_removable
         |FROM cl GROUP BY csize ORDER BY cluster_size""".stripMargin,
    // exact binary shingle-indicator cosine over ALL pairs sharing a
    // shingle (inverted index, no LSH on the oracle side), then the same
    // smallest-id-keeper decision step
    "dedup_embedding" ->
      s"""WITH $jaccardCtes,
         |cpairs AS (
         |  SELECT doc_a, doc_b,
         |    round(c / sqrt(CAST(s1.n AS DOUBLE) * s2.n), 6) AS cos
         |  FROM common
         |  JOIN sizes s1 ON s1.doc_id = doc_a
         |  JOIN sizes s2 ON s2.doc_id = doc_b),
         |r AS (SELECT doc_b AS dup_id, doc_a AS keeper, cos,
         |  row_number() OVER (PARTITION BY doc_b ORDER BY doc_a) AS rn
         |  FROM cpairs WHERE cos >= 0.8)
         |SELECT dup_id, keeper, cos FROM r WHERE rn = 1
         |ORDER BY dup_id""".stripMargin,
    "dedup_substring" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_transform(
        |    generate_series(1, len(w) - 7),
        |    i -> array_to_string(list_slice(w, i, i + 7), ' '))) AS gram
        |  FROM tk WHERE len(w) >= 8),
        |nd AS (SELECT gram, count(DISTINCT doc_id) AS nd FROM g GROUP BY 1)
        |SELECT doc_id, count(*) AS n_grams,
        |  CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |  round(CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 6) AS dup_frac,
        |  (CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*)) >= 0.5 AS flag_dup
        |FROM g JOIN nd USING (gram)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // same in-row cut/slice construction (i > 0 boundary filter, [0] and
    // [len] sentinels), same md5 chunk signatures, same histogram folds
    "dedup_chunk_cdc" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS w
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    list_concat(list_concat([0],
        |      list_filter(generate_series(0, len(w) - 1), i -> i > 0
        |        AND substring(md5(w[i + 1]), 1, 1) IN ('0', '1'))),
        |      [len(w)]) AS cuts, w
        |  FROM tk),
        |ch AS (
        |  SELECT doc_id, unnest(list_transform(
        |    generate_series(1, len(cuts) - 1),
        |    k -> array_to_string(
        |      list_slice(w, cuts[k] + 1, cuts[k + 1]), ' '))) AS chunk
        |  FROM c),
        |t AS (
        |  SELECT md5(chunk) AS sig,
        |    CAST(len(string_split(chunk, ' ')) AS BIGINT) AS tok_len
        |  FROM ch),
        |g AS (
        |  SELECT sig, count(*) AS copies, min(tok_len) AS tok_len
        |  FROM t GROUP BY 1)
        |SELECT copies, count(*) AS n_chunk_types,
        |  CAST(sum(tok_len) AS BIGINT) AS n_tokens_stored,
        |  CAST(sum(copies * tok_len) AS BIGINT) AS n_tokens_logical,
        |  round(1 - CAST(sum(tok_len) AS DOUBLE)
        |    / sum(copies * tok_len), 6) AS saved_share
        |FROM g GROUP BY copies ORDER BY copies""".stripMargin,

    "dedup_method_overlap" ->
      s"""WITH RECURSIVE $jaccardCtes, $simhashCtes,
         |cpairs AS (
         |  SELECT doc_a, doc_b FROM common
         |  JOIN sizes s1 ON s1.doc_id = doc_a
         |  JOIN sizes s2 ON s2.doc_id = doc_b
         |  WHERE greatest(round(CAST(c AS DOUBLE) / s1.n, 6),
         |                 round(CAST(c AS DOUBLE) / s2.n, 6))
         |    >= $ContainmentThreshold),
         |u AS (
         |  SELECT doc_a, doc_b, 'm' AS meth FROM jpairs
         |  UNION ALL SELECT doc_a, doc_b, 's' FROM spairs
         |  UNION ALL SELECT doc_a, doc_b, 'c' FROM cpairs),
         |fl AS (
         |  SELECT doc_a, doc_b,
         |    max(CASE WHEN meth = 'm' THEN 1 ELSE 0 END) AS im,
         |    max(CASE WHEN meth = 's' THEN 1 ELSE 0 END) AS isim,
         |    max(CASE WHEN meth = 'c' THEN 1 ELSE 0 END) AS ic
         |  FROM u GROUP BY 1, 2)
         |SELECT im = 1 AS by_minhash, isim = 1 AS by_simhash,
         |  ic = 1 AS by_containment, count(*) AS n_pairs
         |FROM fl GROUP BY 1, 2, 3
         |ORDER BY by_minhash, by_simhash, by_containment""".stripMargin,

    // lateral column aliases keep the squaring chain in ONE select —
    // the arithmetic order mirrors the Spark withColumn chain exactly
    "dedup_minhash_param_planner" ->
      """WITH jg AS (SELECT unnest(generate_series(5, 95, 5)) AS j_pct),
        |cfg(bands, rows_per_band) AS (VALUES
        |  (32, 2), (16, 4), (8, 8), (4, 16), (2, 32)),
        |c AS (
        |  SELECT bands, rows_per_band, j_pct,
        |    CAST(j_pct AS DOUBLE) / 100 AS j
        |  FROM jg CROSS JOIN cfg),
        |p AS (
        |  SELECT bands, rows_per_band, j_pct,
        |    j * j AS s1, s1 * s1 AS s2, s2 * s2 AS s3,
        |    s3 * s3 AS s4, s4 * s4 AS s5
        |  FROM c),
        |q AS (
        |  SELECT bands, rows_per_band, j_pct,
        |    1 - (CASE rows_per_band WHEN 2 THEN s1 WHEN 4 THEN s2
        |         WHEN 8 THEN s3 WHEN 16 THEN s4 ELSE s5 END) AS qq
        |  FROM p),
        |qb AS (
        |  SELECT bands, rows_per_band, j_pct,
        |    qq * qq AS q1, q1 * q1 AS q2, q2 * q2 AS q3, q3 * q3 AS q4
        |  FROM q)
        |SELECT CAST(bands AS BIGINT) AS bands,
        |  CAST(rows_per_band AS BIGINT) AS rows_per_band,
        |  CAST(j_pct AS BIGINT) AS j_pct,
        |  round(1 - (CASE bands WHEN 2 THEN q1 WHEN 4 THEN q2
        |    WHEN 8 THEN q3 WHEN 16 THEN q4 ELSE q4 * q4 END), 6)
        |    AS p_detect
        |FROM qb ORDER BY bands, j_pct""".stripMargin,

    "dedup_token_sort" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    sha256(array_to_string(list_sort(list_filter(
        |      string_split_regex(lower(text), '[^a-z0-9]+'),
        |      x -> x <> '')), ' ')) AS fingerprint,
        |    sha256(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        |      AS exact_fp
        |  FROM documents)
        |SELECT min(doc_id) AS keeper, count(*) AS n_docs,
        |  count(DISTINCT exact_fp) AS n_exact_forms, fingerprint
        |FROM c GROUP BY fingerprint ORDER BY keeper""".stripMargin
  )
}
