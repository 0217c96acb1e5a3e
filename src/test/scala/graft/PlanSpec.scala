package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan regression tests: the scale properties SCALE.md claims are
  * pinned here so a refactor can't silently regress them.
  */
class PlanSpec extends SparkSpec {

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def optimized(df: DataFrame): String =
    df.queryExecution.optimizedPlan.toString


  test("scan_parquet pushes the filter into the parquet scan") {
    val p = plan(SparkEntry.queries("scan_parquet")(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(l_orderkey), LessThan(l_orderkey,1000)]"), p)
  }

  test("projection prunes the read schema to selected columns") {
    val p = plan(SparkEntry.queries("scan_parquet")(spark, sf))
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,"
      + "l_quantity:double,l_extendedprice:double>"), p)
  }

  test("join_broadcast plans a BroadcastHashJoin") {
    val p = plan(SparkEntry.queries("join_broadcast")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("limit_topk plans TakeOrderedAndProject (no global sort)") {
    val p = plan(SparkEntry.queries("limit_topk")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("agg_group does partial aggregation before the shuffle") {
    val p = plan(SparkEntry.queries("agg_group")(spark, sf))
    assert(p.contains("partial_sum"), p)
  }

  test("bucketed join needs no shuffle on either side") {
    // force SMJ (tiny fixtures would broadcast) and check the join subtree
    // has no shuffle exchange: bucketed output partitioning satisfies the
    // join's distribution requirement
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      SparkEntry.queries("join_bucketed")(spark, sf).count() // create tables
      val sfx = sf.replaceAll("[^A-Za-z0-9]", "_")
      val joined = spark.table(s"li_bkt_$sfx")
        .join(spark.table(s"ord_bkt_$sfx"),
          col("l_orderkey") === col("o_orderkey"))
      val p = plan(joined)
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("Exchange hashpartitioning"), p)
      assert(p.contains("SelectedBucketsCount"), p)
    }
  }

  test("naive range join auto-rewrites to a binned equi-join (no BNLJ)") {
    val df = SparkEntry.queries("join_range_auto")(spark, sf)
    val p = plan(df)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the rewrite plants the bin equi-key, so the planner hash-joins
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
    assert(p.contains("_graft_bin"), p)
  }

  test("embedding_pca_power folds dots in-codegen — no vec_id shuffle, " +
    "no hash join, never SMJ") {
    val p = plan(SparkEntry.queries("embedding_pca_power")(spark, sf))
    // the per-vector contraction x·v runs as a zip_with/aggregate fold
    // against the broadcast 1-row direction array: any join on the
    // O(N·d) exploded table, or a shuffle keyed by vec_id, means the
    // round regressed to the exploded-join form
    assert(p.contains("zip_with"), p)
    assert(!p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("hashpartitioning(vec_id"), p)
  }

  test("join_bloom probes before the join and broadcasts the dim") {
    val df = SparkEntry.queries("join_bloom")(spark, sf)
    val p = plan(df)
    // the probe must sit under the join (fact rows drop inside the scan
    // stage, before any exchange), and the dim side must broadcast
    assert(p.contains("bloom_contains"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    val joinIdx = p.indexOf("BroadcastHashJoin")
    val probeIdx = p.indexOf("bloom_contains")
    assert(probeIdx > joinIdx, s"probe not under the join:\n$p")
  }

  test("write_partitioned read-back prunes partitions") {
    val df = SparkEntry.queries("write_partitioned")(spark, sf)
    val p = plan(df)
    assert(p.contains("PartitionFilters: [isnotnull(o_year"), p)
  }

  test("as-of join is a single window pass, not a range join") {
    val p = plan(SparkEntry.queries("join_asof")(spark, sf))
    assert(p.contains("RunningWindowFunction") || p.contains("Window"), p)
    assert(!p.contains("NestedLoop"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("native cosine_sim stays inside whole-stage codegen in projections") {
    graft.functions.CosineSim.register(spark)
    val df = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
      .selectExpr("cosine_sim(v, v) AS c")
    // the `*(n)` prefix marks a WholeStageCodegen stage in the compact
    // plan rendering — the projection containing cosine_sim must carry it
    val p = plan(df)
    assert("\\*\\(\\d+\\) Project \\[cosine_sim".r.findFirstIn(p).isDefined, p)
  }

  test("similarity threshold is pushed into the join (no post-materialize)") {
    // Catalyst folds `cos >= tau` into the BNLJ condition, so non-matching
    // pairs are never projected — the pair scan filters as it goes
    val p = plan(SparkEntry.queries("sim_pairs_threshold")(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert("BroadcastNestedLoopJoin[^\\n]*cosine_sim".r
      .findFirstIn(p).isDefined, p)
  }

  test("dedup_embedding's pair source is banded, not an all-pairs BNLJ") {
    val p = plan(SparkEntry.queries("dedup_embedding")(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("join_range_binned is an equi-join on bins — no pair-space scan") {
    val p = plan(SparkEntry.queries("join_range_binned")(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the physical strategy is Catalyst's call (broadcast at fixture
    // scale, shuffled at corpus scale) — what must hold is that the join
    // is KEYED on the bin
    assert("HashJoin \\[bin".r.findFirstIn(p).isDefined
      || "SortMergeJoin \\[bin".r.findFirstIn(p).isDefined, p)
  }

  test("naive interval join auto-rewrites to a binned equi-join (no BNLJ)") {
    val p = plan(SparkEntry.queries("join_interval_auto")(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("_graft_ivbin"), p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("join_interval_binned is an equi-join on bins — no pair-space scan") {
    val p = plan(SparkEntry.queries("join_interval_binned")(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert("HashJoin \\[bin".r.findFirstIn(p).isDefined
      || "SortMergeJoin \\[bin".r.findFirstIn(p).isDefined, p)
  }

  test("join_interval_overlap equi-joins on bins — no pair-space scan") {
    val p = plan(SparkEntry.queries("join_interval_overlap")(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert("HashJoin \\[bin".r.findFirstIn(p).isDefined
      || "SortMergeJoin \\[bin".r.findFirstIn(p).isDefined, p)
  }

  test("corpus_token_budget windows over score bins, not one global " +
      "partition") {
    // the doc-level prefix sum must be partitioned on the score bin; an
    // UNpartitioned doc window would render as windowspecdefinition
    // starting with the score sort (no partition column) and serialize
    // the corpus through one task. The only bin-ordered global window
    // allowed is the TINY per-bin offset table.
    val p = plan(SparkEntry.queries("corpus_token_budget")(spark, sf))
    assert("windowspecdefinition\\(bin#\\d+L?, score"
      .r.findFirstIn(p).isDefined, p)
    assert(!"windowspecdefinition\\(score".r.findFirstIn(p).isDefined, p)
  }

  test("shard_balance / curriculum_order rank inside buckets, never one " +
      "global doc partition") {
    // the corpus_token_budget discipline: the doc-level rank window must
    // be partitioned on the hash bucket; the only global window allowed
    // is over the 8-row shard audit
    val p1 = plan(SparkEntry.queries("shard_balance")(spark, sf))
    assert("windowspecdefinition\\(bucket#\\d+L?, n_tok"
      .r.findFirstIn(p1).isDefined, p1)
    assert(!"windowspecdefinition\\(n_tok".r.findFirstIn(p1).isDefined, p1)
    val p2 = plan(SparkEntry.queries("curriculum_order")(spark, sf))
    assert("windowspecdefinition\\(bucket#\\d+L?, score"
      .r.findFirstIn(p2).isDefined, p2)
    assert(!"windowspecdefinition\\(score".r.findFirstIn(p2).isDefined, p2)
  }

  test("dedup_incremental probes the band index — no pair-space scan") {
    val p = plan(SparkEntry.queries("dedup_incremental")(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sim_pairs_lsh joins only on band keys — no pair-space scan") {
    val p = plan(SparkEntry.queries("sim_pairs_lsh")(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("dedup_exact shuffles fingerprints, not document text") {
    val p = plan(SparkEntry.queries("dedup_exact")(spark, sf))
    assert(p.contains("hashpartitioning(fingerprint"), p)
    assert(!p.contains("hashpartitioning(norm"), p)
  }

  test("dedup_chunk_cdc shuffles chunk digests, never chunk text") {
    // AQE off for the node walk: the adaptive tree wraps stages in leaf
    // nodes `collect` cannot descend through, and whether exchanges are
    // visible pre-execution depends on what earlier suites cached — the
    // SHAPE under test (what the shuffle carries) is AQE-independent
    withSQLConf("spark.sql.adaptive.enabled" -> "false") {
      val df = SparkEntry.queries("dedup_chunk_cdc")(spark, sf)
      val exchanges = df.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          e
      }
      assert(exchanges.nonEmpty, "expected at least the sig-keyed shuffle")
      exchanges.foreach { e =>
        assert(!e.output.exists(_.name == "chunk"),
          s"a shuffle carries the raw chunk string: ${e.output.map(_.name)}")
      }
      val p = plan(df)
      assert(p.contains("hashpartitioning(sig"), p)
    }
  }

  test("dedup_chunk_cdc digest-only shuffle holds in the DEFAULT AQE-on " +
      "regime (executed-plan walk, VERDICT r11 #6)") {
    // run the query, then flatten the adaptive tree across stage
    // boundaries — the AQE-off twin above pins the same shape where the
    // static tree is walkable; this one proves it in the regime the
    // bench/driver actually run
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val df = SparkEntry.queries("dedup_chunk_cdc")(spark, sf)
    df.collect()
    val nodes = org.apache.spark.sql.graftbridge.Bridge.deepNodes(
      df.queryExecution.executedPlan)
    val exchanges = nodes.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e
    }
    assert(exchanges.nonEmpty, "expected at least the sig-keyed shuffle")
    exchanges.foreach { e =>
      assert(!e.output.exists(_.name == "chunk"),
        s"a shuffle carries the raw chunk string: ${e.output.map(_.name)}")
    }
    assert(exchanges.exists(
      _.outputPartitioning.toString.contains("sig")),
      exchanges.map(_.outputPartitioning).mkString("; "))
  }

  test("sim_ivfpq_topk cell restriction holds in the DEFAULT AQE-on " +
      "regime (executed-plan walk, VERDICT r11 #6)") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val df = SparkEntry.queries("sim_ivfpq_topk")(spark, sf)
    df.collect()
    val nodes = org.apache.spark.sql.graftbridge.Bridge.deepNodes(
      df.queryExecution.executedPlan)
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins
        .CartesianProductExec]),
      "corpus x corpus CartesianProduct in the executed plan")
    val agg = nodes.collectFirst {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec
          if a.aggregateExpressions.exists(_.toString.contains("sum")) &&
            a.groupingExpressions.size == 2 => a
    }
    assert(agg.nonEmpty, "per-(q_id, vec_id) ADC sum aggregate not found")
    val joinsBelow = org.apache.spark.sql.graftbridge.Bridge
      .deepNodes(agg.get).collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }
    assert(joinsBelow.size >= 3,
      s"expected probe+cand+codes+lut joins below the ADC sum, " +
        s"found ${joinsBelow.size}")
  }

  test("text_bm25 broadcasts the df/length scalars and ranks on the heap " +
      "operator, not a global window") {
    val p = plan(SparkEntry.queries("text_bm25")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TopKPerKey"), p)
    assert(!p.contains("Window"), p)
  }

  test("sim_ivfpq_topk restricts to probed cells below the ADC aggregate " +
      "and never goes all-pairs") {
    // AQE off for the node walk (the dedup_chunk_cdc rationale)
    withSQLConf("spark.sql.adaptive.enabled" -> "false") {
      val df = SparkEntry.queries("sim_ivfpq_topk")(spark, sf)
      val p = plan(df)
      // the only nested-loop is the bounded O(Q)×O(C) probe crossJoin;
      // nothing may go corpus × corpus
      assert(!p.contains("CartesianProduct"), p)
      assert(p.contains("TopKPerKey"), p)
      // the candidate (cell) restriction must sit BELOW the per-(q, vec)
      // ADC sum: walking down from that aggregate we must meet the
      // probe/cand/codes/lut joins, not a bare full code-table scan
      val agg = df.queryExecution.executedPlan.collectFirst {
        case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec
            if a.aggregateExpressions.exists(_.toString.contains("sum")) &&
              a.groupingExpressions.size == 2 => a
      }
      assert(agg.nonEmpty, "per-(q_id, vec_id) ADC sum aggregate not found")
      val joinsBelow = agg.get.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }
      assert(joinsBelow.size >= 3,
        s"expected probe+cand+codes+lut joins below the ADC sum, " +
          s"found ${joinsBelow.size}")
    }
  }

  test("q18's HAVING filter runs on aggregated rows, not a subquery scan") {
    val p = plan(SparkEntry.queries("q18_big_orders")(spark, sf))
    assert(p.contains("partial_sum"), p) // map-side combine before shuffle
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q6's predicates all reach the parquet scan") {
    val df = SparkEntry.queries("q6_forecast")(spark, sf)
    val p = plan(df)
    // read the scan's pushed filters directly — the plan's toString
    // truncates the PushedFilters list at ~100 chars (sparkPlan, not
    // executedPlan: the AQE wrapper hides its subtree from collectLeaves)
    val pushed = df.queryExecution.sparkPlan.collectLeaves().collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metadata("PushedFilters")
    }.mkString
    assert(pushed.contains("GreaterThanOrEqual(l_shipdate"), pushed)
    assert(pushed.contains("LessThan(l_quantity,24.0)"), pushed)
    // only the four referenced columns are read from a 11-column table
    assert(p.contains("ReadSchema: struct<l_quantity:double," +
      "l_extendedprice:double,l_discount:double,l_shipdate:timestamp"), p)
  }

  test("contamination_check leaves the gram join UNHINTED — the eval side " +
      "is corpus-proportional, so a forced broadcast would OOM at scale") {
    val df = SparkEntry.queries("contamination_check")(spark, sf)
    // no join-strategy hint anywhere in the optimized plan (a broadcast()
    // call survives optimization as `strategy=broadcast` on the Join
    // node): the strategy is the planner's — shuffle equi-join on gram at
    // scale; AQE may broadcast at runtime from MEASURED sizes, which is
    // bounded in a way a hint is not
    val o = optimized(df)
    assert(!o.contains("strategy=broadcast") && !o.contains("ResolvedHint"), o)
    val p = plan(df)
    assert(p.contains("Join") || p.contains("join"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("kmeans_lloyd never shuffles vectors — only (cluster,dim) stats") {
    val p = plan(SparkEntry.queries("kmeans_lloyd")(spark, sf))
    // assignments are broadcast nested-loop free: both argmax passes are
    // broadcast joins against the (tiny) centroid set
    assert(!p.contains("CartesianProduct"), p)
    // the mean recompute shuffles exploded (cluster, pos, x) triples with
    // map-side partial sums
    assert(p.contains("partial_sum"), p)
  }

  test("join_skew_salted keys the join on (suppkey, salt)") {
    val o = optimized(SparkEntry.queries("join_skew_salted")(spark, sf))
    assert(o.contains("salt"), o)
    val p = plan(SparkEntry.queries("join_skew_salted")(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
  }

  test("AQE splits a skewed join partition at runtime — the production " +
      "path at 100 TB where manual salting isn't wired") {
    // complements join_skew_salted: salting is the explicit design, AQE
    // skew-join is what a cluster does for every join we DIDN'T salt.
    // Plant one hot key (~95% of rows), force a shuffle join (no
    // broadcast), lower the skew thresholds to fixture scale, and pin
    // that the final adaptive plan actually split the hot partition
    // (SortMergeJoin(skew=true) + a skewed AQEShuffleRead).
    val c = spark.conf
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.forceOptimizeSkewedJoin")
    val saved = keys.map(k => k -> c.getOption(k))
    try {
      c.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      c.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      c.set("spark.sql.adaptive.skewJoin.enabled", "true")
      c.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      c.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      c.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      c.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
      // payload is md5 (incompressible — a constant-string payload
      // compresses below the skew threshold and gets COALESCED instead)
      // and must survive column pruning, so the final agg consumes it
      val left = spark.range(200000L)
        .select(
          when(col("id") % 20 === 0, col("id") % 50 + 1).otherwise(lit(0L))
            .as("k"),
          md5(col("id").cast("string")).as("payload"))
      val right = spark.range(51L).select(col("id").as("k"),
        lit("dim").as("name"))
      val joined = left.join(right, "k")
        .select(sum(length(col("payload"))).as("n"))
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"), p)
      assert(p.contains("AQEShuffleRead") && p.contains("skewed"), p)
    } finally saved.foreach {
      case (k, Some(v)) => c.set(k, v)
      case (k, None) => c.unset(k)
    }
  }

  test("join_skew_aqe: the REGISTRY key's executed plan fires the AQE " +
      "skew split (VERDICT r10 #2 — plan evidence, not faith)") {
    // the key itself is the naive unhinted fact-fact join with ~30% of
    // lineitem remapped onto one hot orderkey; the only test-side changes
    // are fixture-scale thresholds (a cluster's defaults — 256 MB skew
    // threshold — never trip on a 6k-row fixture) and no-broadcast so a
    // shuffle join exists to split.
    val c = spark.conf
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.forceOptimizeSkewedJoin",
      "spark.sql.shuffle.partitions")
    val saved = keys.map(k => k -> c.getOption(k))
    try {
      c.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      c.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      c.set("spark.sql.adaptive.skewJoin.enabled", "true")
      c.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      c.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "4KB")
      c.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2KB")
      c.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
      // 32 map-output partitions: the ~600 cold orderkeys spread thin
      // (~2 KB each) while the hot key's ~30% of lineitem lands in ONE —
      // the detection geometry a cluster sees, scaled to fixture bytes
      c.set("spark.sql.shuffle.partitions", "32")
      // AQE splits a skewed partition at MAP-OUTPUT granularity; the
      // single-file fixture yields ONE mapper, making the hot partition
      // one unsplittable chunk. A cluster reads thousands of splits —
      // model that with a 16-file twin of the same tables.
      val dir = "/root/repo/target/tmp/skew_aqe_fixture"
      val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(new org.apache.hadoop.fs.Path(dir))) {
        Seq("lineitem", "orders").foreach { tname =>
          spark.read.parquet(s"$sf/$tname.parquet").repartition(16)
            .write.mode("overwrite").parquet(s"$dir/$tname.parquet")
        }
      }
      val df = SparkEntry.queries("join_skew_aqe")(spark, dir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"), p)
      assert(p.contains("AQEShuffleRead") && p.contains("skewed"), p)
    } finally saved.foreach {
      case (k, Some(v)) => c.set(k, v)
      case (k, None) => c.unset(k)
    }
  }

  test("events_anomaly broadcasts the per-type stats back onto the scan") {
    val p = plan(SparkEntry.queries("events_anomaly")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("graph_pagerank rounds are keyed aggregates with map-side combine") {
    val p = plan(SparkEntry.queries("graph_pagerank")(spark, sf))
    assert(p.contains("partial_sum"), p)
    // the only nested-loop joins are the 1-row n_nodes broadcasts
    assert(!p.contains("CartesianProduct"), p)
    // DEFAULT state mode (spark.graft.graph.broadcastState unset = true):
    // every round joins the O(V) rank table BROADCAST against the cached
    // src-partitioned edges — the entity-graph fast path. The
    // past-the-ceiling form is now a conf flip (VERDICT r9 #1), pinned by
    // the broadcastState=false test below.
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("graph rounds under broadcastState=false: the O(V) state side " +
      "exchanges onto the edge cache's partitioning — the edges move " +
      "NOWHERE (VERDICT r9 #1, the billion-node conf flip)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val c = spark.conf
    val keys = Seq(graft.ops.Graph.StateModeKey,
      "spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.enabled")
    val saved = keys.map(k => k -> c.getOption(k))
    try {
      // mode=false drops OUR hint; threshold=-1 models the regime the
      // flip exists for (a state table whose stats exceed any broadcast
      // ceiling — at fixture scale Catalyst would otherwise re-broadcast
      // on its own stats and the shuffle form would never materialize);
      // AQE off so the pre-execution plan is a concrete walkable tree.
      c.set(graft.ops.Graph.StateModeKey, "false")
      c.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      c.set("spark.sql.adaptive.enabled", "false")
      // Finalize the edge cache BEFORE building the inspected plan: an
      // earlier test may have REGISTERED the cache via a plan-only
      // explain under AQE (InMemoryRelation wrapping a non-final
      // AdaptiveSparkPlan), and an unexecuted adaptive plan reports
      // UnknownPartitioning — the consumer would then re-exchange the
      // edge side, a build-order artifact, not an engine property (the
      // CacheProbe matrix r11: AQE-on consumption reuses the cached
      // exchange at runtime either way; both pure regimes are in-place).
      graft.ops.Graph.edges(spark, sf).count()
      val p = SparkEntry.queries("graph_pagerank")(spark, sf)
        .queryExecution.executedPlan
      def edgeSideInPlace(side: SparkPlan): Boolean =
        side.collectFirst { case s: InMemoryTableScanExec => s }.isDefined &&
          side.collectFirst { case e: ShuffleExchangeExec => e }.isEmpty
      val smjs = p.collect { case j: SortMergeJoinExec => j }
      assert(smjs.nonEmpty, p.toString)
      // the per-round contribution joins serve the cached edge list IN
      // PLACE from its hashpartitioning(src): one side of the SMJ is the
      // bare InMemoryTableScan with no exchange anywhere beneath it
      assert(smjs.exists(j => edgeSideInPlace(j.left)
          || edgeSideInPlace(j.right)),
        s"no SMJ serves the edge cache exchange-free:\n$p")
      // ...and the O(V) rank side is what moves
      assert(p.collectFirst { case e: ShuffleExchangeExec => e }.isDefined,
        p.toString)
      // no state broadcast survives the flip. Tree-walk, NOT a string
      // match: toString prints the memoized edge cache's one-time BUILD
      // plan embedded in the InMemoryRelation dump (broadcast dim join
      // under default confs if an earlier test materialized it), which is
      // not a live per-round join — the operator tree does not descend
      // into the cached relation, so only a real state broadcast trips it.
      assert(p.collectFirst {
        case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
      }.isEmpty, p.toString)
    } finally saved.foreach {
      case (k, Some(v)) => c.set(k, v)
      case (k, None) => c.unset(k)
    }
  }

  test("win_topk_native plans the custom heap operator — no Sort, no Window") {
    val df = SparkEntry.queries("win_topk_native")(spark, sf)
    val p = plan(df)
    // SparkPlan.nodeName strips the Exec suffix in the rendering
    assert(p.contains("TopKPerKey"), p)
    // both phases present: partial (pre-shuffle) and final
    assert("TopKPerKey \\[".r.findAllIn(p).size == 2, p)
    assert(!p.contains("Window"), p)
    // the only sort allowed is the presentation ORDER BY above the
    // operator — the operator subtree itself must not sort. Strip the
    // top-level sort lines and check the remainder.
    val body = p.linesIterator.dropWhile(l => !l.contains("TopKPerKey"))
      .mkString("\n")
    assert(!body.contains("Sort "), body)
  }

  test("RewriteWindowTopK: declarative rn<=k pattern auto-plans the heap " +
      "operator when the rank is dropped") {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val declarative = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(w).as("rn"))
      .filter(col("rn") <= 3)
      .select("o_custkey", "o_orderkey", "o_totalprice") // rank dropped
    val p = plan(declarative)
    assert(p.contains("TopKPerKey"), p)
    assert(!p.contains("Window"), p)
    // and the rewrite changes nothing about the answer
    val viaWindow = SparkEntry.queries("win_topk_group")(spark, sf)
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .orderBy("o_custkey", "o_orderkey").collect().toSeq
    val viaRule = declarative
      .orderBy("o_custkey", "o_orderkey").collect().toSeq
    assert(viaRule == viaWindow)
  }

  test("RewriteWindowTopK leaves the pattern alone when the rank survives") {
    // win_topk_group SELECTS rn — the numbering is observable, so the
    // rewrite must not fire and the plan keeps its Window
    val p = plan(SparkEntry.queries("win_topk_group")(spark, sf))
    assert(p.contains("Window"), p)
    assert(!p.contains("TopKPerKey"), p)
  }

  test("stream_static_join broadcasts the dim side") {
    val p = plan(SparkEntry.queries("stream_static_join")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("salted aggregation folds into two hash aggregates, one scan") {
    val o = optimized(SparkEntry.queries("agg_skew_salted")(spark, sf))
    assert("Relation".r.findAllIn(o).size == 1, o)
    val p = plan(SparkEntry.queries("agg_skew_salted")(spark, sf))
    assert(p.contains("partial_sum"), p)
  }

  test("q13's outer join survives the filter-in-join-condition") {
    // the o_orderpriority filter lives in the join CONDITION; had it
    // leaked into a WHERE, Catalyst would legally convert the LeftOuter
    // to Inner and zero-order customers would vanish
    val o = optimized(SparkEntry.queries("q13_order_counts")(spark, sf))
    assert(o.contains("LeftOuter"), o)
  }

  test("q20's nested IN chain plans as a left-semi join") {
    val o = optimized(SparkEntry.queries("q20_excess_stock")(spark, sf))
    assert(o.contains("LeftSemi"), o)
    val p = plan(SparkEntry.queries("q20_excess_stock")(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q2's per-part MIN combines map-side before the shuffle") {
    val p = plan(SparkEntry.queries("q2_min_cost")(spark, sf))
    assert(p.contains("partial_min"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("sample_per_source_topk plans the native TopKPerKey heap") {
    val p = plan(SparkEntry.queries("sample_per_source_topk")(spark, sf))
    assert(p.contains("TopKPerKey"), p)
  }

  test("KMV sketches find their K smallest hashes with the bounded heap, " +
      "not a 2-task per-set sort window") {
    // partitionBy(set_id) over TWO sets is the single-partition-window
    // anti-pattern in miniature: at 10^8 users each set's full membership
    // serializes through one task's sort. The heap pass keeps O(K) state
    // per task and shuffles only 2K candidate rows.
    Seq("agg_kmv_intersect", "agg_kmv_difference").foreach { k =>
      val p = plan(SparkEntry.queries(k)(spark, sf))
      assert(p.contains("TopKPerKey"), s"$k: $p")
      assert(!p.contains("Window"), s"$k plans a window sort: $p")
    }
  }

  test("embedding_knn_graph is cluster-bounded: heap top-k, no all-pairs " +
      "BNLJ on the corpus side") {
    // the heap operator lives inside the knnEdges memo build, which the
    // r14 MemoScan leaves hide from plan strings — dump unhidden so the
    // pin still reads the executing kernel plan (same string the r13
    // form of this test asserted on)
    withSQLConf("spark.graft.hideCachedPlanTrees" -> "false") {
      val p = plan(SparkEntry.queries("embedding_knn_graph")(spark, sf))
      assert(p.contains("TopKPerKey"), p)
      assert(!p.contains("CartesianProduct"), p)
      // the only nested-loop joins are against the broadcast O(C) centroid
      // list (assignment + probing); the candidate search itself is an
      // equi-join on cluster id
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    }
  }

  test("DSv2 source scan: range filter and column pruning reach the " +
    "connector") {
    val p = plan(SparkEntry.queries("source_pushdown_v2")(spark, sf))
    // the connector's Scan.description surfaces what it actually received
    assert(p.contains("range=[1000,2000)"), p)
    assert(p.contains("cols=[event_id,event_type]"), p)
  }

  test("sample_priority plans TakeOrderedAndProject over a pure " +
    "projection — no global sort, no shuffle before the top-k") {
    val p = plan(SparkEntry.queries("sample_priority")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
    assert(!p.contains("Window"), p)
  }

  test("text_ngram_novelty never goes pairwise — gram-keyed joins only") {
    val p = plan(SparkEntry.queries("text_ngram_novelty")(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_count"), p) // map-side combine on the agg
  }

  test("embedding_centroid_drift folds residuals in-codegen — no vec " +
    "shuffle, vectors never pairwise-join") {
    val p = plan(SparkEntry.queries("embedding_centroid_drift")(spark, sf))
    // residual Σ(x-c)² folds against the broadcast label→centroid map
    // (the pca discipline); a hash join or vec_id shuffle means the
    // exploded-join form regressed
    assert(p.contains("zip_with"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("hashpartitioning(vec_id"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("text_gopher_rules and text_readability are map-only scoring " +
    "passes (no exchange before the output sort)") {
    Seq("text_gopher_rules", "text_readability").foreach { k =>
      val p = plan(SparkEntry.queries(k)(spark, sf)
        // strip the presentation orderBy: the claim is about the scoring
        .limit(1))
      assert(!p.contains("Exchange hashpartitioning"), s"$k:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$k:\n$p")
    }
  }

  test("cdc_apply is one key-shuffle aggregate — no window sort, " +
    "partial max_by before the exchange") {
    val p = plan(SparkEntry.queries("cdc_apply")(spark, sf))
    assert(p.contains("partial_max_by") || p.contains("partial_maxby")
      || p.contains("max_by"), p)
    assert(!p.contains("Window"), p)
    val shuffles = "Exchange hashpartitioning".r
      .findAllMatchIn(p).length
    assert(shuffles <= 1, s"expected <= 1 key shuffle, got $shuffles:\n$p")
  }

  test("embedding_whiten broadcasts the O(d) stats back (no vec-side " +
    "shuffle join)") {
    val p = plan(SparkEntry.queries("embedding_whiten")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("sql_lateral decorrelates to a join — no per-row re-execution") {
    val o = optimized(SparkEntry.queries("sql_lateral")(spark, sf))
    assert(o.contains("Join Inner"), o)
    assert(!o.contains("LateralJoin"), o)
    val p = plan(SparkEntry.queries("sql_lateral")(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("join_spatial_grid probes cells via a hash join on the cell keys") {
    // the cell join executes inside the grid-candidate memo build — dump
    // unhidden (r14 MemoScan) so the pin reads the kernel plan
    withSQLConf("spark.graft.hideCachedPlanTrees" -> "false") {
      val p = plan(SparkEntry.queries("join_spatial_grid")(spark, sf))
      // the 3x3 neighborhood probe must be an EQUI-join keyed on (cx, cy):
      // a probe that degenerates to a loop join over the points would be
      // the O(N * q) disaster the grid exists to avoid. (zInputs' 1-row
      // stats broadcasts legitimately plan as Cross BNLJ — only the cell
      // join is pinned here.)
      assert(p.matches(
        "(?s).*(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \\[cx#.*"),
        p)
      assert(!p.contains("CartesianProduct"), p)
    }
  }

  test("win_theil_sen medians are aggregates, not global-sort windows") {
    val p = plan(SparkEntry.queries("win_theil_sen")(spark, sf))
    // the 3M-pair median must ride the percentile AGGREGATE (partial
    // merge), not a row_number over one partition of all pairs
    assert(p.contains("percentile"), p)
    assert(!p.contains("Window"), p)
  }

  test("sample_systematic builds its global index without a global window") {
    val p = plan(SparkEntry.queries("sample_systematic")(spark, sf))
    // per-bucket ranks are fine (partitionBy bucket); an empty
    // partitionBy would funnel the corpus through one partition
    assert(!p.contains("Window [") ||
      !p.matches("(?s).*Window \\[[^\\]]*\\], \\[\\].*"), p)
    assert(p.contains("hashpartitioning(bucket"), p)
  }

  test("agg_moments_skew_kurt partially aggregates its power sums") {
    val p = plan(SparkEntry.queries("agg_moments_skew_kurt")(spark, sf))
    assert(p.contains("partial_sum") || p.contains("partial_count"), p)
  }

  test("customer_pareto_front stays prefix-max shaped: no nested-loop " +
      "dominance join, entity-sized window partitioned by bin") {
    val df = SparkEntry.queries("customer_pareto_front")(spark, sf)
    val p = plan(df)
    // the r12b form planned the dominance check as a BroadcastNestedLoop
    // LEFT ANTI join over the whole entity table — O(C²) and driver-
    // bound; the binned prefix-max rewrite must never regress to it.
    // (A bare Cross BNLJ remains legitimate: it is the 1-row bounds
    // broadcast, the standard scalar-broadcast shape.)
    assert(!"BroadcastNestedLoopJoin[^\\n]*(LeftAnti|Inner)".r
      .findFirstIn(p).isDefined, p)
    assert(!p.contains("CartesianProduct"), p)
    // the point-level join runs as a hash/SMJ equi-join on spend
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
    // the within-bin window is partitioned (only the <=1024-row bin
    // suffix table may run unpartitioned)
    assert(p.contains("windowspecdefinition(bin"), p)
  }

  test("sample_kcenter rounds are pinned: the returned plan reads the " +
      "materialized chosen set, not the recursion (k scans, not k²)") {
    // building the query materializes each round's accumulated chosen set
    // through ScopedMemo; the DataFrame handed back must therefore be a
    // flat read of the round-4 in-memory table. If any round's pin were
    // dropped, the lazy union-of-TopK recursion would reappear here as
    // joins over the corpus — the O(k²) re-evaluation shape VERDICT r12
    // #1 flagged (round r's broadcast re-running rounds 2..r-1).
    // tree-walk, not a string match: the InMemoryRelation dump embeds its
    // one-time BUILD plan (which legitimately contains the round's
    // broadcast join), but the live operator tree must not.
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.execution.FileSourceScanExec
    val exec = SparkEntry.queries("sample_kcenter")(spark, sf)
      .queryExecution.executedPlan
    val nodes = org.apache.spark.sql.graftbridge.Bridge.deepNodes(exec)
    // under AQE the r14 HideCachedPlanTrees prep rule wraps the cached
    // scan in MemoScanExec (same execution, walk-opaque) — either node
    // proves the plan reads the materialized chosen set
    assert(nodes.exists(n => n.isInstanceOf[InMemoryTableScanExec]
        || n.isInstanceOf[graft.plans.MemoScanExec]),
      exec.toString)
    assert(!nodes.exists(_.isInstanceOf[BaseJoinExec]), exec.toString)
    assert(!nodes.exists(_.isInstanceOf[FileSourceScanExec]),
      exec.toString)
  }

  test("betweenness keeps ALL THREE BFS-layer exclusions in the executed " +
      "memo plans (VERDICT r13 #1: the r13 bipartite shortcut is gone)") {
    // The exclusions execute inside the l2/l3 ScopedMemo builds, which
    // the bench-shape plans hide behind MemoScan leaves — so this pin
    // dumps with hideCachedPlanTrees=false and a FRESH seed count (fresh
    // memo keys, planned entirely under the unhidden regime): the final
    // plan string then embeds each layer's cached build plan, and the
    // one l2 anti-join plus the two l3 anti-joins must all be present.
    withSQLConf("spark.graft.hideCachedPlanTrees" -> "false") {
      val df = graft.ops.Graph.betweennessSampled(spark, sf, 3)
      val p = df.queryExecution.executedPlan.toString
      val antis = "LeftAnti".r.findAllIn(p).size
      assert(antis >= 3,
        s"expected >= 3 LeftAnti layer exclusions in the betweenness " +
          s"plans, found $antis")
    }
  }

  test("MemoScan forwards the cached scan's SQL metrics: numOutputRows " +
      "counts the rows the memo-backed query read") {
    withSQLConf("spark.sql.adaptive.enabled" -> "true",
        "spark.graft.hideCachedPlanTrees" -> "true") {
      val memo = graft.plans.ScopedMemo(spark,
          s"memo_scan_metrics_spec#${System.identityHashCode(this)}")(
        spark.range(0, 100L, 1, 4).toDF("id").withColumn("v", col("id") * 2))
      val q = memo.agg(sum(col("v")))
      // collect(), not head(): head plans a new LIMIT query, so the
      // executed plan inspected below would never have run
      assert(q.collect().head.getLong(0) == (0L until 100L).map(_ * 2).sum)
      val scans = org.apache.spark.sql.graftbridge.Bridge
        .deepNodes(q.queryExecution.executedPlan)
        .collect { case m: graft.plans.MemoScanExec => m }
      assert(scans.nonEmpty, q.queryExecution.executedPlan.toString)
      assert(scans.map(_.metrics.get("numOutputRows").map(_.value)) ==
        Seq(Some(100L)), "MemoScan must report the rows its scan read")
    }
  }

  test("graft.Plans refuses a truncated plan dump and names the env var " +
      "that raises the limit") {
    val df = spark.range(10).toDF("id").filter(col("id") > 3)
      .groupBy(expr("id % 3").as("g")).count()
    assert(Plans.render(df).contains("HashAggregate"))
    withSQLConf("spark.sql.maxPlanStringLength" -> "200") {
      val e = intercept[IllegalStateException](Plans.render(df))
      assert(e.getMessage.contains("SPARK_GRAFT_MAX_PLAN_STR"), e.getMessage)
    }
  }

  private def withSQLConf(pairs: (String, String)*)(f: => Unit): Unit = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
