package graft.ops

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Aggregation operators (SURVEY.md §2B "Aggregations").
  * All money sums go through DECIMAL(18,2) (exact, associative) so partial
  * aggregation + merge order can never perturb the result; Spark's
  * HashAggregate does the partial/final split automatically.
  */
object Aggregates {
  import Tables._

  /** KMV sketch parameters shared by `agg_kmv_intersect` and
    * `agg_kmv_difference`: K smallest 60-bit md5 member hashes per set
    * (16^15 = 2^60 hash space, SQL-mirrorable).
    */
  private val KmvK = 8
  private val KmvM = 1152921504606846976L

  /** Distinct (set_id, user_id, h) membership for the two KMV audiences,
    * memoized per (session, sf): BOTH sketch ops scan it twice (sketch
    * stats + the exact-intersection audit), so the distinct pass and the
    * md5 fold run once per session instead of four times.
    */
  private def kmvMembers(s: SparkSession, d: String): DataFrame =
    graft.plans.ScopedMemo(s, s"agg_kmv_members#$d")(
      events(s, d)
        .filter(col("event_type").isin("purchase", "click"))
        .select(col("event_type").as("set_id"), col("user_id")).distinct()
        .withColumn("h", expr("CAST(conv(substring(md5(" +
          "CAST(user_id AS STRING)), 1, 15), 16, 10) AS BIGINT)")))

  /** Per-set KMV stats `(set_id, n_exact, theta)`: θ is the K-th smallest
    * member hash, degrading to the full hash space M when the set is
    * sub-K (the standard KMV fallback). The K smallest hashes come from
    * the bounded-heap [[graft.plans.TopKPerKey]] operator, NOT a
    * per-set row_number window — partitionBy(set_id) with two sets is a
    * 2-task O(users·log users) sort (the single-partition-window
    * anti-pattern at 10⁸ users), while the heap pass carries O(K) state
    * per task and shuffles only 2·K candidate rows.
    */
  private def kmvStats(s: SparkSession, d: String): DataFrame = {
    val uh = kmvMembers(s, d)
    val topk = graft.plans.TopKPerKey.topK(uh, Seq(col("set_id")),
      Seq(col("h").asc, col("user_id").asc), KmvK)
      .groupBy("set_id")
      .agg(count(lit(1)).as("nk"), max(col("h")).as("h_max"))
    uh.groupBy("set_id").agg(count(lit(1)).as("n_exact"))
      .join(topk, Seq("set_id"), "left")
      .withColumn("theta", when(col("nk") === KmvK, col("h_max"))
        .otherwise(lit(KmvM)))
      .select("set_id", "n_exact", "theta")
  }

  /** Geometric mean as a typed Aggregator (the `udaf_typed` row): buffers
    * (sum of ln, count), merges associatively, finishes with exp(sum/n).
    */
  object GeoMean extends Aggregator[Double, (Double, Long), Double] {
    def zero: (Double, Long) = (0.0, 0L)
    def reduce(b: (Double, Long), x: Double): (Double, Long) =
      (b._1 + math.log(x), b._2 + 1)
    def merge(a: (Double, Long), b: (Double, Long)): (Double, Long) =
      (a._1 + b._1, a._2 + b._2)
    def finish(b: (Double, Long)): Double =
      if (b._2 == 0) 0.0 else math.exp(b._1 / b._2)
    def bufferEncoder: Encoder[(Double, Long)] =
      Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong)
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // flagship TPC-H-Q1-style pricing summary (also SparkEntry.entry)
    "agg_group" -> ((s, d) => q1(s, d)),

    // pivot/crosstab: one column per pivot value, explicit value list so
    // the output schema is static (no extra distinct-values job — the form
    // that scales: a value-discovery pass over 100 TB would be its own
    // full scan)
    "agg_pivot" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_linestatus")
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(moneySum(col("l_quantity")))
        .orderBy("l_linestatus")),

    // correlation from EXACT sufficient statistics: the five sums are
    // exact decimals (associative -> partition-order-proof), and the corr
    // formula is evaluated in double from those exact inputs with the
    // identical expression shape on the oracle side — deterministic where
    // a streaming corr() implementation would be merge-order-dependent
    "agg_corr" -> { (s, d) =>
      val x = money(col("l_quantity"))
      val y = money(col("l_extendedprice"))
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(x).cast("double").as("sx"),
          sum(y).cast("double").as("sy"),
          sum(x * y).cast("double").as("sxy"),
          sum(x * x).cast("double").as("sxx"),
          sum(y * y).cast("double").as("syy"))
        .select(col("l_returnflag"), col("n"),
          round((col("n").cast("double") * col("sxy") - col("sx") * col("sy"))
            / (sqrt(col("n").cast("double") * col("sxx")
                 - col("sx") * col("sx"))
               * sqrt(col("n").cast("double") * col("syy")
                   - col("sy") * col("sy"))), 6)
            .as("corr_qty_price"))
        .orderBy("l_returnflag")
    },

    // per-group least-squares fit (price ~ quantity) from ONE pass of
    // exact-decimal sufficient statistics — NOT the built-in regr_slope/
    // regr_intercept, whose internal double sums are partition-order-
    // dependent. Same n/Σx/Σy/Σxy/Σxx discipline as agg_corr; the final
    // slope/intercept divisions are IEEE on already-exact inputs.
    "agg_regression" -> { (s, d) =>
      val x = money(col("l_quantity"))
      val y = money(col("l_extendedprice"))
      val n = col("n").cast("double")
      val slope = (n * col("sxy") - col("sx") * col("sy")) /
        (n * col("sxx") - col("sx") * col("sx"))
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(x).cast("double").as("sx"),
          sum(y).cast("double").as("sy"),
          sum(x * y).cast("double").as("sxy"),
          sum(x * x).cast("double").as("sxx"))
        .select(col("l_returnflag"), col("n"),
          round(slope, 6).as("slope"),
          round((col("sy") - slope * col("sx")) / n, 6).as("intercept"))
        .orderBy("l_returnflag")
    },

    // arg-max/arg-min: the value of one column at another column's
    // extremum. The ordering key is tie-free by construction: c_custkey is
    // unique per group, and richest_key orders LEXICOGRAPHICALLY on
    // (c_acctbal, c_custkey) via a struct key — max_by over a struct
    // compares field-wise, so acctbal ties break on the unique custkey at
    // any scale factor (the previous epsilon trick, acctbal + custkey *
    // 1e-7, collided once custkey deltas reached ~1e5)
    "agg_minmax_by" -> ((s, d) =>
      t(s, d, "customer")
        .groupBy("c_mktsegment")
        .agg(
          expr("max_by(c_name, c_custkey)").as("last_customer"),
          expr("min_by(c_name, c_custkey)").as("first_customer"),
          expr("max_by(c_custkey, struct(c_acctbal, c_custkey))")
            .as("richest_key"))
        .orderBy("c_mktsegment")),

    // boolean aggregates: every/any per group (flag semantics over data,
    // not metadata — "did every order ship before its receipt" style)
    "agg_bool" -> ((s, d) =>
      t(s, d, "customer")
        .groupBy("c_mktsegment")
        .agg(
          expr("every(c_acctbal > 0)").as("all_positive"),
          expr("any(c_acctbal > 9000)").as("has_whale"),
          count(lit(1)).as("cnt"))
        .orderBy("c_mktsegment")),

    // bitwise aggregates: AND/OR/XOR folds over integer keys — the
    // flag-mask consolidation shape (per-group capability masks, parity
    // checks). All three are commutative+associative, so they partial-
    // aggregate map-side and merge order can never change a bit.
    "agg_bitagg" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(expr("bit_and(l_orderkey)").as("mask_and"),
          expr("bit_or(l_orderkey)").as("mask_or"),
          expr("bit_xor(l_orderkey)").as("parity_xor"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag")),

    "agg_distinct" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          sum_distinct(money(col("l_quantity"))).cast("double").as("sum_dq"))
        .orderBy("l_returnflag")),

    // rollup via spark.sql: DataFrame `.rollup` + post-agg column reuse trips
    // DetectAmbiguousSelfJoin in 4.1 (dataset-id tagging through the Expand),
    // and the SQL form is the same logical plan
    "agg_rollup" -> { (s, d) =>
      t(s, d, "customer")
        .join(broadcast(t(s, d, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .select("r_name", "n_name", "c_acctbal")
        .createOrReplaceTempView(
          s"cust_geo_rollup_${d.replaceAll("[^A-Za-z0-9]", "_")}")
      s.sql(
        s"""SELECT r_name, n_name, count(*) AS cnt,
           |${sql.moneySum("c_acctbal")} AS sum_bal,
           |CAST(grouping(r_name) AS INT) AS g_r,
           |CAST(grouping(n_name) AS INT) AS g_n
           |FROM cust_geo_rollup_${d.replaceAll("[^A-Za-z0-9]", "_")}
           |GROUP BY ROLLUP (r_name, n_name)
           |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin)
    },

    "agg_cube" -> ((s, d) =>
      t(s, d, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"), moneySum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    "agg_grouping_sets" -> { (s, d) =>
      // view name keyed by sf so concurrent scale factors on one session
      // can't clobber each other (same contract as Scans.scratch)
      val v = s"lineitem_gs_${d.replaceAll("[^A-Za-z0-9]", "_")}"
      t(s, d, "lineitem").createOrReplaceTempView(v)
      s.sql(
        s"""SELECT l_returnflag, l_linestatus, count(*) AS cnt,
           |${sql.moneySum("l_quantity")} AS sum_qty
           |FROM $v
           |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
           |ORDER BY l_returnflag ASC NULLS FIRST,
           |         l_linestatus ASC NULLS FIRST""".stripMargin)
    },

    "agg_filtered" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          sum(when(col("l_quantity") < 25, money(col("l_quantity"))))
            .cast("double").as("small_qty"),
          count(when(col("l_discount") > 0.05, lit(1))).as("big_disc_cnt"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag")),

    "agg_collect" -> ((s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_orderkey") <= 2000)
        .groupBy("l_orderkey")
        .agg(concat_ws(",",
          sort_array(collect_list(col("l_linenumber")))).as("lines"))
        .orderBy("l_orderkey")),

    // ANSI LISTAGG ... WITHIN GROUP (Spark 4's ordered string
    // aggregation surface — agg_collect's sort_array(collect_list)
    // expressed the way a SQL user writes it). The WITHIN GROUP order
    // (p_type, then p_partkey tiebreak on duplicates) makes the
    // concatenation deterministic under any partitioning; the group is
    // dimension-bounded (brands × containers), so the strings stay O(1)
    // however many parts exist.
    "agg_listagg" -> ((s, d) =>
      t(s, d, "part")
        .filter(col("p_partkey") <= 200)
        .groupBy("p_brand")
        .agg(expr(
          "listagg(p_type, ',') WITHIN GROUP (ORDER BY p_type, p_partkey)")
          .as("types"),
          count(lit(1)).as("n_parts"))
        .orderBy("p_brand")),

    // HLL sketch; no oracle (approximate) — OperatorSpec checks the bound
    // against an exact count it computes itself
    // HLL++ sketch next to the exact count, reduced to the claim the sketch
    // actually makes: |approx - exact| within 3x the default 5% rsd. The
    // boolean (not the estimate) is what DuckDB mirrors, which moves this
    // key from rows-only into the hash-checked oracle set without changing
    // the operator under test.
    "agg_approx_distinct" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          approx_count_distinct(col("l_partkey")).as("approx_parts"),
          countDistinct(col("l_partkey")).as("n_parts"))
        .select(col("l_returnflag"), col("n_parts"),
          (abs(col("approx_parts") - col("n_parts"))
            <= col("n_parts") * 0.15).as("within_bound"))
        .orderBy("l_returnflag")),

    // HLL precision sweep — the cardinality twin of sim_ivf_nprobe_sweep:
    // the same distinct-user count estimated at three relative-error
    // settings in ONE pass (three HLL++ registersets built side by side,
    // no rescan per setting), each checked against the exact count at
    // the 3σ bound. The tuning table that answers "what rsd do I pay
    // for" before a 100 TB cardinality rollup standardizes on a sketch
    // width. Estimates are engine-specific, so the oracle pins the exact
    // count and the bound verdicts (the agg_approx_distinct discipline).
    "agg_hll_precision_sweep" -> { (s, d) =>
      val rsds = Seq(0.01, 0.023, 0.05)
      val estCols = rsds.zipWithIndex.map { case (r, i) =>
        approx_count_distinct(col("user_id"), r).as(s"e$i") }
      val aggs = estCols :+ countDistinct(col("user_id")).as("nx")
      events(s, d).agg(aggs.head, aggs.tail: _*)
        .select(col("nx"), explode(array(rsds.zipWithIndex.map {
          case (r, i) => struct(lit(r).as("rsd"), col(s"e$i").as("est"))
        }: _*)).as("s"))
        .select(col("s.rsd").as("rsd"), col("nx").as("n_exact"),
          (abs(col("s.est") - col("nx"))
            <= col("nx").cast("double") * col("s.rsd") * 3.0)
            .as("within_bound"))
        .orderBy("rsd")
    },

    // MERGEABLE sketches — the property that matters at 100 TB: per-group
    // DataSketches HLL sketches built in one pass (level 1), then unioned
    // across groups (level 2) and estimated, WITHOUT revisiting the data.
    // That is how distributed cardinality rolls up over
    // partitions/days/tenants; a non-mergeable distinct count would force
    // a full re-scan per rollup level. Checked like agg_approx_distinct:
    // the oracle pins the exact count and asserts the estimate's bound.
    "agg_sketch_union" -> { (s, d) =>
      val perGroup = t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(hll_sketch_agg(col("l_partkey")).as("sk"))
      val exact = t(s, d, "lineitem")
        .agg(countDistinct(col("l_partkey")).as("n_exact"))
      perGroup
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx"))
        .crossJoin(exact)
        .select(col("n_exact"),
          (abs(col("approx") - col("n_exact"))
            <= col("n_exact") * 0.15).as("within_bound"))
    },

    "agg_stats" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
          round(var_samp(col("l_quantity")), 4).as("var_qty"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 4)
            .as("corr_qe"))
        .orderBy("l_returnflag")),

    // two-stage salted aggregation — the skew-mitigation pattern: stage 1
    // spreads each hot key over 16 salt buckets, stage 2 merges. Results
    // are identical to the plain groupBy (decimal sums are associative),
    // which is exactly why the technique is safe at 100 TB.
    "agg_skew_salted" -> ((s, d) =>
      events(s, d)
        .withColumn("salt", pmod(col("event_id"), lit(16)))
        .groupBy("event_type", "salt")
        .agg(count(lit(1)).as("pc"), sum(money(col("value"))).as("ps"))
        .groupBy("event_type")
        .agg(sum(col("pc")).as("cnt"), sum(col("ps")).cast("double")
          .as("sum_val"))
        .orderBy("event_type")),

    // interpolated percentiles: Spark `percentile` and DuckDB
    // `quantile_cont` share the linear-interpolation definition
    "agg_percentile" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          round(expr("percentile(l_quantity, 0.25)"), 4).as("p25"),
          round(expr("percentile(l_quantity, 0.5)"), 4).as("p50"),
          round(expr("percentile(l_quantity, 0.9)"), 4).as("p90"),
          round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50_price"))
        .orderBy("l_returnflag")),

    // sketched quantiles, checked like agg_approx_distinct: the oracle pins
    // the EXACT quantile (integer-valued l_quantity ⇒ interpolation agrees
    // across engines at round(4)) and the estimate must land within the
    // published bound. approx_percentile is the mergeable KLL/GK-style
    // sketch that makes quantiles a one-pass partial aggregate at 100 TB —
    // exact percentile needs the full sorted column per group; the sketch
    // shuffles O(sketch) per partition. accuracy 1000 ⇒ rank error ≤
    // 1/1000, amply inside the ±1-quantity-unit bound asserted here.
    "agg_approx_quantile" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 4).as("p50"),
          round(expr("percentile(l_quantity, 0.95)"), 4).as("p95"),
          expr("approx_percentile(l_quantity, 0.5, 1000)").as("a50"),
          expr("approx_percentile(l_quantity, 0.95, 1000)").as("a95"))
        .select(col("l_returnflag"), col("p50"), col("p95"),
          (abs(col("a50") - col("p50")) <= 1.0
            && abs(col("a95") - col("p95")) <= 1.0).as("within_bound"))
        .orderBy("l_returnflag")),

    "udaf_typed" -> { (s, d) =>
      val geo = udaf(GeoMean)
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(round(geo(col("l_quantity")), 4).as("geo_qty"))
        .orderBy("l_returnflag")
    },

    // fixed-width histogram: bucket id is a pure projection (floor of a
    // division), so the whole histogram is ONE hash aggregate with map-side
    // partials — the O(buckets) answer to "what does this 100 TB column look
    // like", vs the O(rows) sort a percentile-by-rank would need.
    "agg_hist" -> ((s, d) =>
      t(s, d, "lineitem")
        .withColumn("bucket",
          floor(col("l_extendedprice") / 10000).cast("long"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("cnt"),
          moneySum(col("l_extendedprice")).as("sum_price"))
        .orderBy("bucket")),

    // deterministic mode: value counts, then a lexicographic arg-max
    // (highest count, ties to the smallest value) via max_by over a struct —
    // two hash aggregates, no window sort, no engine-arbitrary tie. This is
    // the ADVICE-round lesson (epsilon tie-breaks drift at scale) applied:
    // struct comparison is exact at any sf.
    "agg_mode" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag", "l_quantity")
        .agg(count(lit(1)).as("cnt"))
        .groupBy("l_returnflag")
        .agg(expr("max_by(l_quantity, struct(cnt, -l_quantity))")
          .as("mode_qty"),
          max(col("cnt")).as("mode_cnt"))
        .orderBy("l_returnflag")),

    // weighted average (the aggregation-family gap next to moneyAvg):
    // price-weighted mean discount per return flag — the form every
    // blended-rate metric takes (weighted CTR, revenue-weighted margin).
    // Numerator and denominator each sum in EXACT decimal (w·x products
    // are fixed-scale decimals), one IEEE division at the end — the
    // plain avg-of-ratios vs ratio-of-sums mistake is structurally
    // impossible here. One partial-aggregable hash agg.
    "agg_weighted_avg" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(sum(money(col("l_extendedprice")) * money(col("l_discount")))
          .as("wx"),
          sum(money(col("l_extendedprice"))).as("wsum"),
          count(lit(1)).as("n_rows"))
        .select(col("l_returnflag"), col("n_rows"),
          round(col("wx").cast("double") / col("wsum").cast("double"), 6)
            .as("weighted_avg_discount"),
          col("wsum").cast("double").as("weight_total"))
        .orderBy("l_returnflag")),

    // Count-Min sketch (Cormode–Muthukrishnan): depth-4 × width-64
    // counters over the corpus word stream, queried for the top-50 words
    // against their exact counts — est ≥ exact always, and the
    // overestimate column shows the collision error the width bounds.
    // The hash family is the textbook pairwise-independent
    // ((a·x + b) mod p) mod w over a dense word id, so both engines
    // compute identical buckets in plain BIGINT arithmetic. Scale shape:
    // ONE corpus-linear keyed count, then everything else is vocab-sized
    // (id assignment runs bucket-parallel over the vocabulary, never
    // the corpus — see below); the counter table is O(depth × width) and the
    // estimate join is vocab × depth. The sketch is mergeable by
    // construction (counters sum), the agg_sketch_union property.
    "agg_countmin" -> { (s, d) =>
      val wc = TextOps.wordCounts(s, d)
      // dense-id assignment WITHOUT a vocab-global window (r8 VERDICT:
      // at web scale the vocabulary is 10⁸–10⁹ rows — one global
      // row_number is a one-task sort). Lexicographic 2-char-prefix
      // buckets: bucket order == global word order by construction
      // (string compare is left-to-right, and every word in bucket b
      // starts with b), so global id = bucket offset + in-bucket rank.
      // In-bucket ranks run in parallel over O(#prefixes) buckets; the
      // offset table comes from a bounded O(B²) prefix self-join over
      // the B=O(#prefixes) bucket counts (window-free — a global
      // running-sum window, even over a tiny table, plans as a
      // single-partition WindowExec). Values are IDENTICAL to
      // row_number() OVER (ORDER BY word) — the oracle keeps that
      // one-window formulation as the independent cross-check of the
      // offset arithmetic.
      val W = org.apache.spark.sql.expressions.Window
      val bucketed = wc.withColumn("bkt", substring(col("word"), 1, 2))
      val counts = bucketed.groupBy("bkt").agg(count(lit(1)).as("nb"))
      val offsets = counts.select(col("bkt"), col("nb"))
        .join(counts.select(col("bkt").as("b2"), col("nb").as("nb2")),
          col("b2") < col("bkt"), "left")
        .groupBy("bkt")
        .agg(coalesce(sum(col("nb2")), lit(0L)).as("off"))
      val wid = bucketed
        .withColumn("lrn",
          row_number().over(W.partitionBy("bkt").orderBy("word"))
            .cast("long"))
        .join(broadcast(offsets), "bkt")
        .withColumn("wid", col("off") + col("lrn"))
        .select("word", "cnt", "wid")
      // cached: the counter build AND the estimate join both read this
      // vocab × depth table — uncached, the corpus-linear word count
      // underneath runs twice (measured 4.0 s → ~1 s at sf0.1)
      val hashesPlan = wid.select(col("word"), col("cnt"), col("wid"),
          explode(array(CmsRows.map { case (j, a, b) =>
            struct(lit(j).as("j"), lit(a).as("a"), lit(b).as("b"))
          }: _*)).as("h"))
        .select(col("word"), col("cnt"),
          col("h.j").as("j"),
          (((col("h.a") * col("wid") + col("h.b")) % CmsP) % CmsW)
            .as("bucket"))
      val hashes = graft.plans.ScopedMemo(s, s"countmin_hashes#$d")(
        hashesPlan)
      val counters = hashes.groupBy("j", "bucket")
        .agg(sum(col("cnt")).as("total"))
      hashes.join(counters, Seq("j", "bucket"))
        .groupBy("word")
        .agg(max(col("cnt")).as("exact"), min(col("total")).as("cms_est"))
        .select(col("word"), col("exact"), col("cms_est"),
          (col("cms_est") - col("exact")).as("overestimate"))
        .orderBy(col("exact").desc, col("word"))
        .limit(50)
    },

    // EXACT distinct counting via bitmap words — the ClickHouse/Druid
    // groupBitmap pattern, the scale alternative between countDistinct
    // (shuffles every distinct value) and HLL (approximate): pack ids
    // into 63-bit words keyed by id div 63, OR the words map-side, and
    // popcount at the end. The shuffle carries at most one word per 63
    // ids per partition — for dense id spaces orders of magnitude less
    // traffic than the values themselves, and perfectly mergeable (OR is
    // idempotent + commutative, so partial aggregation is lossless).
    // 63 bits, not 64: DuckDB's checked `<<` raises at 1<<63 where Spark
    // wraps (the bloom_index_prune precedent). The same query carries
    // countDistinct as the self-audit column.
    "agg_bitmap_distinct" -> { (s, d) =>
      val ev = events(s, d)
      val bitmap = ev
        .select(col("event_type"),
          expr("user_id div 63").as("word_idx"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 63 AS INT))")
            .as("bit"))
        .groupBy("event_type", "word_idx")
        .agg(expr("bit_or(bit)").as("word"))
        .groupBy("event_type")
        .agg(sum(expr("CAST(bit_count(word) AS BIGINT)"))
          .as("n_distinct_bitmap"),
          count(lit(1)).as("n_words"))
      val exact = ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_distinct_exact"))
      bitmap.join(exact, "event_type")
        .select(col("event_type"), col("n_distinct_bitmap"),
          col("n_distinct_exact"), col("n_words"),
          (col("n_distinct_bitmap") === col("n_distinct_exact"))
            .as("bitmap_exact"))
        .orderBy("event_type")
    },

    // K-minimum-values (theta-sketch) set intersection: estimate
    // |purchasers ∩ clickers| from each set's K smallest member hashes —
    // the mergeable-sketch answer to "overlap of two huge audiences"
    // where exact intersection would shuffle both full sets. θ =
    // min(θ_A, θ_B); common members hashing below θ scale up by M/θ.
    // When a set holds fewer than K members its θ degrades to the full
    // hash space and the estimate IS the exact count (the standard KMV
    // fallback), so the op is well-defined at every fixture SF. Hashes
    // are 60-bit md5 prefixes (exactly mirrorable in SQL); the only
    // doubles are the final scale-ups. Exact counts ride along as the
    // in-query audit.
    "agg_kmv_intersect" -> { (s, d) =>
      val K = KmvK
      val M = KmvM
      val uh = kmvMembers(s, d)
      val stats = kmvStats(s, d)
      val a = stats.filter(col("set_id") === "purchase")
        .select(col("n_exact").as("n_a"), col("theta").as("theta_a"))
      val b = stats.filter(col("set_id") === "click")
        .select(col("n_exact").as("n_b"), col("theta").as("theta_b"))
      val pur = uh.filter(col("set_id") === "purchase")
        .select(col("user_id"), col("h"))
      val clk = uh.filter(col("set_id") === "click")
        .select(col("user_id"))
      pur.join(clk, "user_id")
        .crossJoin(broadcast(a.crossJoin(b)))
        .withColumn("theta", least(col("theta_a"), col("theta_b")))
        .agg(max(col("n_a")).as("n_a_exact"),
          max(col("n_b")).as("n_b_exact"),
          round(when(max(col("n_a")) < K,
              max(col("n_a")).cast("double"))
            .otherwise(lit((K - 1).toDouble) * lit(M.toDouble)
              / max(col("theta_a")).cast("double")), 4).as("est_a"),
          round(when(max(col("n_b")) < K,
              max(col("n_b")).cast("double"))
            .otherwise(lit((K - 1).toDouble) * lit(M.toDouble)
              / max(col("theta_b")).cast("double")), 4).as("est_b"),
          count(lit(1)).as("n_common_exact"),
          round(sum(when(col("h") < col("theta"), 1L).otherwise(0L))
              .cast("double") * lit(M.toDouble)
            / max(col("theta")).cast("double"), 4).as("est_common"))
    },

    // KMV (theta-sketch) JACCARD — the third view of the same two
    // sketches (intersect, difference, similarity): J ≈ est(∩)/est(∪)
    // with est(∪) = est(A) + est(B) − est(∩), clamped to [0, 1], next
    // to the exact Jaccard as in-query audit. The set-algebra closure
    // that makes theta sketches an audience ALGEBRA rather than a
    // counter: any overlap/affinity score derives from the same K
    // hashes per set, no rescan. Same estimator forms as the intersect
    // op (unrounded intermediates, one final round each).
    "agg_kmv_jaccard" -> { (s, d) =>
      val K = KmvK
      val M = KmvM
      val uh = kmvMembers(s, d)
      val stats = kmvStats(s, d)
      val a = stats.filter(col("set_id") === "purchase")
        .select(col("n_exact").as("n_a"), col("theta").as("theta_a"))
      val b = stats.filter(col("set_id") === "click")
        .select(col("n_exact").as("n_b"), col("theta").as("theta_b"))
      val pur = uh.filter(col("set_id") === "purchase")
        .select(col("user_id"), col("h"))
      val clk = uh.filter(col("set_id") === "click")
        .select(col("user_id"))
      val estA = when(max(col("n_a")) < K, max(col("n_a")).cast("double"))
        .otherwise(lit((K - 1).toDouble) * lit(M.toDouble)
          / max(col("theta_a")).cast("double"))
      val estB = when(max(col("n_b")) < K, max(col("n_b")).cast("double"))
        .otherwise(lit((K - 1).toDouble) * lit(M.toDouble)
          / max(col("theta_b")).cast("double"))
      val estC = sum(when(col("h") < col("theta"), 1L).otherwise(0L))
        .cast("double") * lit(M.toDouble) /
        max(col("theta")).cast("double")
      pur.join(clk, Seq("user_id"))
        .crossJoin(broadcast(a.crossJoin(b)))
        .withColumn("theta", least(col("theta_a"), col("theta_b")))
        .agg(
          count(lit(1)).as("n_common_exact"),
          round(count(lit(1)).cast("double")
            / (max(col("n_a")) + max(col("n_b")) - count(lit(1)))
              .cast("double"), 6).as("jaccard_exact"),
          round(least(lit(1d), greatest(lit(0d),
            estC / (estA + estB - estC))), 4).as("jaccard_est"))
    },

    // KMV (theta-sketch) set DIFFERENCE — the a-not-b companion to
    // agg_kmv_intersect: |A∖B| ≈ est(A) − est(A∩B), clamped at 0 (the
    // estimator can go slightly negative when the intersection estimate
    // overshoots), both directions from the SAME two sketches — the
    // mergeable-sketch point: audience subtraction ("purchasers who never
    // clicked") without ever shuffling either full set. Same 60-bit md5
    // hash family and K=8 as the intersect op; exact anti-join counts
    // ride along as the in-query audit; the only doubles are the final
    // scale-ups, subtracted before one round(·,4).
    "agg_kmv_difference" -> { (s, d) =>
      val K = KmvK
      val M = KmvM
      val uh = kmvMembers(s, d)
      val stats = kmvStats(s, d)
      val a = stats.filter(col("set_id") === "purchase")
        .select(col("n_exact").as("n_a"), col("theta").as("theta_a"))
      val b = stats.filter(col("set_id") === "click")
        .select(col("n_exact").as("n_b"), col("theta").as("theta_b"))
      val pur = uh.filter(col("set_id") === "purchase")
        .select(col("user_id"), col("h"))
      val clk = uh.filter(col("set_id") === "click")
        .select(col("user_id"))
      val estA = when(max(col("n_a")) < K, max(col("n_a")).cast("double"))
        .otherwise(lit((K - 1).toDouble) * lit(M.toDouble)
          / max(col("theta_a")).cast("double"))
      val estB = when(max(col("n_b")) < K, max(col("n_b")).cast("double"))
        .otherwise(lit((K - 1).toDouble) * lit(M.toDouble)
          / max(col("theta_b")).cast("double"))
      val estCommon = sum(when(col("h") < col("theta"), 1L).otherwise(0L))
        .cast("double") * lit(M.toDouble) / max(col("theta")).cast("double")
      pur.join(clk, Seq("user_id"))
        .crossJoin(broadcast(a.crossJoin(b)))
        .withColumn("theta", least(col("theta_a"), col("theta_b")))
        .agg(
          (max(col("n_a")) - count(lit(1))).as("diff_ab_exact"),
          (max(col("n_b")) - count(lit(1))).as("diff_ba_exact"),
          round(greatest(estA - estCommon, lit(0d)), 4).as("est_diff_ab"),
          round(greatest(estB - estCommon, lit(0d)), 4).as("est_diff_ba"))
    },

    // equi-DEPTH histogram: 16 quantile buckets of order value — the
    // boundary-planning pass behind range partitioning and sort-merge
    // balancing (equi-WIDTH is agg_hist; depth answers "where do I cut
    // so every partition holds the same row count"). The 15 boundaries
    // come from ONE percentile aggregate (no global sort window — the
    // RangePartitioner discipline: boundaries from a bounded summary,
    // assignment map-side), rounded to the cent grid so the bucket test
    // is an exact money comparison, then broadcast; each row buckets via
    // an in-row fold over the 15-element array.
    "agg_equidepth_hist" -> { (s, d) =>
      val fracs = (1 to 15).map(i => (i / 16.0).toString).mkString(", ")
      val bs = t(s, d, "orders").agg(expr(
        s"transform(percentile(o_totalprice, array($fracs)), " +
          "x -> round(x, 2))").as("bs"))
      t(s, d, "orders").crossJoin(broadcast(bs))
        .withColumn("bucket", expr("aggregate(bs, 0, (acc, x) -> " +
          "acc + CASE WHEN o_totalprice > x THEN 1 ELSE 0 END)"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_orders"),
          round(min(col("o_totalprice")), 2).as("lo"),
          round(max(col("o_totalprice")), 2).as("hi"),
          moneySum(col("o_totalprice")).as("sum_price"))
        .orderBy("bucket")
    },

    // third/fourth-moment shape statistics per return flag: population
    // skewness and excess kurtosis of quantity — the distribution-shape
    // audit second moments can't see (agg_stats reads spread; this
    // reads asymmetry and tail weight, the pair a sampling design
    // checks before trusting a mean). All four power sums are EXACT
    // integers (quantity is integral ≤ 50, q⁴ ≤ 6.25e6 — sums < 2^53
    // at any fixture sf and partial-agg-order-proof), so the only
    // doubles are the closed-form moment formulas, mirrored term by
    // term in the oracle (m2^1.5 is m2·sqrt(m2), never libm pow —
    // sqrt is IEEE-correctly-rounded, pow is not). One fully
    // partial-aggregable pass.
    "agg_moments_skew_kurt" -> { (s, d) =>
      t(s, d, "lineitem")
        .withColumn("q", col("l_quantity").cast("long"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum(col("q")).as("s1"),
          sum(expr("q * q")).as("s2"),
          sum(expr("q * q * q")).as("s3"),
          sum(expr("q * q * q * q")).as("s4"))
        .withColumn("m1", col("s1").cast("double") / col("n"))
        .withColumn("m2",
          col("s2").cast("double") / col("n") - col("m1") * col("m1"))
        .withColumn("m3",
          col("s3").cast("double") / col("n")
            - lit(3d) * col("m1") * (col("s2").cast("double") / col("n"))
            + lit(2d) * col("m1") * col("m1") * col("m1"))
        .withColumn("m4",
          col("s4").cast("double") / col("n")
            - lit(4d) * col("m1") * (col("s3").cast("double") / col("n"))
            + lit(6d) * col("m1") * col("m1")
              * (col("s2").cast("double") / col("n"))
            - lit(3d) * col("m1") * col("m1") * col("m1") * col("m1"))
        .select(col("l_returnflag"), col("n"),
          round(col("m1"), 6).as("mean_qty"),
          round(col("m3") / (col("m2") * sqrt(col("m2"))), 6)
            .as("skewness"),
          round(col("m4") / (col("m2") * col("m2")) - lit(3d), 6)
            .as("excess_kurtosis"))
        .orderBy("l_returnflag")
    },

    // robust means per priority: 5%-winsorized (tails clamped to
    // P5/P95) and 5%-trimmed (tails dropped) order values next to the
    // plain mean — the outlier-resistant pair a pricing/SLA review
    // reads when a handful of mega-orders would otherwise own the
    // average. The clamped sum is DECOMPOSED so no clamped double is
    // ever re-aggregated: winsorized mean = (Σ_mid + n_low·p5 +
    // n_high·p95)/n with Σ_mid an exact-decimal sum of the UNclamped
    // middle and the two bound terms exact-count × scalar products;
    // trimmed mean = Σ_mid/(n−n_low−n_high). Percentile bounds ride
    // the percentile aggregate (quantile_cont oracle twin). Two keyed
    // passes over the fact table, both partial-aggregable.
    "agg_winsorized_mean" -> { (s, d) =>
      val bounds = t(s, d, "orders")
        .groupBy("o_orderpriority")
        .agg(expr("percentile(CAST(o_totalprice AS DOUBLE), 0.05)")
          .as("p5"),
          expr("percentile(CAST(o_totalprice AS DOUBLE), 0.95)")
            .as("p95"))
      t(s, d, "orders")
        .join(broadcast(bounds), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(money(col("o_totalprice"))).as("s_all"),
          sum(when(col("o_totalprice").cast("double") >= col("p5")
              && col("o_totalprice").cast("double") <= col("p95"),
            money(col("o_totalprice")))).as("s_mid"),
          sum(when(col("o_totalprice").cast("double") < col("p5"), 1L)
            .otherwise(0L)).as("n_low"),
          sum(when(col("o_totalprice").cast("double") > col("p95"), 1L)
            .otherwise(0L)).as("n_high"),
          first(col("p5")).as("p5"), first(col("p95")).as("p95"))
        .select(col("o_orderpriority"), col("n"),
          round(col("s_all").cast("double") / col("n"), 6).as("mean_raw"),
          round((col("s_mid").cast("double")
            + col("n_low").cast("double") * col("p5")
            + col("n_high").cast("double") * col("p95")) / col("n"), 6)
            .as("mean_winsorized"),
          round(col("s_mid").cast("double")
            / (col("n") - col("n_low") - col("n_high")), 6)
            .as("mean_trimmed"))
        .orderBy("o_orderpriority")
    },

    // delta-method CI for a RATIO metric (revenue per event, randomized
    // by user) — the experimentation-stack piece naive per-user
    // averaging gets wrong: the estimand is Σy/Σx, whose variance needs
    // the delta method var(R) ≈ (σ²_y − 2R·cov + R²σ²_x)/(n·μ²_x)
    // because numerator and denominator share the user. One
    // user-collapse pass to five exact moments per arm (x counts are
    // integers, y sums exact decimals, cross products exact decimals);
    // the closed form + z-literal CI run in mirrored IEEE doubles.
    "agg_ratio_delta_method" -> { (s, d) =>
      val u = events(s, d).groupBy("user_id")
        .agg(count(lit(1)).as("x"),
          sum(money(col("value"))).cast("decimal(14,2)").as("y"))
        .withColumn("arm",
          when(substring(md5(col("user_id").cast("string")), 1, 1) < "8",
            "control").otherwise("treatment"))
      u.groupBy("arm")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(expr("x * x")).as("sxx"),
          sum(expr("x * y")).as("sxy"), sum(expr("y * y")).as("syy"))
        .withColumn("nd", col("n").cast("double"))
        .withColumn("mx", col("sx").cast("double") / col("nd"))
        .withColumn("my", col("sy").cast("double") / col("nd"))
        .withColumn("r",
          col("sy").cast("double") / col("sx").cast("double"))
        .withColumn("vx",
          col("sxx").cast("double") / col("nd") - col("mx") * col("mx"))
        .withColumn("vy",
          col("syy").cast("double") / col("nd") - col("my") * col("my"))
        .withColumn("cxy",
          col("sxy").cast("double") / col("nd") - col("mx") * col("my"))
        .withColumn("se", sqrt(greatest(lit(0d),
          (col("vy") - lit(2d) * col("r") * col("cxy")
            + col("r") * col("r") * col("vx"))
            / (col("nd") * col("mx") * col("mx")))))
        .select(col("arm"), col("n").as("n_users"),
          round(col("r"), 6).as("ratio"),
          round(col("se"), 6).as("se"),
          round(col("r") - lit(1.959964d) * col("se"), 6).as("ci_lo"),
          round(col("r") + lit(1.959964d) * col("se"), 6).as("ci_hi"))
        .orderBy("arm")
    },

    // Benford first-digit audit on order totals — the forensic screen
    // auditors run on financial columns (fabricated or range-capped
    // amounts flunk it; a synthetic bounded-range total SHOULD flunk,
    // and the table says so with a χ² that both engines reproduce
    // bit-for-bit). Expected shares are the nine log₁₀(1+1/d) values
    // as LITERALS — never a runtime log call — and the χ² fold is a
    // decimal sum of round(·,9) per-digit terms (cross-row double sums
    // are the one thing this file never does). First digit comes off
    // the exact DECIMAL's string form, identical on both engines.
    "agg_benford_audit" -> { (s, d) =>
      val expArr = "array(0.301029995663981, 0.176091259055681," +
        " 0.124938736608299, 0.096910013008056, 0.079181246047625," +
        " 0.066946789630613, 0.057991946977687, 0.051152522447381," +
        " 0.045757490560675)"
      val wAll = org.apache.spark.sql.expressions.Window.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
      t(s, d, "orders")
        .select(expr("CAST(substring(CAST(CAST(o_totalprice" +
          " AS DECIMAL(18,2)) AS STRING), 1, 1) AS INT)").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n_obs"))
        .withColumn("n", sum(col("n_obs")).over(wAll))
        .withColumn("exp_share",
          expr(s"CAST(element_at($expArr, digit) AS DOUBLE)"))
        .withColumn("term", expr(
          """CAST(round(
            |  (CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE) * exp_share)
            |  * (CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE) * exp_share)
            |  / (CAST(n AS DOUBLE) * exp_share), 9)
            |AS DECIMAL(20,9))""".stripMargin))
        .withColumn("chi2",
          sum(col("term")).over(wAll).cast("double"))
        .select(col("digit").cast("long").as("digit"), col("n_obs"),
          round(col("n_obs").cast("double") / col("n"), 6)
            .as("obs_share"),
          round(col("exp_share"), 6).as("exp_share"),
          round(col("chi2"), 4).as("chi2"),
          (col("chi2") < 15.507).as("benford_pass"))
        .orderBy("digit")
    }
  )

  /** Count-Min hash family: (j, a, b) rows of ((a·id + b) mod P) mod W —
    * LCG-style constants, mirrored verbatim in the oracle SQL.
    */
  val CmsRows: Seq[(Long, Long, Long)] = Seq(
    (0L, 1103515245L, 12345L), (1L, 214013L, 2531011L),
    (2L, 69069L, 1234567L), (3L, 1664525L, 1013904223L))
  val CmsP = 2147483647L
  val CmsW = 64L

  /** The `(VALUES ...)` twin of [[CmsRows]]. */
  val cmsRowsSql: String = CmsRows
    .map { case (j, a, b) => s"($j, $a, $b)" }.mkString(", ")

  /** TPC-H Q1 analog; cites reference `core.py:108-110` (run_job is the only
    * computation hook there — this is the kind of body a child job supplies).
    */
  def q1(s: SparkSession, d: String): DataFrame = {
    val disc = discPrice(col("l_extendedprice"), col("l_discount"))
    t(s, d, "lineitem")
      .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-01 00:00:00")))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        moneySum(col("l_quantity")).as("sum_qty"),
        moneySum(col("l_extendedprice")).as("sum_base"),
        sum(disc).cast("double").as("sum_disc"),
        sum(disc * frac(lit(1) + money(col("l_tax")))).cast("double")
          .as("sum_charge"),
        moneyAvg(col("l_quantity")).as("avg_qty"),
        count(lit(1)).as("cnt"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  private val q1Sql = {
    val disc = sql.discPrice("l_extendedprice", "l_discount")
    s"""SELECT l_returnflag, l_linestatus,
       |${sql.moneySum("l_quantity")} AS sum_qty,
       |${sql.moneySum("l_extendedprice")} AS sum_base,
       |CAST(sum($disc) AS DOUBLE) AS sum_disc,
       |CAST(sum($disc * CAST(1 + ${sql.money("l_tax")} AS DECIMAL(8,2)))
       |  AS DOUBLE) AS sum_charge,
       |${sql.moneyAvg("l_quantity")} AS avg_qty,
       |count(*) AS cnt
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin
  }

  def oracle: Map[String, String] = Map(
    "agg_group" -> q1Sql,
    "agg_pivot" ->
      s"""SELECT l_linestatus,
         |CAST(sum(${sql.money("l_quantity")})
         |  FILTER (WHERE l_returnflag = 'A') AS DOUBLE) AS "A",
         |CAST(sum(${sql.money("l_quantity")})
         |  FILTER (WHERE l_returnflag = 'N') AS DOUBLE) AS "N",
         |CAST(sum(${sql.money("l_quantity")})
         |  FILTER (WHERE l_returnflag = 'R') AS DOUBLE) AS "R"
         |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,
    "agg_regression" ->
      """WITH m AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS sy,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
        |           * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS sxy,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
        |           * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  round((CAST(n AS DOUBLE) * sxy - sx * sy)
        |    / (CAST(n AS DOUBLE) * sxx - sx * sx), 6) AS slope,
        |  round((sy - (CAST(n AS DOUBLE) * sxy - sx * sy)
        |    / (CAST(n AS DOUBLE) * sxx - sx * sx) * sx)
        |    / CAST(n AS DOUBLE), 6) AS intercept
        |FROM m ORDER BY l_returnflag""".stripMargin,
    "agg_corr" ->
      """WITH m AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
        |           * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
        |           * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  round((CAST(n AS DOUBLE) * sxy - sx * sy)
        |    / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
        |       * sqrt(CAST(n AS DOUBLE) * syy - sy * sy)), 6)
        |    AS corr_qty_price
        |FROM m ORDER BY l_returnflag""".stripMargin,
    // DuckDB 1.0 arg_max takes no composite key, so the lexicographic
    // (c_acctbal, c_custkey) arg-max is mirrored as "max custkey among the
    // rows at the group-max acctbal" via a window
    "agg_minmax_by" ->
      """SELECT c_mktsegment,
        |arg_max(c_name, c_custkey) AS last_customer,
        |arg_min(c_name, c_custkey) AS first_customer,
        |max(c_custkey) FILTER (c_acctbal = mb) AS richest_key
        |FROM (SELECT *, max(c_acctbal)
        |        OVER (PARTITION BY c_mktsegment) AS mb FROM customer)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment"""
        .stripMargin,
    // bit_and/bit_or/bit_xor exist verbatim in DuckDB; HUGEINT-safe casts
    "agg_bitagg" ->
      """SELECT l_returnflag,
        |CAST(bit_and(l_orderkey) AS BIGINT) AS mask_and,
        |CAST(bit_or(l_orderkey) AS BIGINT) AS mask_or,
        |CAST(bit_xor(l_orderkey) AS BIGINT) AS parity_xor,
        |count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""
        .stripMargin,
    "agg_bool" ->
      """SELECT c_mktsegment,
        |bool_and(c_acctbal > 0) AS all_positive,
        |bool_or(c_acctbal > 9000) AS has_whale,
        |count(*) AS cnt
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment"""
        .stripMargin,
    // the sketch estimate itself is engine-specific; the oracle checks the
    // exact count and asserts the accuracy claim held
    "agg_approx_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        |TRUE AS within_bound
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""
        .stripMargin,
    "agg_sketch_union" ->
      """SELECT count(DISTINCT l_partkey) AS n_exact,
        |TRUE AS within_bound FROM lineitem""".stripMargin,
    "agg_hll_precision_sweep" ->
      """WITH x AS (
        |  SELECT count(DISTINCT user_id) AS n_exact FROM events)
        |SELECT CAST(rsd AS DOUBLE) AS rsd, n_exact,
        |  TRUE AS within_bound
        |FROM x CROSS JOIN (
        |  SELECT unnest([0.01, 0.023, 0.05]) AS rsd)
        |ORDER BY rsd""".stripMargin,
    "agg_approx_quantile" ->
      """SELECT l_returnflag,
        |round(quantile_cont(l_quantity, 0.5), 4) AS p50,
        |round(quantile_cont(l_quantity, 0.95), 4) AS p95,
        |TRUE AS within_bound
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""
        .stripMargin,
    "agg_distinct" ->
      s"""SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
         |CAST(sum(DISTINCT ${sql.money("l_quantity")}) AS DOUBLE) AS sum_dq
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_rollup" ->
      s"""SELECT r_name, n_name, count(*) AS cnt,
         |${sql.moneySum("c_acctbal")} AS sum_bal,
         |CAST(grouping(r_name) AS INT) AS g_r,
         |CAST(grouping(n_name) AS INT) AS g_n
         |FROM customer
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY ROLLUP (r_name, n_name)
         |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,
    "agg_cube" ->
      s"""SELECT l_returnflag, l_linestatus, count(*) AS cnt,
         |${sql.moneySum("l_quantity")} AS sum_qty
         |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "agg_grouping_sets" ->
      s"""SELECT l_returnflag, l_linestatus, count(*) AS cnt,
         |${sql.moneySum("l_quantity")} AS sum_qty
         |FROM lineitem
         |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
         |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "agg_filtered" ->
      s"""SELECT l_returnflag,
         |CAST(sum(${sql.money("l_quantity")})
         |  FILTER (WHERE l_quantity < 25) AS DOUBLE) AS small_qty,
         |count(*) FILTER (WHERE l_discount > 0.05) AS big_disc_cnt,
         |count(*) AS cnt
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_collect" ->
      """SELECT l_orderkey,
        |string_agg(l_linenumber, ',' ORDER BY l_linenumber) AS lines
        |FROM lineitem WHERE l_orderkey <= 2000
        |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,
    // DuckDB's ordered string_agg == Spark's LISTAGG WITHIN GROUP
    "agg_listagg" ->
      """SELECT p_brand,
        |string_agg(p_type, ',' ORDER BY p_type, p_partkey) AS types,
        |count(*) AS n_parts
        |FROM part WHERE p_partkey <= 200
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "agg_stats" ->
      """SELECT l_returnflag,
        |round(stddev_samp(l_quantity), 4) AS sd_qty,
        |round(var_samp(l_quantity), 4) AS var_qty,
        |round(corr(l_quantity, l_extendedprice), 4) AS corr_qe
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "udaf_typed" ->
      """SELECT l_returnflag,
        |round(exp(avg(ln(l_quantity))), 4) AS geo_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_skew_salted" ->
      s"""SELECT event_type, count(*) AS cnt,
         |${sql.moneySum("value")} AS sum_val
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "agg_percentile" ->
      """SELECT l_returnflag,
        |round(quantile_cont(l_quantity, 0.25), 4) AS p25,
        |round(quantile_cont(l_quantity, 0.5), 4) AS p50,
        |round(quantile_cont(l_quantity, 0.9), 4) AS p90,
        |round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_hist" ->
      s"""SELECT CAST(floor(l_extendedprice / 10000) AS BIGINT) AS bucket,
         |count(*) AS cnt, ${sql.moneySum("l_extendedprice")} AS sum_price
         |FROM lineitem GROUP BY 1 ORDER BY bucket""".stripMargin,
    // DuckDB 1.0 arg_max takes no composite key, so the oracle mirrors the
    // lexicographic arg-max with a window (graft-bench-notes pattern)
    "agg_mode" ->
      """WITH c AS (
        |  SELECT l_returnflag, l_quantity, count(*) AS cnt
        |  FROM lineitem GROUP BY 1, 2),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY l_returnflag
        |    ORDER BY cnt DESC, l_quantity ASC) AS rn
        |  FROM c)
        |SELECT l_returnflag, l_quantity AS mode_qty, cnt AS mode_cnt
        |FROM r WHERE rn = 1 ORDER BY l_returnflag""".stripMargin,
    "agg_weighted_avg" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
        |    / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE),
        |    6) AS weighted_avg_discount,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS weight_total
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // identical LCG hash family in BIGINT; sums cast out of HUGEINT
    "agg_countmin" ->
      s"""WITH wc AS (
         |  SELECT word, count(*) AS cnt
         |  FROM (SELECT unnest(string_split(lower(trim(text)), ' '))
         |          AS word
         |        FROM documents) t
         |  GROUP BY word),
         |wid AS (
         |  SELECT word, cnt,
         |    CAST(row_number() OVER (ORDER BY word) AS BIGINT) AS wid
         |  FROM wc),
         |hs AS (
         |  SELECT word, cnt, h.j,
         |    ((h.a * wid + h.b) % ${CmsP}) % ${CmsW} AS bucket
         |  FROM wid CROSS JOIN (VALUES $cmsRowsSql) h(j, a, b)),
         |ctr AS (
         |  SELECT j, bucket, CAST(sum(cnt) AS BIGINT) AS total
         |  FROM hs GROUP BY j, bucket),
         |est AS (
         |  SELECT word, max(cnt) AS exact, min(total) AS cms_est
         |  FROM hs JOIN ctr USING (j, bucket)
         |  GROUP BY word)
         |SELECT word, exact, cms_est, cms_est - exact AS overestimate
         |FROM est ORDER BY exact DESC, word LIMIT 50""".stripMargin,

    "agg_bitmap_distinct" ->
      """WITH words AS (
        |  SELECT event_type, user_id // 63 AS word_idx,
        |    bit_or(CAST(1 AS BIGINT) << CAST(user_id % 63 AS INTEGER))
        |      AS word
        |  FROM events GROUP BY 1, 2),
        |bm AS (
        |  SELECT event_type,
        |    CAST(sum(CAST(bit_count(word) AS BIGINT)) AS BIGINT)
        |      AS n_distinct_bitmap,
        |    count(*) AS n_words
        |  FROM words GROUP BY 1),
        |ex AS (
        |  SELECT event_type, count(DISTINCT user_id) AS n_distinct_exact
        |  FROM events GROUP BY 1)
        |SELECT event_type, n_distinct_bitmap, n_distinct_exact, n_words,
        |  n_distinct_bitmap = n_distinct_exact AS bitmap_exact
        |FROM bm JOIN ex USING (event_type)
        |ORDER BY event_type""".stripMargin,

    "agg_kmv_intersect" ->
      """WITH uh AS (
        |  SELECT DISTINCT event_type AS set_id, user_id
        |  FROM events WHERE event_type IN ('purchase', 'click')),
        |uh2 AS (
        |  SELECT set_id, user_id,
        |    CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS h
        |  FROM uh),
        |r AS (
        |  SELECT set_id, user_id, h, row_number() OVER (
        |    PARTITION BY set_id ORDER BY h, user_id) AS rn FROM uh2),
        |st AS (
        |  SELECT set_id, count(*) AS n_exact,
        |    coalesce(max(CASE WHEN rn = 8 THEN h END),
        |      1152921504606846976) AS theta
        |  FROM r GROUP BY set_id),
        |ab AS (
        |  SELECT a.n_exact AS n_a, a.theta AS theta_a,
        |    b.n_exact AS n_b, b.theta AS theta_b,
        |    least(a.theta, b.theta) AS theta
        |  FROM (SELECT * FROM st WHERE set_id = 'purchase') a
        |  CROSS JOIN (SELECT * FROM st WHERE set_id = 'click') b),
        |common AS (
        |  SELECT p.user_id, p.h FROM uh2 p JOIN uh2 c
        |    ON p.user_id = c.user_id
        |  WHERE p.set_id = 'purchase' AND c.set_id = 'click')
        |SELECT CAST(max(n_a) AS BIGINT) AS n_a_exact,
        |  CAST(max(n_b) AS BIGINT) AS n_b_exact,
        |  round(CASE WHEN max(n_a) < 8 THEN CAST(max(n_a) AS DOUBLE)
        |    ELSE 7.0 * CAST(1152921504606846976 AS DOUBLE)
        |      / CAST(max(theta_a) AS DOUBLE) END, 4) AS est_a,
        |  round(CASE WHEN max(n_b) < 8 THEN CAST(max(n_b) AS DOUBLE)
        |    ELSE 7.0 * CAST(1152921504606846976 AS DOUBLE)
        |      / CAST(max(theta_b) AS DOUBLE) END, 4) AS est_b,
        |  count(*) AS n_common_exact,
        |  round(CAST(sum(CASE WHEN h < theta THEN 1 ELSE 0 END)
        |      AS DOUBLE)
        |    * CAST(1152921504606846976 AS DOUBLE)
        |    / CAST(max(theta) AS DOUBLE), 4) AS est_common
        |FROM common CROSS JOIN ab""".stripMargin,

    // identical sketch CTEs; the finals combine est_a/est_b/est_common
    // into the clamped Jaccard instead of reporting them
    "agg_kmv_jaccard" ->
      """WITH uh AS (
        |  SELECT DISTINCT event_type AS set_id, user_id
        |  FROM events WHERE event_type IN ('purchase', 'click')),
        |uh2 AS (
        |  SELECT set_id, user_id,
        |    CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS h
        |  FROM uh),
        |r AS (
        |  SELECT set_id, user_id, h, row_number() OVER (
        |    PARTITION BY set_id ORDER BY h, user_id) AS rn FROM uh2),
        |st AS (
        |  SELECT set_id, count(*) AS n_exact,
        |    coalesce(max(CASE WHEN rn = 8 THEN h END),
        |      1152921504606846976) AS theta
        |  FROM r GROUP BY set_id),
        |ab AS (
        |  SELECT a.n_exact AS n_a, a.theta AS theta_a,
        |    b.n_exact AS n_b, b.theta AS theta_b,
        |    least(a.theta, b.theta) AS theta
        |  FROM (SELECT * FROM st WHERE set_id = 'purchase') a
        |  CROSS JOIN (SELECT * FROM st WHERE set_id = 'click') b),
        |common AS (
        |  SELECT p.user_id, p.h FROM uh2 p JOIN uh2 c
        |    ON p.user_id = c.user_id
        |  WHERE p.set_id = 'purchase' AND c.set_id = 'click'),
        |m AS (
        |  SELECT count(*) AS nc,
        |    CASE WHEN max(n_a) < 8 THEN CAST(max(n_a) AS DOUBLE)
        |      ELSE 7.0 * CAST(1152921504606846976 AS DOUBLE)
        |        / CAST(max(theta_a) AS DOUBLE) END AS est_a,
        |    CASE WHEN max(n_b) < 8 THEN CAST(max(n_b) AS DOUBLE)
        |      ELSE 7.0 * CAST(1152921504606846976 AS DOUBLE)
        |        / CAST(max(theta_b) AS DOUBLE) END AS est_b,
        |    CAST(sum(CASE WHEN h < theta THEN 1 ELSE 0 END) AS DOUBLE)
        |      * CAST(1152921504606846976 AS DOUBLE)
        |      / CAST(max(theta) AS DOUBLE) AS est_c,
        |    max(n_a) AS n_a, max(n_b) AS n_b
        |  FROM common CROSS JOIN ab)
        |SELECT CAST(nc AS BIGINT) AS n_common_exact,
        |  round(CAST(nc AS DOUBLE)
        |    / CAST(n_a + n_b - nc AS DOUBLE), 6) AS jaccard_exact,
        |  round(least(1.0, greatest(0.0,
        |    est_c / (est_a + est_b - est_c))), 4) AS jaccard_est
        |FROM m""".stripMargin,

    // identical sketch CTEs; the finals subtract est_common from each
    // side's estimate (clamped at 0) instead of reporting it
    "agg_kmv_difference" ->
      """WITH uh AS (
        |  SELECT DISTINCT event_type AS set_id, user_id
        |  FROM events WHERE event_type IN ('purchase', 'click')),
        |uh2 AS (
        |  SELECT set_id, user_id,
        |    CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS h
        |  FROM uh),
        |r AS (
        |  SELECT set_id, user_id, h, row_number() OVER (
        |    PARTITION BY set_id ORDER BY h, user_id) AS rn FROM uh2),
        |st AS (
        |  SELECT set_id, count(*) AS n_exact,
        |    coalesce(max(CASE WHEN rn = 8 THEN h END),
        |      1152921504606846976) AS theta
        |  FROM r GROUP BY set_id),
        |ab AS (
        |  SELECT a.n_exact AS n_a, a.theta AS theta_a,
        |    b.n_exact AS n_b, b.theta AS theta_b,
        |    least(a.theta, b.theta) AS theta
        |  FROM (SELECT * FROM st WHERE set_id = 'purchase') a
        |  CROSS JOIN (SELECT * FROM st WHERE set_id = 'click') b),
        |common AS (
        |  SELECT p.user_id, p.h FROM uh2 p JOIN uh2 c
        |    ON p.user_id = c.user_id
        |  WHERE p.set_id = 'purchase' AND c.set_id = 'click')
        |SELECT CAST(max(n_a) - count(*) AS BIGINT) AS diff_ab_exact,
        |  CAST(max(n_b) - count(*) AS BIGINT) AS diff_ba_exact,
        |  round(greatest(
        |    (CASE WHEN max(n_a) < 8 THEN CAST(max(n_a) AS DOUBLE)
        |     ELSE 7.0 * CAST(1152921504606846976 AS DOUBLE)
        |       / CAST(max(theta_a) AS DOUBLE) END)
        |    - CAST(sum(CASE WHEN h < theta THEN 1 ELSE 0 END) AS DOUBLE)
        |      * CAST(1152921504606846976 AS DOUBLE)
        |      / CAST(max(theta) AS DOUBLE), CAST(0 AS DOUBLE)), 4) AS est_diff_ab,
        |  round(greatest(
        |    (CASE WHEN max(n_b) < 8 THEN CAST(max(n_b) AS DOUBLE)
        |     ELSE 7.0 * CAST(1152921504606846976 AS DOUBLE)
        |       / CAST(max(theta_b) AS DOUBLE) END)
        |    - CAST(sum(CASE WHEN h < theta THEN 1 ELSE 0 END) AS DOUBLE)
        |      * CAST(1152921504606846976 AS DOUBLE)
        |      / CAST(max(theta) AS DOUBLE), CAST(0 AS DOUBLE)), 4) AS est_diff_ba
        |FROM common CROSS JOIN ab""".stripMargin,

    "agg_equidepth_hist" -> {
      val fracs = (1 to 15).map(i => (i / 16.0).toString).mkString(", ")
      s"""WITH bs AS (
         |  SELECT list_transform(quantile_cont(o_totalprice,
         |    [$fracs]), x -> round(x, 2)) AS bs
         |  FROM orders),
         |assigned AS (
         |  SELECT o_totalprice,
         |    CAST(len(list_filter(bs, x -> o_totalprice > x))
         |      AS INTEGER) AS bucket
         |  FROM orders CROSS JOIN bs)
         |SELECT bucket, count(*) AS n_orders,
         |  round(min(o_totalprice), 2) AS lo,
         |  round(max(o_totalprice), 2) AS hi,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         |    AS sum_price
         |FROM assigned GROUP BY bucket ORDER BY bucket""".stripMargin
    },

    "agg_moments_skew_kurt" ->
      """WITH s AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    CAST(sum(q) AS BIGINT) AS s1,
        |    CAST(sum(q * q) AS BIGINT) AS s2,
        |    CAST(sum(q * q * q) AS BIGINT) AS s3,
        |    CAST(sum(q * q * q * q) AS BIGINT) AS s4
        |  FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q
        |        FROM lineitem) z
        |  GROUP BY 1),
        |m AS (
        |  SELECT l_returnflag, n,
        |    CAST(s1 AS DOUBLE) / n AS m1,
        |    CAST(s2 AS DOUBLE) / n AS r2,
        |    CAST(s3 AS DOUBLE) / n AS r3,
        |    CAST(s4 AS DOUBLE) / n AS r4
        |  FROM s),
        |mm AS (
        |  SELECT l_returnflag, n, m1,
        |    r2 - m1 * m1 AS m2,
        |    r3 - 3 * m1 * r2 + 2 * m1 * m1 * m1 AS m3,
        |    r4 - 4 * m1 * r3 + 6 * m1 * m1 * r2
        |      - 3 * m1 * m1 * m1 * m1 AS m4
        |  FROM m)
        |SELECT l_returnflag, n, round(m1, 6) AS mean_qty,
        |  round(m3 / (m2 * sqrt(m2)), 6) AS skewness,
        |  round(m4 / (m2 * m2) - 3, 6) AS excess_kurtosis
        |FROM mm ORDER BY l_returnflag""".stripMargin,

    "agg_winsorized_mean" ->
      """WITH b AS (
        |  SELECT o_orderpriority,
        |    quantile_cont(CAST(o_totalprice AS DOUBLE), 0.05) AS p5,
        |    quantile_cont(CAST(o_totalprice AS DOUBLE), 0.95) AS p95
        |  FROM orders GROUP BY 1),
        |a AS (
        |  SELECT o.o_orderpriority, count(*) AS n,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s_all,
        |    sum(CASE WHEN CAST(o_totalprice AS DOUBLE) >= p5
        |        AND CAST(o_totalprice AS DOUBLE) <= p95
        |      THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS s_mid,
        |    CAST(sum(CASE WHEN CAST(o_totalprice AS DOUBLE) < p5
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
        |    CAST(sum(CASE WHEN CAST(o_totalprice AS DOUBLE) > p95
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
        |    any_value(p5) AS p5, any_value(p95) AS p95
        |  FROM orders o JOIN b ON b.o_orderpriority = o.o_orderpriority
        |  GROUP BY 1)
        |SELECT o_orderpriority, n,
        |  round(CAST(s_all AS DOUBLE) / n, 6) AS mean_raw,
        |  round((CAST(s_mid AS DOUBLE)
        |    + CAST(n_low AS DOUBLE) * p5
        |    + CAST(n_high AS DOUBLE) * p95) / n, 6) AS mean_winsorized,
        |  round(CAST(s_mid AS DOUBLE) / (n - n_low - n_high), 6)
        |    AS mean_trimmed
        |FROM a ORDER BY o_orderpriority""".stripMargin,

    "agg_ratio_delta_method" ->
      """WITH u AS (
        |  SELECT user_id, count(*) AS x,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(14,2))
        |      AS y,
        |    CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1)
        |      < '8' THEN 'control' ELSE 'treatment' END AS arm
        |  FROM events GROUP BY 1),
        |g AS (
        |  SELECT arm, count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
        |    sum(y) AS sy, CAST(sum(x * x) AS BIGINT) AS sxx,
        |    sum(x * y) AS sxy, sum(y * y) AS syy
        |  FROM u GROUP BY 1),
        |m AS (
        |  SELECT arm, n, CAST(n AS DOUBLE) AS nd,
        |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mx,
        |    CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS my,
        |    CAST(sy AS DOUBLE) / CAST(sx AS DOUBLE) AS r,
        |    CAST(sxx AS DOUBLE) AS sxxd, CAST(sxy AS DOUBLE) AS sxyd,
        |    CAST(syy AS DOUBLE) AS syyd
        |  FROM g),
        |v AS (
        |  SELECT arm, n, nd, r,
        |    sxxd / nd - mx * mx AS vx,
        |    syyd / nd - my * my AS vy,
        |    sxyd / nd - mx * my AS cxy, mx
        |  FROM m),
        |se AS (
        |  SELECT arm, n, r,
        |    sqrt(greatest(CAST(0 AS DOUBLE),
        |      (vy - 2 * r * cxy + r * r * vx) / (nd * mx * mx))) AS se
        |  FROM v)
        |SELECT arm, n AS n_users, round(r, 6) AS ratio,
        |  round(se, 6) AS se,
        |  round(r - 1.959964 * se, 6) AS ci_lo,
        |  round(r + 1.959964 * se, 6) AS ci_hi
        |FROM se ORDER BY arm""".stripMargin,

    "agg_benford_audit" ->
      """WITH dg AS (
        |  SELECT CAST(substring(CAST(CAST(o_totalprice
        |    AS DECIMAL(18,2)) AS VARCHAR), 1, 1) AS INT) AS digit
        |  FROM orders),
        |c AS (SELECT digit, count(*) AS n_obs FROM dg GROUP BY 1),
        |t AS (SELECT sum(n_obs) AS n FROM c),
        |e AS (
        |  SELECT digit, n_obs, CAST(n AS BIGINT) AS n,
        |    CAST(([0.301029995663981, 0.176091259055681, 0.124938736608299,
        |      0.096910013008056, 0.079181246047625, 0.066946789630613,
        |      0.057991946977687, 0.051152522447381,
        |      0.045757490560675])[digit] AS DOUBLE) AS exp_share
        |  FROM c CROSS JOIN t),
        |tm AS (
        |  SELECT digit, n_obs, n, exp_share,
        |    CAST(round(
        |      (CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE) * exp_share)
        |      * (CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE) * exp_share)
        |      / (CAST(n AS DOUBLE) * exp_share), 9)
        |      AS DECIMAL(20,9)) AS term
        |  FROM e),
        |x AS (SELECT CAST(sum(term) AS DOUBLE) AS chi2 FROM tm)
        |SELECT CAST(digit AS BIGINT) AS digit, n_obs,
        |  round(CAST(n_obs AS DOUBLE) / n, 6) AS obs_share,
        |  round(exp_share, 6) AS exp_share,
        |  round(chi2, 4) AS chi2,
        |  chi2 < 15.507 AS benford_pass
        |FROM tm CROSS JOIN x ORDER BY digit""".stripMargin
  )
}
