package graft

import org.apache.spark.sql.SparkSession

/** THE session builder — every entry point (Bench, Verify, Plans, Ablate,
  * the ScalaTest suites) goes through here so session-level semantics are
  * defined once:
  *
  *  - `spark.sql.legacy.parquet.nanosAsLong`: `events.ts` is Parquet
  *    TIMESTAMP(NANOS), which Spark 4.x cannot read natively; it must be set
  *    BEFORE the first events scan or the read fails with
  *    `PARQUET_TYPE_ILLEGAL` (BASELINE.md parity hazard). One definition
  *    site here ends the round-2 finding that each main re-declared it and
  *    a future entry point could forget.
  *  - UTC session timezone: date/timestamp functions must agree with the
  *    DuckDB oracle independent of host timezone.
  *  - `shuffle.partitions` = core count: right-sized for local mode (the
  *    200 default just multiplies task overhead at fixture scale).
  *  - non-blocking ContextCleaner: with ~100 queries in one JVM the cleaner
  *    has constant work, and in blocking mode (the default) its
  *    broadcast/accumulator removals stall job submission mid-query —
  *    measured as multi-second bimodal swings on loop-heavy queries.
  *  - `spark.sql.codegen.cache.maxEntries` = 4096, up from Spark's 100:
  *    one Bench pass over the 479-key registry at sf0.1 with an unbounded
  *    cache compiles 3625 distinct generated classes (3694 counting the
  *    warm-ups), rounded up to a power of two. With 100 entries a JVM that
  *    re-runs its keys or jobs compiled every class again on every pass
  *    (perfbench `query_mix`: 132 compiles per warm pass; 0 with 4096).
  *    Cost at the end of a full Bench run, after `System.gc()`: heap 976
  *    vs 873 MB and Metaspace 229 vs 200 MB against 100 entries. Spark
  *    reads the size once, when `CodeGenerator` first initializes (the
  *    JVM's first codegen): a session built later in the same JVM,
  *    `extraConf` included, cannot resize a cache that already exists.
  */
object Sessions {
  /** @param extraConf build-time conf overrides for entry points with
    *   special needs (graft.Plans raises `spark.sql.maxPlanStringLength`
    *   here, at builder time, so the value applies whether or not the
    *   conf is runtime-settable on this Spark version — ADVICE r13 #4).
    *   Later entries win over the defaults above.
    */
  def local(cores: Int, appName: String = "graft",
      extraConf: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .appName(appName)
      .master(s"local[$cores]")
      // native functions + the FuseIntersectSize optimizer rewrite — the
      // same wiring a cluster deployment would put in spark-defaults
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", "/root/repo/target/warehouse")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.referenceTracking.blocking", "false")
      // r13 (measured, stack-sampled): AQE's onUpdatePlan regenerates the
      // FULL plan-description string on every adaptive stage update, on
      // the driver main thread, before the job can proceed — and the
      // default explain mode ("formatted") re-walks the whole tree
      // several times (ExplainUtils.processPlan operator-id passes),
      // including every memoized InMemoryRelation's embedded lineage.
      // jstack sampling of a full bench run showed
      // TreeNode.generateTreeString as the top main-thread frame, and the
      // cost grows with session-accumulated memo nesting: individual keys
      // stalled 10-30 s (agg_countmin 24 s vs 4 s isolated; betweenness
      // 35 s vs 13 s) with load1 ≈ 2 and near-zero GC. "simple" posts one
      // single-pass physical-plan string instead, and the string-length
      // cap bounds the generated text either way. Diagnostics-only
      // settings: query results and executed plans are untouched, and a
      // UI-attached debugging session can flip them back per-session.
      .config("spark.sql.ui.explainMode",
        sys.env.getOrElse("SPARK_GRAFT_UI_EXPLAIN", "simple"))
      .config("spark.sql.maxPlanStringLength",
        sys.env.getOrElse("SPARK_GRAFT_MAX_PLAN_STR", "262144"))
      // committer v2: task outputs move to the destination at task
      // commit instead of a SERIAL driver-side rename sweep at job
      // commit — the difference between O(#files/parallelism) and
      // O(#files) for the many-dir maintenance writes (vacuum_apply's
      // 1600-generation-dir layout; measured part of its 35 s at sf0.1).
      // Correct here for the same reason clusters default to it on
      // object stores: our sinks are overwrite-or-append whole-directory
      // jobs, re-run from scratch on failure, never partially consumed.
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
        "2")
      // see the codegen cache bullet above; static, so builder time only
      .config("spark.sql.codegen.cache.maxEntries", "4096")
    val s = extraConf.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Core count from SPARK_GRAFT_CPUS (driver contract), default 4. */
  def envCores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
}
