package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Plan auditor: dumps `explain("formatted")` for every query (or a named
  * subset) so pushdown / broadcast / codegen properties can be inspected.
  * A key whose dump Spark truncated fails, naming the env var to raise,
  * and any failed key makes the run exit non-zero.
  *
  * Usage: runMain graft.Plans <sfDir> [queryName ...]
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val wanted = args.drop(1).toSet
    // plan dumps want long untruncated text (Sessions caps the plan-string
    // length for the bench's AQE-update path). ADVICE r13 #4: the old
    // runtime `spark.conf.set` sat under a swallow-all catch, so on any
    // Spark version where this conf is static the dump would silently
    // truncate at the Sessions default and the before/after artifacts
    // would lie. Setting it at builder time is correct on every version
    // and leaves nothing swallowed; 8 MiB bounds a runaway dump while
    // comfortably holding the largest real plan (betweenness ≈ 3.8 MB).
    val spark = Sessions.local(4, appName = "graft-plans",
      extraConf = Map(
        "spark.sql.maxPlanStringLength" ->
          sys.env.getOrElse("SPARK_GRAFT_MAX_PLAN_STR", "8388608"),
        // SPARK_GRAFT_HIDE_CACHED=false dumps the FULL nested cache
        // trees (each memo's build plan inline) instead of the bench's
        // walk-opaque MemoScan leaves — the form that shows what each
        // memoized kernel executes (e.g. the betweenness layer
        // exclusions live inside the l2/l3 memo builds)
        "spark.graft.hideCachedPlanTrees" ->
          sys.env.getOrElse("SPARK_GRAFT_HIDE_CACHED", "true")))
    spark.sparkContext.setLogLevel("ERROR")
    val failed = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => wanted.isEmpty || wanted(n) }
      .flatMap { case (name, fn) =>
        println(s"\n===== $name =====")
        try { println(render(fn(spark, sfDir))); None }
        catch {
          case e: Throwable =>
            println(s"(failed: ${e.getMessage})")
            Some(name)
        }
      }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"plan dump failed for: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** Spark's mark on a plan string cut at `spark.sql.maxPlanStringLength`. */
  private val TruncationMark =
    """(\.\.\. \d+ more characters|Truncated plan of \d+ characters)$""".r

  /** The formatted plan text of `df`; throws rather than hand back a dump
    * Spark cut short, since a truncated plan reads like a complete one.
    */
  def render(df: DataFrame): String = {
    val text = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    if (TruncationMark.findFirstIn(text).isDefined) {
      throw new IllegalStateException("plan text truncated at " +
        "spark.sql.maxPlanStringLength=" +
        df.sparkSession.conf.get("spark.sql.maxPlanStringLength") +
        "; raise SPARK_GRAFT_MAX_PLAN_STR for this dump")
    }
    text
  }
}
