package perfbench

import java.lang.management.ManagementFactory

import scala.collection.immutable.ListMap
import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.harness.{JobRunner, JobSettings}

/** One benchmark run in one JVM.
  *
  * Starts the session through `graft.Sessions.local`, runs warm-up
  * passes over the workload's operations (the first one's outputs are
  * what the checker reads), then timed passes until `--seconds` have gone
  * by, always whole passes and at least `MinTimedPasses`. Everything it
  * measures goes to `<work>/result.json`; run.py turns that into metrics
  * and checks the outputs against DuckDB.
  *
  * Usage: perfbench.Main <workload> <dataDir> <workDir> <seconds> <trace>
  *   <cores> [keys...]
  */
object Main {

  /** One timed operation. `layer` is the registry module (query ops) or
    * the harness job class (ETL ops). `run(spark, writeResults)` returns
    * (build ns, action ns); `writeResults` is set on the first pass only.
    */
  final case class Op(name: String, layer: String,
      run: (SparkSession, Boolean) => (Long, Long))

  final case class OpRec(pass: Int, name: String, layer: String,
      startMs: Long, endMs: Long, buildNs: Long, actionNs: Long, cpuNs: Long)

  final case class Failure(pass: Int, op: String, layer: String,
      phase: String, error: String)

  /** An operation's failure, tagged with the step it failed in. */
  final class OpFailed(val phase: String, cause: Throwable)
      extends RuntimeException(cause)

  private def step[T](phase: String)(body: => T): T =
    try body catch { case t: Throwable => throw new OpFailed(phase, t) }

  private val modules: Seq[(String, Map[String, _])] = {
    import graft.ops._
    Seq("Scans" -> Scans.queries, "Relational" -> Relational.queries,
      "Joins" -> Joins.queries, "Aggregates" -> Aggregates.queries,
      "Windows" -> Windows.queries, "SortSet" -> SortSet.queries,
      "ScalarFns" -> ScalarFns.queries, "SqlOps" -> SqlOps.queries,
      "Analytics" -> Analytics.queries, "StreamTwin" -> StreamTwin.queries,
      "Dedup" -> Dedup.queries, "Similarity" -> Similarity.queries,
      "TextOps" -> TextOps.queries, "Multimodal" -> Multimodal.queries,
      "Lakehouse" -> Lakehouse.queries, "TrainPrep" -> TrainPrep.queries,
      "Graph" -> Graph.queries)
  }

  def moduleOf(key: String): String =
    modules.collectFirst { case (m, q) if q.contains(key) => m }
      .getOrElse(throw new IllegalArgumentException(s"unknown key: $key"))

  /** Timed passes a run makes however short `--seconds` is. */
  private val MinTimedPasses = 5

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def clearMemos(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    graft.plans.DfLru.clearAll()
  }

  /** A registry key: build the frame (time in the registry function,
    * eager memo builds included), then materialize every row and column.
    * The warm-up pass writes parquet for the checker; timed passes write
    * to the `noop` sink, which computes the full result and stores none.
    */
  private def queryOp(key: String, dataDir: String, resultDir: String,
      clearBefore: Boolean): Op = {
    val fn = graft.SparkEntry.queries(key)
    Op(key, moduleOf(key), { (spark, writeResults) =>
      if (clearBefore) clearMemos(spark)
      val t0 = System.nanoTime()
      val df: DataFrame = step("build")(fn(spark, dataDir))
      val t1 = System.nanoTime()
      step("action") {
        if (writeResults) df.write.mode("overwrite").parquet(s"$resultDir/$key")
        else df.write.mode("overwrite").format("noop").save()
      }
      (t1 - t0, System.nanoTime() - t1)
    })
  }

  /** The ETL jobs as the reference contract runs them: a JobSettings
    * record, `JobRunner.makeJob(...).runJob`, a 200 status or a failure.
    */
  def etlOps(dataDir: String, outDir: String): Seq[Op] = {
    def job(name: String, jobClass: String, input: String,
        extra: (String, String)*): Op =
      Op(name, jobClass, { (spark, _) =>
        val settings = JobSettings(s"$dataDir/$input", s"$outDir/$name",
          extra.toMap)
        val t0 = System.nanoTime()
        val resp = JobRunner.makeJob(jobClass, settings).runJob(spark)
        if (resp.statusCode != 200)
          throw new OpFailed("runJob", new IllegalStateException(
            s"status ${resp.statusCode}: ${resp.message.getOrElse("")}"))
        (0L, System.nanoTime() - t0)
      })
    Seq(
      job("to_csv", "FormatConversionJob", "orders.parquet",
        "output_format" -> "csv"),
      job("zstd", "CompressionJob", "orders.parquet", "compression" -> "zstd"),
      job("dedup", "DedupJob", "documents.parquet"),
      job("quality", "QualityFilterJob", "documents.parquet"),
      job("sample", "SampleJob", "documents.parquet", "sample_size" -> "100"),
      job("compaction", "CompactionJob", "orders_small_files"),
      // one column of each kind, named: left to its default, ProfileJob
      // skips o_orderdate (a TIMESTAMP_NTZ as the fixtures encode it)
      job("profile", "ProfileJob", "orders.parquet",
        "columns" -> "o_orderkey,o_orderstatus,o_totalprice,o_orderdate"),
      job("cdc", "CdcApplyJob", "orders.parquet",
        "changelog" -> s"$dataDir/orders_changelog.parquet"))
  }

  private def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
      case _ => -1L
    }

  private val threadBean = ManagementFactory.getThreadMXBean

  /** CPU time of every live Java thread, by thread id. JIT compiler and
    * GC threads are not Java threads, so they are not in it. */
  private def threadCpuNs(): Map[Long, Long] =
    threadBean.getAllThreadIds.iterator
      .map(id => id -> threadBean.getThreadCpuTime(id))
      .filter(_._2 >= 0).toMap

  /** CPU the Java threads spent since `before`; a thread that ended in
    * between is not counted. */
  private def appCpuNs(before: Map[Long, Long]): Long =
    threadCpuNs().iterator.map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum

  private def firstLine(t: Throwable): String =
    s"${t.getClass.getName}: " +
      Option(t.getMessage).getOrElse("").linesIterator.take(1).mkString

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("list")) {
      // every registry key with its module and whether it has oracle SQL
      val oracle = graft.SparkEntry.oracleSql
      println(json.writeValueAsString(graft.SparkEntry.queries.keys.toSeq.sorted
        .map(k => ListMap("key" -> k, "module" -> moduleOf(k),
          "oracle" -> oracle.contains(k)))))
      sys.exit(0)
    }
    val Array(workload, dataDir, workDir, secondsArg, traceArg, coresArg) =
      args.take(6)
    val keys = args.drop(6).toSeq
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val cores = coresArg.toInt
    val resultDir = s"$workDir/results"
    val outDir = s"$workDir/out"

    // never outlive the launcher: a killed run.py cannot reap this JVM
    val parent = ProcessHandle.current.parent
    val watchdog = new Thread(() => {
      while (parent.map[Boolean](_.isAlive).orElse(false)) Thread.sleep(1000)
      Runtime.getRuntime.halt(3)
    })
    watchdog.setDaemon(true)
    watchdog.start()

    val s0 = System.nanoTime()
    val spark = graft.Sessions.local(cores, appName = s"perfbench-$workload",
      extraConf = Map(
        "spark.sql.warehouse.dir" -> s"$workDir/warehouse",
        "spark.local.dir" -> s"$workDir/spark-local"))
    val sessionsStartMs = (System.nanoTime() - s0) / 1e6
    val ledger = if (trace) Some(Ledger.install(spark)) else None

    val ops: Seq[Op] = workload match {
      case "etl_jobs" => etlOps(dataDir, outDir)
      case "query_mix" => keys.map(queryOp(_, dataDir, resultDir, true))
      case "pipeline_kernels" => keys.map(queryOp(_, dataDir, resultDir, false))
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    // pipeline_kernels clears once per pass, so family members after the
    // first reuse the memos the first one built within the pass
    val clearPerPass = workload == "pipeline_kernels"

    val recs = mutable.ArrayBuffer.empty[OpRec]
    val failures = mutable.ArrayBuffer.empty[Failure]
    val passes = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]

    def runPass(pass: Int): Unit = {
      val writeResults = pass == 0
      if (clearPerPass) clearMemos(spark)
      System.gc()
      ledger.foreach(_.passStart())
      val cpu0 = processCpuNs()
      val app0 = threadCpuNs()
      val startMs = System.currentTimeMillis()
      val w0 = System.nanoTime()
      ops.foreach { op =>
        val t0 = System.currentTimeMillis()
        val opCpu0 = threadCpuNs()
        try {
          val (b, a) = op.run(spark, writeResults)
          recs += OpRec(pass, op.name, op.layer, t0, System.currentTimeMillis(), b, a,
            appCpuNs(opCpu0))
          ledger.foreach(_.afterOp(spark))
        } catch {
          case f: OpFailed =>
            failures += Failure(pass, op.name, op.layer, f.phase,
              firstLine(f.getCause))
            System.err.println(s"[perfbench] $workload/${op.name} " +
              s"(layer ${op.layer}, ${f.phase}) FAILED: ${firstLine(f.getCause)}")
        }
      }
      val wallNs = System.nanoTime() - w0
      val p = mutable.LinkedHashMap[String, Any](
        "pass" -> pass, "start_ms" -> startMs,
        "end_ms" -> System.currentTimeMillis(),
        "wall_ms" -> wallNs / 1e6, "cpu_ms" -> (processCpuNs() - cpu0) / 1e6,
        "app_cpu_ms" -> appCpuNs(app0) / 1e6)
      ledger.foreach(l => p ++= l.passEnd())
      passes += p
    }

    // passes keep getting cheaper while HotSpot compiles. query_mix
    // takes its steepest step after the first pass (CPU per pass 9.6,
    // 3.3, 3.0, 3.1 s); etl_jobs keeps stepping down until about the
    // fifth (11.3, 5.4, 4.7, 5.1, 4.4, 4.0, then 4.1-5.0 s)
    val warmupPasses = if (workload == "etl_jobs") 4 else 2
    runPass(0)
    if (workload == "etl_jobs") {
      // the checker compares this copy with the last pass's sample
      val fs = new org.apache.hadoop.fs.Path(outDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(s"$outDir/sample"),
        fs, new org.apache.hadoop.fs.Path(s"$workDir/sample_warmup"), false,
        spark.sparkContext.hadoopConfiguration)
    }
    (1 until warmupPasses).foreach(runPass)
    // at least five timed passes, so that each operation's median drops
    // two odd passes
    val firstTimedMs = System.currentTimeMillis()
    var pass = warmupPasses
    while (pass < warmupPasses + MinTimedPasses ||
        System.currentTimeMillis() - firstTimedMs < seconds * 1000) {
      runPass(pass)
      pass += 1
    }

    // trace-only probe, outside the timed window: a full scan whose
    // executor input-row count the checker compares with DuckDB's
    val probe = ledger.map { l =>
      val t0 = System.currentTimeMillis()
      spark.read.parquet(s"$dataDir/lineitem.parquet")
        .write.mode("overwrite").format("noop").save()
      (t0, System.currentTimeMillis())
    }

    val oracle = keys.map(k => k -> graft.SparkEntry.oracleSql.get(k)).toMap
    spark.stop()

    // the listener bus is drained now: attribute its records to windows
    def ms(p: mutable.Map[String, Any], k: String) = p(k).asInstanceOf[Long]
    ledger.foreach(l => passes.foreach(p =>
      p ++= l.window(ms(p, "start_ms"), ms(p, "end_ms"))))
    def opRecord(r: OpRec) = ListMap[String, Any]("pass" -> r.pass,
      "name" -> r.name, "layer" -> r.layer, "start_ms" -> r.startMs,
      "end_ms" -> r.endMs, "build_ms" -> r.buildNs / 1e6,
      "action_ms" -> r.actionNs / 1e6, "cpu_ms" -> r.cpuNs / 1e6) ++
      ledger.map(_.executor(r.startMs, r.endMs)).getOrElse(Seq.empty)
    val result = ListMap[String, Any](
      "workload" -> workload,
      "first_timed_ms" -> firstTimedMs,
      "warmup_passes" -> warmupPasses,
      "sessions_start_ms" -> sessionsStartMs,
      "cores" -> cores,
      "passes" -> passes,
      "ops" -> recs.map(opRecord),
      "failures" -> failures.map(f => ListMap("pass" -> f.pass, "op" -> f.op,
        "layer" -> f.layer, "phase" -> f.phase, "error" -> f.error)),
      "probe" -> (for { l <- ledger; (a, b) <- probe }
        yield ListMap(l.executor(a, b): _*)),
      "spans" -> ledger.map(_.spans(
        recs.toSeq.map(r => (s"${r.pass}/${r.name}", r.startMs, r.endMs)))),
      "oracle" -> ListMap(oracle.toSeq.sortBy(_._1): _*))
    json.writeValue(new java.io.File(s"$workDir/result.json"), result)
    sys.exit(0)
  }
}
