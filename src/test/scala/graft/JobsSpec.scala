package graft

import graft.harness._

/** Concrete job layer: conversion + compression jobs end-to-end, and the
  * CLI argument surface (mirrors reference `core.py:15-47` + `run_job`).
  */
class JobsSpec extends SparkSpec {

  private val out = "/root/repo/target/tmp/jobs_spec"

  test("FormatConversionJob converts parquet to csv and reports rows") {
    val job = new FormatConversionJob(JobSettings(
      s"$sf/nation.parquet", s"$out/nation_csv",
      Map("output_format" -> "csv", "compression" -> "gzip")))
    val r = job.runJob(spark)
    assert(r.statusCode == 200, r)
    assert(r.data.contains("25"))
    val back = spark.read.option("header", "true").csv(s"$out/nation_csv")
    assert(back.count() == 25)
  }

  test("FormatConversionJob honors partition_by") {
    val job = new FormatConversionJob(JobSettings(
      s"$sf/nation.parquet", s"$out/nation_part",
      Map("output_format" -> "parquet", "partition_by" -> "n_regionkey")))
    assert(job.runJob(spark).statusCode == 200)
    val dirs = new java.io.File(s"$out/nation_part").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs.exists(_.startsWith("n_regionkey=")))
  }

  test("FormatConversionJob returns 500 on a bad input path") {
    val job = new FormatConversionJob(JobSettings("/no/such/dir", s"$out/x"))
    val r = job.runJob(spark)
    assert(r.statusCode == 500)
    assert(r.message.nonEmpty)
  }

  test("ProfileJob writes a per-column stats table matching the operator") {
    val job = new ProfileJob(JobSettings(
      s"$sf/orders.parquet", s"$out/orders_profile",
      Map("columns" -> "o_custkey,o_orderstatus")))
    val r = job.runJob(spark)
    assert(r.statusCode == 200, r)
    val prof = spark.read.parquet(s"$out/orders_profile").collect()
      .map(row => row.getString(0) ->
        (row.getLong(1), row.getLong(2), row.getString(3), row.getString(4)))
      .toMap
    assert(prof.keySet == Set("o_custkey", "o_orderstatus"))
    val orders = graft.ops.Tables.t(spark, sf, "orders")
    val n = orders.count()
    import org.apache.spark.sql.functions._
    val ndvCk = orders.select(countDistinct(col("o_custkey"))).head().getLong(0)
    assert(prof("o_custkey")._1 == n)
    assert(prof("o_custkey")._2 == ndvCk)
    assert(r.data.exists(_.contains(""""columns": 2""")))
  }

  test("ProfileJob defaults to every atomic column") {
    val r = new ProfileJob(JobSettings(
      s"$sf/nation.parquet", s"$out/nation_profile")).runJob(spark)
    assert(r.statusCode == 200, r)
    val cols = spark.read.parquet(s"$out/nation_profile")
      .select("col_name").collect().map(_.getString(0)).toSet
    // every nation column is atomic, so the default profiles all of them
    val expected = spark.read.parquet(s"$sf/nation.parquet").columns.toSet
    assert(cols == expected)
  }

  test("ProfileJob's default columns include TIMESTAMP_NTZ columns") {
    // parquet timestamps written without UTC adjustment (the fixtures'
    // timestamp[us] columns, e.g. orders.o_orderdate) scan as
    // TIMESTAMP_NTZ; the default atomic filter must not skip them
    spark.sql("SELECT id, make_timestamp_ntz(2020, 1, CAST(id AS INT) + 1, " +
        "0, 0, 0) AS ts FROM range(5)")
      .write.mode("overwrite").parquet(s"$out/ntz_in")
    val in = spark.read.parquet(s"$out/ntz_in")
    assert(in.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType, in.schema)
    val r = new ProfileJob(JobSettings(
      s"$out/ntz_in", s"$out/ntz_profile")).runJob(spark)
    assert(r.statusCode == 200, r)
    val prof = spark.read.parquet(s"$out/ntz_profile").collect()
      .map(row => row.getString(0) -> row).toMap
    assert(prof.keySet == Set("id", "ts"))
    assert(prof("ts").getAs[Long]("ndv") == 5L)
    assert(prof("ts").getAs[String]("min_v") == "2020-01-01 00:00:00")
    assert(prof("ts").getAs[String]("max_v") == "2020-01-05 00:00:00")
  }

  test("DedupJob removes exact duplicates under the job contract") {
    import org.apache.spark.sql.functions._
    // the fixture corpus has no EXACT duplicates (its planted pairs are
    // near-dups), so build an input that does: every doc once, the first
    // 100 again under shifted ids
    val docs = graft.ops.Tables.t(spark, sf, "documents")
    val dupes = docs.filter(col("doc_id") < 100)
      .withColumn("doc_id", col("doc_id") + 100000)
    docs.unionByName(dupes).write.mode("overwrite")
      .parquet(s"$out/dedup_in")
    val total = docs.count() + 100

    val job = new DedupJob(JobSettings(
      s"$out/dedup_in", s"$out/dedup_keepers"))
    val r = job.runJob(spark)
    assert(r.statusCode == 200, r)
    val kept = spark.read.parquet(s"$out/dedup_keepers")
    assert(kept.count() == total - 100) // the 100 copies collapsed
    // groups partition the corpus: copies sum back to the input count
    assert(kept.agg(sum(col("n_copies"))).head().getLong(0) == total)
    // keeper is always the smallest id, so no shifted id can win
    assert(kept.filter(col("keeper") >= 100000).count() == 0)
    assert(r.message.exists(_.contains("removed 100 duplicates")))
  }

  test("DedupJob returns 200 with zero stats on an empty input") {
    import org.apache.spark.sql.functions._
    graft.ops.Tables.t(spark, sf, "documents").filter(col("doc_id") < 0)
      .write.mode("overwrite").parquet(s"$out/dedup_empty_in")
    val r = new DedupJob(JobSettings(
      s"$out/dedup_empty_in", s"$out/dedup_empty_out")).runJob(spark)
    assert(r.statusCode == 200, r)
    assert(r.data.exists(_.contains("\"unique\": 0")), r)
  }

  test("QualityFilterJob keeps exactly the operator's keeper set") {
    val r = new QualityFilterJob(JobSettings(
      s"$sf/documents.parquet", s"$out/quality_out")).runJob(spark)
    assert(r.statusCode == 200, r)
    val kept = spark.read.parquet(s"$out/quality_out")
    val operator = SparkEntry.queries("pipeline_quality_filter")(spark, sf)
    assert(kept.count() == operator.count())
    assert(kept.select("doc_id").collect().map(_.getLong(0)).toSet ==
      operator.select("doc_id").collect().map(_.getLong(0)).toSet)
    // the thresholds genuinely reject at fixture scale
    val total = graft.ops.Tables.t(spark, sf, "documents").count()
    assert(kept.count() < total)
    assert(r.data.exists(_.contains("\"rejected\"")), r)
  }

  test("CompactionJob coalesces a many-file table and keeps every row") {
    // build a deliberately fragmented input: 16 files for a tiny table
    val frag = s"$out/frag_in"
    spark.read.parquet(s"$sf/orders.parquet").repartition(16)
      .write.mode("overwrite").parquet(frag)
    val expected = spark.read.parquet(frag).count()
    val job = new CompactionJob(JobSettings(frag, s"$out/frag_out",
      Map("target_file_bytes" -> (64L * 1024 * 1024).toString)))
    val r = job.runJob(spark)
    assert(r.statusCode == 200, r)
    val outFiles = new java.io.File(s"$out/frag_out").listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(outFiles == 1, s"expected 1 compacted file, got $outFiles")
    assert(spark.read.parquet(s"$out/frag_out").count() == expected)
    assert(r.data.exists(_.contains("\"files_out\": 1")), r)
  }

  test("CompressionJob re-encodes parquet and reports byte sizes") {
    val job = new CompressionJob(JobSettings(
      s"$sf/lineitem.parquet", s"$out/lineitem_zstd",
      Map("compression" -> "zstd")))
    val r = job.runJob(spark)
    assert(r.statusCode == 200, r)
    assert(r.data.exists(_.contains("bytes_out")))
  }

  test("JobRunner parses -j / -c / --job like the reference CLI") {
    val (j1, s1) = JobRunner.parseArgs(Array(
      "--job", "CompressionJob", "-j",
      """{"input_source": "/a", "output_directory": "/b", "compression": "zstd"}"""))
    assert(j1 == "CompressionJob")
    assert(s1 == JobSettings("/a", "/b", Map("compression" -> "zstd")))

    val f = java.nio.file.Files.createTempFile("js", ".json")
    java.nio.file.Files.writeString(f,
      """{"input_source": "/c", "output_directory": "/d"}""")
    val (j2, s2) = JobRunner.parseArgs(Array("-c", f.toString))
    assert(j2 == "FormatConversionJob")
    assert(s2 == JobSettings("/c", "/d"))

    intercept[IllegalArgumentException] {
      JobRunner.parseArgs(Array("--bogus"))
    }
    intercept[IllegalArgumentException] {
      JobRunner.makeJob("NopeJob", JobSettings("/a", "/b"))
    }
  }

  test("SampleJob draws exactly the operator's priority sample") {
    val job = new SampleJob(JobSettings(
      s"$sf/documents.parquet", s"$out/sample",
      Map("sample_size" -> "50")))
    val r = job.runJob(spark)
    assert(r.statusCode == 200, r)
    assert(r.data.exists(_.contains("\"sampled\": 50")), r)
    val jobIds = spark.read.parquet(s"$out/sample")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val opIds = graft.ops.TrainPrep.prioritySample(
        spark.read.parquet(s"$sf/documents.parquet"), "doc_id", "n_chars", 50)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(jobIds == opIds, "job sample diverged from the operator's draw")
    // rerun determinism: the draw is a pure function of the id bytes
    assert(job.runJob(spark).statusCode == 200)
    val again = spark.read.parquet(s"$out/sample")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == jobIds)
  }

  test("CdcApplyJob applies the changelog to the batch operator's answer") {
    import org.apache.spark.sql.functions._
    // base + changelog staged from the operator's own deterministic log
    val base = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    base.write.mode("overwrite").parquet(s"$out/cdc_base")
    graft.ops.Lakehouse.cdcLog(spark, sf)
      .filter(col("seq") >= 1) // seq-0 inserts are the base itself
      .write.mode("overwrite").parquet(s"$out/cdc_log")
    val job = new CdcApplyJob(JobSettings(
      s"$out/cdc_base", s"$out/cdc_state",
      Map("changelog" -> s"$out/cdc_log")))
    val r = job.runJob(spark)
    assert(r.statusCode == 200, r)
    val got = spark.read.parquet(s"$out/cdc_state")
      .collect().map(_.toSeq).toSet
    val want = SparkEntry.queries("cdc_apply")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(got == want, "job state diverged from the cdc_apply operator")
  }
}
