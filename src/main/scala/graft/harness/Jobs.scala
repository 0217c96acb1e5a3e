package graft.harness

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Concrete ETL jobs filling the reference's `run_job` hook
  * (`core.py:108-110`): the reference ecosystem's namesake work is
  * "data compression and format conversion" (reference `pyproject.toml:7`),
  * expressed here as Spark read → write plans.
  *
  * Settings keys (via `JobSettings.extra`):
  *  - `input_format` / `output_format`: parquet | csv | json | orc
  *    (default parquet → parquet)
  *  - `compression`: codec for the output (zstd, gzip, snappy, none…)
  *  - `partition_by`: optional comma-separated partition columns
  */
class FormatConversionJob(s: JobSettings) extends GenericEtl[JobSettings](s) {

  private def read(spark: SparkSession): DataFrame = {
    val fmt = settings.extra.getOrElse("input_format", "parquet")
    val r = spark.read.format(fmt)
    fmt match {
      case "csv" => r.option("header", "true").option("inferSchema", "true")
        .load(settings.inputSource)
      case _ => r.load(settings.inputSource)
    }
  }

  override def runJob(spark: SparkSession): JobResponse =
    respond {
      val df = read(spark)
      val fmt = settings.extra.getOrElse("output_format", "parquet")
      var w = df.write.mode("overwrite").format(fmt)
      settings.extra.get("compression").foreach(c =>
        w = w.option("compression", c))
      if (fmt == "csv") w = w.option("header", "true")
      settings.extra.get("partition_by").foreach(cols =>
        w = w.partitionBy(cols.split(",").toSeq: _*))
      w.save(settings.outputDirectory)
      val opts: Map[String, String] =
        if (fmt == "csv") Map("header" -> "true") else Map.empty
      val n = spark.read.format(fmt).options(opts)
        .load(settings.outputDirectory).count()
      JobResponse(200, Some(s"wrote $n rows as $fmt"), Some(n.toString))
    }
}

/** Runs the engine's exact-dedup pipeline under the reference's job
  * contract: read `input_source` (a documents-shaped parquet with
  * `doc_id` + a text column), collapse exact duplicates by normalized
  * content fingerprint, write the keeper table to `output_directory`.
  * This is the switch-over path for a reference user: same settings /
  * response / `run_job` shape, engine operator inside.
  *
  * Settings keys (via `JobSettings.extra`):
  *  - `text_column`: the content column (default `text`)
  *  - `id_column`: the stable id used as keeper (default `doc_id`)
  */
class DedupJob(s: JobSettings) extends GenericEtl[JobSettings](s) {
  import org.apache.spark.sql.functions._

  override def runJob(spark: SparkSession): JobResponse =
    respond {
      val textCol = settings.extra.getOrElse("text_column", "text")
      val idCol = settings.extra.getOrElse("id_column", "doc_id")
      val df = spark.read.parquet(settings.inputSource)
      // the operator's own pipeline — not a copy that could drift from it
      graft.ops.Dedup.exactKeepers(df, idCol, textCol)
        .write.mode("overwrite").parquet(settings.outputDirectory)
      // one action over the durably-written output: re-reading what was
      // written both validates the sink and yields the stats; coalesce
      // keeps a 0-row input a 200, not an NPE from a null sum
      val row = spark.read.parquet(settings.outputDirectory)
        .agg(count(lit(1)).as("groups"),
          coalesce(sum(col("n_copies")), lit(0L)).as("docs"))
        .head()
      val groups = row.getLong(0)
      val dups = row.getLong(1) - groups
      JobResponse(200,
        Some(s"kept $groups unique docs, removed $dups duplicates"),
        Some(s"""{"unique": $groups, "duplicates": $dups}"""))
    }
}

/** Runs the engine's quality-filter pipeline under the reference's job
  * contract: read `input_source` (a documents-shaped parquet), score every
  * doc (token count, type-token ratio, avg word length), write the rows
  * passing all thresholds to `output_directory`, and report kept/rejected
  * counts — the corpus-curation decision step as a batch job.
  *
  * Settings keys (via `JobSettings.extra`):
  *  - `text_column`: the content column (default `text`)
  *  - `id_column`: the stable id column (default `doc_id`)
  */
class QualityFilterJob(s: JobSettings) extends GenericEtl[JobSettings](s) {
  import org.apache.spark.sql.functions._

  override def runJob(spark: SparkSession): JobResponse =
    respond {
      val textCol = settings.extra.getOrElse("text_column", "text")
      val idCol = settings.extra.getOrElse("id_column", "doc_id")
      val df = spark.read.parquet(settings.inputSource)
      val total = df.count()
      // the operator's own pipeline — not a copy that could drift from it
      graft.ops.TextOps.qualityFiltered(df, idCol, textCol)
        .write.mode("overwrite").parquet(settings.outputDirectory)
      val kept = spark.read.parquet(settings.outputDirectory).count()
      JobResponse(200,
        Some(s"kept $kept of $total docs, rejected ${total - kept}"),
        Some(s"""{"kept": $kept, "rejected": ${total - kept}}"""))
    }
}

/** ANALYZE-style stats collection under the reference's job contract:
  * profile a parquet table's columns (row count, ndv, min, max per
  * column) in one aggregate pass and write the stats table — the job a
  * lakehouse runs after ingest to feed CBO and data-skipping indexes.
  * Shares [[graft.ops.Lakehouse.profile]] with the `table_profile`
  * operator so the two cannot drift.
  *
  * Settings keys (via `JobSettings.extra`):
  *  - `columns`: comma-separated columns to profile (default: every
  *    atomic-typed column)
  */
class ProfileJob(s: JobSettings) extends GenericEtl[JobSettings](s) {
  import org.apache.spark.sql.functions.col

  override def runJob(spark: SparkSession): JobResponse =
    respond {
      val df = spark.read.parquet(settings.inputSource)
      import org.apache.spark.sql.types._
      val atomic: DataType => Boolean = {
        case _: NumericType | StringType | BooleanType | DateType |
             TimestampType | TimestampNTZType | BinaryType => true
        case _ => false
      }
      val names = settings.extra.get("columns")
        .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
        .getOrElse(df.schema.fields.toSeq
          .filter(f => atomic(f.dataType)).map(_.name))
      require(names.nonEmpty, "no atomic columns to profile")
      graft.ops.Lakehouse.profile(df, names.map(n => n -> col(n)))
        .write.mode("overwrite").parquet(settings.outputDirectory)
      val out = spark.read.parquet(settings.outputDirectory)
      val n = out.count()
      val rows = out.select("n_rows").head().getLong(0)
      JobResponse(200,
        Some(s"profiled $n columns over $rows rows"),
        Some(s"""{"columns": $n, "rows": $rows}"""))
    }
}

/** Compacts a small-file dataset: plans target file counts from the
  * input's actual byte size (the `compact_plan` operator's metadata-first
  * discipline), rewrites with that many files, and reports files/bytes
  * before → after. The settings key `target_file_bytes` (default 128 MiB)
  * is the only knob — the job derives everything else from the data.
  */
class CompactionJob(s: JobSettings) extends GenericEtl[JobSettings](s) {

  private def stats(spark: SparkSession, dir: String): (Long, Long) = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) (0L, 0L)
    else {
      // count DATA files only — a _SUCCESS marker is not a compaction
      // input and would make files_out=1 read as 2
      val files = fs.listStatus(p).filter(s =>
        s.isFile && s.getPath.getName.endsWith(".parquet"))
      (files.length.toLong, files.map(_.getLen).sum)
    }
  }

  override def runJob(spark: SparkSession): JobResponse =
    respond {
      val target = settings.extra.get("target_file_bytes")
        .map(_.toLong).getOrElse(128L * 1024 * 1024)
      val (filesIn, bytesIn) = stats(spark, settings.inputSource)
      val nFiles = math.max(1L, (bytesIn + target - 1) / target).toInt
      val df = spark.read.parquet(settings.inputSource)
      // coalesce, not repartition: planning fewer files must not buy a
      // full shuffle of the data — compaction is a rewrite, not a re-key
      df.coalesce(nFiles).write.mode("overwrite")
        .parquet(settings.outputDirectory)
      val (filesOut, bytesOut) = stats(spark, settings.outputDirectory)
      val n = spark.read.parquet(settings.outputDirectory).count()
      JobResponse(200,
        Some(s"compacted $filesIn files ($bytesIn B) into $filesOut " +
          s"($bytesOut B), $n rows"),
        Some(s"""{"rows": $n, "files_in": $filesIn, """ +
          s""""files_out": $filesOut}"""))
    }
}

/** Draws a weight-proportional sample under the reference's job contract:
  * read `input_source` (any parquet with an id and a numeric weight
  * column), run the engine's deterministic priority sampler
  * ([[graft.ops.TrainPrep.prioritySample]] — md5-derived uniform, w/u
  * priorities, k largest), write the sample to `output_directory`. The
  * draw is a pure function of the id bytes, so reruns, repartitions, and
  * engine swaps reproduce the same sample — the property a training-data
  * subsetting job needs for auditability.
  *
  * Settings keys (via `JobSettings.extra`):
  *  - `id_column`: stable id (default `doc_id`)
  *  - `weight_column`: sampling weight (default `n_chars`)
  *  - `sample_size`: k (default 100)
  */
class SampleJob(s: JobSettings) extends GenericEtl[JobSettings](s) {
  import org.apache.spark.sql.functions._

  override def runJob(spark: SparkSession): JobResponse =
    respond {
      val idCol = settings.extra.getOrElse("id_column", "doc_id")
      val wCol = settings.extra.getOrElse("weight_column", "n_chars")
      val k = settings.extra.getOrElse("sample_size", "100").toInt
      val df = spark.read.parquet(settings.inputSource)
      val total = df.count()
      // the operator's own pipeline — not a copy that could drift from it
      graft.ops.TrainPrep.prioritySample(df, idCol, wCol, k)
        .write.mode("overwrite").parquet(settings.outputDirectory)
      val out = spark.read.parquet(settings.outputDirectory)
      val row = out.agg(count(lit(1)).as("n"),
        coalesce(sum(col("w")), lit(0L)).as("w_sum")).head()
      JobResponse(200,
        Some(s"sampled ${row.getLong(0)} of $total rows by $wCol"),
        Some(s"""{"sampled": ${row.getLong(0)}, "total": $total,""" +
          s""" "weight_sum": ${row.getLong(1)}}"""))
    }
}

/** Applies an ordered CDC changelog onto a base snapshot under the
  * reference job contract: seed the state table with the base, then run
  * the SAME last-writer-wins merge the streaming sink calls
  * ([[graft.streaming.Streams.cdcApplyTo]]) — job and stream can never
  * drift. Settings: `inputSource` = base snapshot parquet (orders
  * schema), `extra.changelog` = changelog parquet (base columns + seq +
  * op ∈ I/U/D), `outputDirectory` = the state table.
  */
class CdcApplyJob(s: JobSettings) extends GenericEtl[JobSettings](s) {
  override def runJob(spark: SparkSession): JobResponse =
    respond {
      val changelog = settings.extra.getOrElse("changelog",
        settings.inputSource + "_changelog")
      val base = spark.read.parquet(settings.inputSource)
      val nBase = base.count()
      base.write.mode("overwrite").parquet(settings.outputDirectory)
      val log = spark.read.parquet(changelog)
      graft.streaming.Streams.cdcApplyTo(settings.outputDirectory)(log, 0L)
      val n = spark.read.parquet(settings.outputDirectory).count()
      JobResponse(200,
        Some(s"applied changelog onto $nBase base rows -> $n live rows"),
        Some(s"""{"base_rows": $nBase, "live_rows": $n}"""))
    }
}

/** Re-encodes a dataset with a different parquet codec and reports the
  * before/after byte sizes (the "compression job" shape of the reference
  * ecosystem).
  */
class CompressionJob(s: JobSettings) extends GenericEtl[JobSettings](s) {

  private def dirBytes(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L
    else fs.getContentSummary(p).getLength
  }

  override def runJob(spark: SparkSession): JobResponse =
    respond {
      val codec = settings.extra.getOrElse("compression", "zstd")
      val df = spark.read.parquet(settings.inputSource)
      df.write.mode("overwrite").option("compression", codec)
        .parquet(settings.outputDirectory)
      val before = dirBytes(spark, settings.inputSource)
      val after = dirBytes(spark, settings.outputDirectory)
      val n = spark.read.parquet(settings.outputDirectory).count()
      JobResponse(200,
        Some(s"recompressed $n rows with $codec: $before -> $after bytes"),
        Some(s"""{"rows": $n, "bytes_in": $before, "bytes_out": $after}"""))
    }
}
