package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines (SURVEY.md §2B):
  * tokenization, tf-idf, n-grams, corpus stats, quality scoring, language-ID
  * heuristic, and winnowing fingerprints. Tokenization is a single
  * `split(lower(trim(text)), ' ')` everywhere so every operator agrees on
  * token identity with the DuckDB oracle.
  */
object TextOps {
  import Tables._

  /** The `text_domain_classify` keyword list (data-engineering domain,
    * chosen to discriminate on the fixture vocabulary). Single definition
    * shared by the query and its oracle SQL so the two cannot drift.
    */
  private val DomainLexicon = Seq(
    "join", "hash", "merge", "sort", "filter", "scan",
    "query", "agg", "batch", "column", "spark", "window")

  private def toks(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .withColumn("toks", split(lower(trim(col("text"))), " "))

  /** Corpus word counts `(word, cnt)` — the one corpus-linear pass shared
    * with [[Aggregates]]' Count-Min sketch (everything downstream of it is
    * vocab-sized).
    *
    * Memoized per (session, sf) like [[Graph.lpaLabels]]: FOUR consumers
    * (`agg_countmin`, `text_hapax_stats`, `text_template_mining`,
    * `text_doc_perplexity`) each re-ran the full corpus explode + count
    * otherwise. The output is Zipf-small (vocabulary, not corpus), so the
    * pin is O(vocab).
    */
  def wordCounts(s: SparkSession, d: String): DataFrame =
    graft.plans.ScopedMemo(s, s"text_word_counts#$d")(
      corpus(s, d)
        .select(explode(split(lower(trim(col("text"))), " ")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("cnt")))

  /** Chunk width for `text_boilerplate`: 3 tokens — sized to the fixture's
    * ~31-word near-uniform vocabulary so repeated chunks actually occur
    * (~3% of chunk types at every SF). Real corpora use lines/sentences;
    * the pipeline shape is identical.
    */
  val BoilerW = 3

  /** A chunk is boilerplate when it appears in >= this many distinct docs. */
  val BoilerDf = 3

  /** One-pass heavy hitters (Misra-Gries): per-partition MG sketches with
    * K counters emit candidate values; pigeonhole guarantees every value
    * with GLOBAL freq > n/K exceeds n_p/K in some partition, so the
    * candidate union covers all true heavy hitters. The exact recount then
    * runs over candidate values only (broadcast semi-join prunes it), and
    * the > n/K threshold filter makes the OUTPUT exactly the true
    * heavy-hitter set — deterministic even though the candidate set itself
    * is partitioning-dependent (the LSH-then-verify discipline). At 100 TB
    * this shuffles O(K × partitions) candidates instead of the full
    * distinct-value space; mapPartitions is the legitimate
    * per-partition-imperative case (a decrementing counter table has no
    * declarative form). Input: one StringType column named `word`.
    */
  def heavyHitters(words: DataFrame, k: Int): DataFrame = {
    val s = words.sparkSession
    import s.implicits._
    val total = words.agg(count(lit(1)).as("n_total"))
    val cands = words.as[String].mapPartitions { it =>
      val counters = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { x =>
        if (counters.contains(x)) counters(x) += 1L
        else if (counters.size < k) counters(x) = 1L
        else {
          counters.mapValuesInPlace((_, c) => c - 1L)
          counters.filterInPlace((_, c) => c > 0L)
        }
      }
      counters.keysIterator
    }.toDF("word").distinct()
    words.join(broadcast(cands), "word")
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .crossJoin(broadcast(total))
      .filter(col("freq") > col("n_total").cast("double") / k)
      .select(col("word"), col("freq"),
        round(col("freq").cast("double") / col("n_total"), 6).as("share"))
      .orderBy(col("freq").desc, col("word"))
  }

  /** Shared quality metrics — single definition per side so the Spark code
    * and the oracle SQL cannot drift (the Tables.sql pattern).
    */
  private object metrics {
    val nTokens: Column = size(col("toks")).cast("long")
    val ttr: Column = expr("size(array_distinct(toks))").cast("double")
      .divide(size(col("toks")))
    val avgWordLen: Column =
      length(regexp_replace(col("text"), " ", "")).cast("double") /
        size(col("toks"))
    // SQL twins over `w` = string_split(lower(trim(text)), ' ')
    val nTokensSql = "CAST(len(w) AS BIGINT)"
    val ttrSql = "CAST(len(list_distinct(w)) AS DOUBLE) / len(w)"
    val avgWordLenSql =
      "CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(w)"
  }

  /** The marker-count language scorer shared by `text_langid` and
    * `text_lang_confusion`: per-doc per-language marker hits plus the
    * argmax prediction (ties resolve in [[LangMarkers]] order — en first —
    * exactly as the chained CASE in the oracle SQL does).
    */
  private def langScored(s: SparkSession, d: String): DataFrame = {
    val scored = LangMarkers.foldLeft(toks(s, d)) { case (df, (lang, ws)) =>
      df.withColumn(s"s_$lang", expr(
        s"size(filter(toks, t -> t IN (${ws.map("'" + _ + "'").mkString(", ")})))"))
    }
    val langs = LangMarkers.map(_._1)
    val pred = langs.init.foldRight(lit(langs.last)) { case (lang, rest) =>
      val others = langs.filterNot(_ == lang)
      when(others.map(o => col(s"s_$lang") >= col(s"s_$o"))
        .reduce(_ && _), lang).otherwise(rest)
    }
    scored.withColumn("actual", col("lang")).withColumn("predicted", pred)
  }

  /** BM25 query terms for `text_bm25` — two head terms plus the corpus's
    * one rare token ("dup", ~0.1% of occurrences), so the idf factor
    * separates scores instead of collapsing on the near-uniform head.
    */
  val Bm25Terms: Seq[String] = Seq("hash", "join", "dup")

  /** The per-(doc, term) Okapi BM25 score (k1 = 1.2, b = 0.75), rounded
    * to 9 as an exact decimal — ONE formula string shared verbatim
    * between the Spark `expr` and the DuckDB oracle so the two float
    * pipelines cannot drift (the metrics.*Sql pattern). Operand columns
    * on both sides: `tf`, `df`, `dl`, `n_docs`, `sum_dl`; idf is the
    * +1-inside-the-log form (always positive), and dl/avgdl is computed
    * as dl·n_docs/sum_dl so the only division is by an exact integer
    * cast — no pre-rounded intermediate feeds another operation.
    */
  val Bm25TermScore: String =
    """CAST(round(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
      |  * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75
      |    * (dl * n_docs / CAST(sum_dl AS DOUBLE)))), 9)
      |  AS DECIMAL(20,9))""".stripMargin

  /** Stopword marker sets for the language-ID heuristic; fixed, tiny, and
    * mirrored verbatim in the oracle SQL.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "de", "et", "est"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4", "he2"))

  /** The quality-filter pipeline (score every doc, keep those passing all
    * thresholds), shared between the `pipeline_quality_filter` operator and
    * the harness-level [[graft.harness.QualityFilterJob]] so the two can
    * never drift apart (the exactKeepers pattern).
    */
  def qualityFiltered(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs
      .withColumn("text", col(textCol))
      .withColumn("toks", split(lower(trim(col("text"))), " "))
      .withColumn("n_tokens", metrics.nTokens)
      .withColumn("ttr", metrics.ttr)
      .withColumn("avg_word_len", metrics.avgWordLen)
      .filter(col("n_tokens").between(15, 80)
        && col("ttr") >= 0.3
        && col("avg_word_len").between(2.0, 12.0))
      .select(col(idCol), col("n_tokens"), col("ttr"), col("avg_word_len"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_tokens" -> ((s, d) =>
      toks(s, d)
        .select(explode(col("toks")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word"))),

    // vocabulary-coverage curve: what fraction of all token OCCURRENCES
    // the top-k vocabulary covers, at each candidate vocab size — the
    // tokenizer-budget design table (pick the k where the curve bends).
    // The corpus collapses to (token, freq) in one map-combined
    // aggregate; everything after runs on the top-64 of the VOCABULARY
    // (≪ corpus, the Zipf reality that makes the op cheap at 100 TB),
    // heap-pruned before any exchange. Sizes beyond the vocabulary saturate:
    // n_vocab_used reports the true cutoff, coverage reaches 1.0.
    "text_vocab_coverage" -> { (s, d) =>
      import s.implicits._
      val freq = toks(s, d)
        .select(explode(col("toks")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("n"))
      // only ranks ≤ 64 matter (the size grid stops at 64), so the rank
      // never touches the full vocabulary (r8 VERDICT: a vocab-global
      // row_number is a one-task sort of 10⁸–10⁹ rows at web scale).
      // Global top-64 via the bounded-heap TopKPerKey operator under a
      // constant key — partial heaps prune each scan partition to ≤64
      // rows BEFORE the exchange. The residual rank over the ≤64
      // survivors is a bounded O(64²) self-join count (window-free: a
      // global rank window would plan as WindowExec-on-one-partition
      // even at this size, and a literal partition key folds away).
      val top = graft.plans.TopKPerKey.topK(freq, Seq(lit(1)),
        Seq(col("n").desc, col("tok")), 64)
      val ranked = top
        .join(top.select(col("n").as("n2"), col("tok").as("tok2")),
          col("n2") > col("n")
            || (col("n2") === col("n") && col("tok2") <= col("tok")))
        .groupBy("tok", "n")
        .agg(count(lit(1)).as("rnk"))
      val total = freq.agg(sum(col("n")).as("n_total"))
      val sizes = Seq(1L, 2L, 4L, 8L, 16L, 32L, 64L).toDF("vocab_size")
      broadcast(sizes).join(ranked, col("rnk") <= col("vocab_size"))
        .groupBy("vocab_size")
        .agg(max(col("rnk")).as("n_vocab_used"),
          sum(col("n")).as("covered"))
        .crossJoin(broadcast(total))
        .select(col("vocab_size"), col("n_vocab_used"), col("covered"),
          round(col("covered").cast("double")
            / col("n_total").cast("double"), 6).as("coverage"))
        .orderBy("vocab_size")
    },

    // BPE-style pre-tokenization count next to the whitespace count: the
    // GPT-2-family pre-tokenizer splits off punctuation runs and digit
    // runs before merges, so its token count (the billing/packing unit)
    // runs higher than whitespace words. The pattern below is the
    // RE2-compatible core of that splitter (letter runs / digit runs /
    // other-symbol runs, each with optional leading space) — shared
    // verbatim with the oracle. Pure projection, no shuffle until the
    // final ORDER BY.
    "text_tokens_regex" -> ((s, d) =>
      corpus(s, d)
        .select(col("doc_id"),
          size(split(lower(trim(col("text"))), " ")).cast("long")
            .as("n_tok_ws"),
          expr("""CAST(size(regexp_extract_all(text,
            |' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+', 0)) AS BIGINT)"""
            .stripMargin).as("n_tok_bpe"))
        .orderBy("doc_id")),

    // tokenizer fertility by source: BPE-ish tokens per whitespace word
    // and chars per token — the table a tokenizer owner reads per corpus
    // slice (fertility >> 1 on a source flags scripts/markup the merges
    // never learned; chars/token is the compression the context window
    // actually gets). One map-side projection (both tokenizers are
    // per-row regexes) + one O(#sources) aggregate — ratios of exact
    // integer sums, so partial-agg order can't move them.
    "text_tokenizer_fertility" -> { (s, d) =>
      corpus(s, d)
        .select(col("source"),
          size(split(lower(trim(col("text"))), " ")).cast("long")
            .as("ws"),
          expr("""CAST(size(regexp_extract_all(text,
            |' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+', 0)) AS BIGINT)"""
            .stripMargin).as("bpe"),
          length(col("text")).cast("long").as("nc"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("ws")).as("n_tok_ws"),
          sum(col("bpe")).as("n_tok_bpe"), sum(col("nc")).as("n_chars"))
        .select(col("source"), col("n_docs"), col("n_tok_ws"),
          col("n_tok_bpe"),
          round(col("n_tok_bpe").cast("double")
            / col("n_tok_ws").cast("double"), 6).as("fertility"),
          round(col("n_chars").cast("double")
            / col("n_tok_bpe").cast("double"), 6).as("chars_per_tok"))
        .orderBy("source")
    },

    // CCNet-style perplexity terciles per source: docs ranked by their
    // unigram-LM cross-entropy (the text_doc_perplexity kernel) and cut
    // into head/middle/tail thirds WITHIN each source — the bucketing
    // that lets a pipeline keep the head of a noisy source and sample
    // the tail of a clean one. ntile(3) over (source, avg_nll, doc_id)
    // is deterministic on both engines (same extra-row-to-early-buckets
    // rule); the per-source window partitions by source — parallel
    // across sources, never global. Bucket means sum the round-6 scores
    // as exact DECIMAL(16,6) first (partial-agg-proof), then divide.
    "text_perplexity_buckets" -> { (s, d) =>
      val tf = toks(s, d)
        .select(col("doc_id"), explode(col("toks")).as("word"))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      val lm = wordCounts(s, d)
      val tot = lm.agg(sum(col("cnt")).as("n_corpus"),
        count(lit(1)).as("vocab"))
      val nll = tf.join(lm, "word")
        .crossJoin(broadcast(tot))
        .withColumn("nll", expr(
          """CAST(round(tf * -ln(CAST(cnt + 1 AS DOUBLE)
            |  / (n_corpus + vocab)), 9) AS DECIMAL(20,9))""".stripMargin))
        .groupBy("doc_id")
        .agg(round(sum(col("nll")).cast("double") / sum(col("tf")), 6)
          .as("avg_nll"))
      val w = Window.partitionBy("source")
        .orderBy(col("avg_nll"), col("doc_id"))
      nll.join(t(s, d, "documents").select("doc_id", "source"), "doc_id")
        .withColumn("bucket", ntile(3).over(w).cast("long"))
        .groupBy("source", "bucket")
        .agg(count(lit(1)).as("n_docs"),
          (sum(col("avg_nll").cast("decimal(16,6)")).cast("double")
            / count(lit(1))).as("sum_over_n"),
          min(col("avg_nll")).as("min_nll"),
          max(col("avg_nll")).as("max_nll"))
        .select(col("source"), col("bucket"), col("n_docs"),
          round(col("sum_over_n"), 6).as("mean_nll"),
          col("min_nll"), col("max_nll"))
        .orderBy("source", "bucket")
    },

    // Okapi BM25 retrieval for the fixed query [[Bm25Terms]] (two head
    // terms + the corpus's one rare token, so the idf axis is actually
    // exercised) — the lexical ranker of every hybrid retrieval stack,
    // next to the dense `sim_*` paths. tf is computed ONLY for the query
    // terms (the isin filter runs inside the corpus-linear explode, so
    // the per-doc table is O(matching docs × |q|), never vocab-sized);
    // df and the length stats are |q|-row / 1-row broadcast scalars. The
    // per-(doc, term) scores round to 9 as exact decimals before the
    // per-doc sum (partial-agg-proof), and the global top-20 goes
    // through the bounded-heap TopKPerKey under a constant key (≤20
    // rows per partition move) with the O(20²) self-join rank — the
    // text_vocab_coverage discipline, no global window anywhere.
    "text_bm25" -> { (s, d) =>
      val docs = toks(s, d)
        .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
          col("toks"))
      val stats = docs.agg(count(lit(1)).as("n_docs"),
        sum(col("dl")).as("sum_dl"))
      val tf = docs
        .select(col("doc_id"), col("dl"), explode(col("toks")).as("word"))
        .filter(col("word").isin(Bm25Terms: _*))
        .groupBy("doc_id", "dl", "word").agg(count(lit(1)).as("tf"))
      val dft = tf.groupBy("word").agg(count(lit(1)).as("df"))
      val perDoc = tf.join(broadcast(dft), "word")
        .crossJoin(broadcast(stats))
        .withColumn("ts", expr(Bm25TermScore))
        .groupBy("doc_id")
        .agg(sum(col("ts")).as("sc"), count(lit(1)).as("n_terms"))
      val top = graft.plans.TopKPerKey.topK(perDoc, Seq(lit(1)),
        Seq(col("sc").desc, col("doc_id")), 20)
      top.join(top.select(col("sc").as("sc2"), col("doc_id").as("doc2")),
          col("sc2") > col("sc")
            || (col("sc2") === col("sc") && col("doc2") <= col("doc_id")))
        .groupBy("doc_id", "sc", "n_terms")
        .agg(count(lit(1)).as("rnk"))
        .select(col("rnk"), col("doc_id"), col("n_terms"),
          round(col("sc").cast("double"), 6).as("score"))
        .orderBy("rnk")
    },

    "text_tfidf" -> { (s, d) =>
      val docs = t(s, d, "documents")
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val tf = toks(s, d)
        .select(col("doc_id"), explode(col("toks")).as("word"))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
      tf.join(broadcast(df), "word")
        .crossJoin(broadcast(n))
        .filter(col("doc_id") < 50)
        .select(col("doc_id"), col("word"), col("tf"),
          round(col("tf").cast("double")
            * log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0))), 6)
            .as("tfidf"))
        .orderBy("doc_id", "word")
    },

    // bigrams as zip_with over two shifted slices: two array allocations per
    // row instead of one slice per element (the transform(sequence) form)
    "text_ngrams" -> ((s, d) =>
      toks(s, d)
        .withColumn("grams",
          when(size(col("toks")) >= 2, expr(
            """zip_with(slice(toks, 1, size(toks) - 1),
              |         slice(toks, 2, size(toks) - 1),
              |         (a, b) -> concat(a, ' ', b))""".stripMargin))
            .otherwise(array()))
        .select(explode(col("grams")).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("bigram"))),

    // unigram language-model scoring: fit the corpus unigram LM (one
    // vocab aggregate + one O(1) total), then score every document by its
    // mean token log-probability — the cheap perplexity proxy quality
    // filters use to drop gibberish/boilerplate before training. Plan:
    // the vocab is a broadcast dim (Zipf keeps it ≪ corpus), so scoring
    // is a map-side join over the exploded tokens — one shuffle for the
    // vocab count, one for the per-doc aggregate, nothing quadratic.
    // Per-token log-probs are rounded then decimal-summed so partial-agg
    // merge order can never move a score (Tables discipline).
    "text_unigram_lm" -> { (s, d) =>
      val words = toks(s, d)
        .select(col("doc_id"), explode(col("toks")).as("word"))
      val vocab = words.groupBy("word").agg(count(lit(1)).as("cnt"))
      val total = vocab.agg(sum("cnt").as("n_total"))
      words.join(broadcast(vocab), "word")
        .crossJoin(broadcast(total))
        .withColumn("lp", expr(
          "CAST(round(ln(CAST(cnt AS DOUBLE) / n_total), 9) AS DECIMAL(20,9))"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"),
          round(sum(col("lp")).cast("double") / count(lit(1)), 6)
            .as("avg_logp"))
        .orderBy("doc_id")
    },

    // one-pass heavy hitters (Misra-Gries) over the corpus tokens. On the
    // fixture's FLAT ~31-word vocabulary every word clears the n/64 bar
    // (there are no true heavy hitters in uniform data), so the oracle
    // checks the exact-count pipeline end-to-end while the sketch's
    // discriminating regime — a planted 30% hitter inside a 1000-value
    // tail — is pinned by PropertySpec against brute force.
    "text_heavy_hitters" -> { (s, d) =>
      heavyHitters(
        corpus(s, d)
          .select(explode(split(lower(trim(col("text"))), " ")).as("word")),
        64)
    },

    "text_lang_stats" -> ((s, d) =>
      toks(s, d)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("total_chars"),
          (sum(col("n_chars")).cast("double") / count(lit(1)))
            .as("avg_chars"),
          sum(size(col("toks"))).cast("long").as("n_tokens"))
        .orderBy("lang")),

    "text_quality" -> ((s, d) =>
      toks(s, d)
        .select(col("doc_id"),
          metrics.nTokens.as("n_tokens"),
          length(col("text")).cast("long").as("len"),
          metrics.avgWordLen.as("avg_word_len"),
          (expr("""size(filter(toks,
               |  t -> t IN ('the', 'a', 'of', 'and', 'to', 'in', 'is')))"""
              .stripMargin).cast("double") / size(col("toks")))
            .as("stopword_ratio"),
          metrics.ttr.as("ttr"),
          size(expr("regexp_extract_all(text, '[a-z0-9]+', 0)"))
            .cast("long").as("n_regex_tokens"))
        .orderBy("doc_id")),

    // the end-to-end training-data decision step: score every doc, keep
    // those passing all thresholds — the filter a real corpus pipeline
    // applies before training
    // thresholds reject ~25% of fixture docs at every scale, so the
    // keep/reject decision is genuinely exercised by the oracle gate
    "pipeline_quality_filter" -> ((s, d) =>
      qualityFiltered(t(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // per-source entropy rate: unigram entropy H(w) and bigram
    // CONDITIONAL entropy H(w₂|w₁) — the sequence-predictability pair
    // behind template detection (a templated/boilerplate source has
    // near-zero conditional entropy long before its unigram entropy
    // drops, because the words stay varied but their ORDER is frozen).
    // The corpus collapses to per-source (w₁, w₂) counts once; c₁ is the
    // marginal of that same table (no second corpus pass); every ln term
    // is rounded to the 1e-9 grid and decimal-summed (the bigram-LM
    // discipline) so partial-agg order cannot move an entropy.
    "text_ngram_entropy_rate" -> { (s, d) =>
      val docs = toks(s, d)
      val c2 = docs.filter(size(col("toks")) >= 2)
        .select(col("source"), explode(expr(
          """transform(sequence(0, size(toks) - 2),
            |  i -> struct(toks[i] AS w1, toks[i + 1] AS w2))"""
            .stripMargin)).as("b"))
        .select(col("source"), col("b.w1").as("w1"), col("b.w2").as("w2"))
        .groupBy("source", "w1", "w2").agg(count(lit(1)).as("c2"))
      val c1 = c2.groupBy("source", "w1").agg(sum(col("c2")).as("c1"))
      val cond = c2.join(c1, Seq("source", "w1"))
        .withColumn("t", expr("CAST(round(c2 * ln(CAST(c2 AS DOUBLE) " +
          "/ CAST(c1 AS DOUBLE)), 9) AS DECIMAL(20,9))"))
        .groupBy("source")
        .agg(sum(col("c2")).as("n_bigrams"), sum(col("t")).as("st"))
      val uni = docs.select(col("source"), explode(col("toks")).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("c"))
      val nt = uni.groupBy("source").agg(sum(col("c")).as("n_tokens"))
      val un = uni.join(nt, "source")
        .withColumn("t", expr("CAST(round(c * ln(CAST(c AS DOUBLE) " +
          "/ CAST(n_tokens AS DOUBLE)), 9) AS DECIMAL(20,9))"))
        .groupBy("source").agg(sum(col("t")).as("su"))
      cond.join(nt, "source").join(un, "source")
        .select(col("source"), col("n_tokens"), col("n_bigrams"),
          round(-col("su").cast("double")
            / col("n_tokens").cast("double"), 6).as("h_uni"),
          round(-col("st").cast("double")
            / col("n_bigrams").cast("double"), 6).as("h_cond"))
        .orderBy("source")
    },

    // quality pass-rate per source — the "which feeds to cut" table a
    // curation review reads next to corpus_pipeline_funnel's totals: a
    // source whose pass rate sits far below the corpus mean is a crawl
    // or extraction problem, not a sampling one. The flag is THE
    // qualityFiltered kernel (never a re-derived threshold copy); one
    // left-semi-shaped join and one keyed agg to O(#sources) rows;
    // avg_tokens stays an integer-sum ÷ count division.
    "corpus_quality_by_source" -> { (s, d) =>
      val docs = t(s, d, "documents")
      val pass = qualityFiltered(docs, "doc_id", "text")
        .select(col("doc_id"), lit(true).as("q_keep"))
      docs.select(col("doc_id"), col("source"),
          size(split(lower(trim(col("text"))), " ")).cast("long")
            .as("n_tokens"))
        .join(pass, Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("q_keep"), 1L).otherwise(0L)).as("n_pass"),
          sum(col("n_tokens")).as("tok_sum"))
        .select(col("source"), col("n_docs"), col("n_pass"),
          round(col("n_pass").cast("double")
            / col("n_docs").cast("double"), 6).as("pass_rate"),
          round(col("tok_sum").cast("double")
            / col("n_docs").cast("double"), 2).as("avg_tokens"))
        .orderBy("source")
    },

    // edit distance (integer-deterministic on both engines): distance of
    // each doc's prefix to a fixed probe, and between two of its own
    // windows — the fuzzy-matching primitive for near-dup triage and
    // OCR/typo-noise scoring
    "text_editdist" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          levenshtein(substring(col("text"), 1, 30),
            lit("the quick brown fox jumps over")).cast("long")
            .as("dist_probe"),
          levenshtein(substring(col("text"), 1, 20),
            substring(col("text"), 11, 20)).cast("long").as("dist_self"))
        .orderBy("doc_id")),

    // fixed-lexicon domain classifier: per-doc hit-rate against a curated
    // keyword list + a threshold label — the shape of every lexicon-gated
    // corpus router (code/math/medical/domain filters in training-data
    // curation: cheap, auditable, runs before any model-based classifier).
    // Pure in-codegen array fold per row (no explode, no shuffle beyond
    // the final order) — map-only at any corpus size; the lexicon is a
    // LITERAL (real deployments broadcast a file, same plan shape). The
    // label compares the UNROUNDED ratio on both engines (long/long
    // division is one IEEE op), so the cut is bit-identical.
    "text_domain_classify" -> { (s, d) =>
      val lex = DomainLexicon.map(w => s"'$w'").mkString(", ")
      t(s, d, "documents")
        .select(col("doc_id"), col("source"),
          split(lower(trim(col("text"))), " ").as("toks"))
        .select(col("doc_id"), col("source"),
          size(col("toks")).cast("long").as("n_tok"),
          expr(s"CAST(size(filter(toks, t -> array_contains(" +
            s"array($lex), t))) AS BIGINT)").as("n_hits"),
          expr(s"""CASE WHEN size(filter(toks, t -> array_contains(
            |  array($lex), t))) / size(toks) >= 0.35
            |THEN 'technical' ELSE 'general' END""".stripMargin)
            .as("domain"))
        .withColumn("hit_ratio",
          round(col("n_hits") / col("n_tok"), 6))
        .select("doc_id", "source", "n_tok", "n_hits", "hit_ratio",
          "domain")
        .orderBy("doc_id")
    },

    "text_langid" -> ((s, d) =>
      langScored(s, d)
        .select(col("doc_id"), col("actual"), col("predicted"),
          col("s_en").cast("long").as("score_en"))
        .orderBy("doc_id")),

    // character-trigram naive-Bayes language ID — the production langid
    // architecture (fastText/CLD-style char n-gram features) next to the
    // marker heuristic above, trained and evaluated on the corpus's own
    // labels. Add-one smoothing folds into a closed form that keeps the
    // plan corpus-linear: score(doc, lang) = Σ_seen tf·ln(cnt_lang+1)
    // − n_tri(doc)·ln(tot_lang+V), because unseen trigrams hit
    // ln(0+1)=0 in the first term — no doc×vocab densification, the
    // only join is doc-trigrams against the (lang × trigram) count
    // table, which is a broadcast dim (char-trigram vocabulary is
    // Zipf-bounded at any corpus size). Decimal round-9 sums; the
    // per-doc argmax is a doc-partitioned window; output is the
    // O(langs²) confusion census.
    "text_char_trigram_langid" -> { (s, d) =>
      val docs = corpus(s, d)
        .select(col("doc_id"), col("lang"),
          lower(trim(col("text"))).as("txt"))
        .filter(length(col("txt")) >= 3)
      // memoized (the contamination_check pattern): THREE consumers read
      // this corpus-linear explode+count — the lm build, the seen-score
      // join, and the per-doc totals — and un-pinned each re-runs the
      // 3·n_chars substring explode (measured 9.2 -> ~4 s at sf0.1).
      // ScopedMemo, not a bare .cache(): the bare pin was an r11 leak.
      val tf = graft.plans.ScopedMemo(s, s"trigram_langid_tf#$d")(docs
        .select(col("doc_id"), col("lang"), explode(expr(
          "transform(sequence(1, length(txt) - 2), " +
            "i -> substring(txt, i, 3))")).as("tri"))
        .groupBy("doc_id", "lang", "tri")
        .agg(count(lit(1)).as("tf")))
      val lm = tf.groupBy("lang", "tri")
        .agg(sum(col("tf")).as("cnt"))
      val vocab = lm.select("tri").distinct()
        .agg(count(lit(1)).as("v_sz"))
      val langTot = lm.groupBy("lang").agg(sum(col("cnt")).as("tot"))
        .crossJoin(broadcast(vocab))
        .select(col("lang").as("cand"),
          expr("CAST(round(ln(CAST(tot + v_sz AS DOUBLE)), 9) " +
            "AS DECIMAL(20,9))").as("lnz"))
      // r14 (guide §1.2 per-task work): ln(cnt+1) depends only on the
      // (lang, tri) LM row, so compute it ONCE per broadcast row instead
      // of once per joined corpus row (~16M ln() calls -> ~120k at
      // sf0.1). Bit-identical: the same double ln feeds the same double
      // multiply, and the round(·,9) trajectory the oracle pins is
      // unchanged. The isolated profile (r14) shows this key is
      // executor-compute-bound (85 s CPU over 32 cores post-memo), so
      // per-row work is the only lever left.
      val seen = tf
        .join(broadcast(lm.select(col("lang").as("cand"), col("tri"),
          expr("ln(CAST(cnt + 1 AS DOUBLE))").as("lnc"))), "tri")
        .groupBy("doc_id", "cand")
        .agg(sum(expr("CAST(round(tf * lnc, 9) " +
          "AS DECIMAL(20,9))")).as("s1"))
      val nTri = tf.groupBy("doc_id").agg(sum(col("tf")).as("n_tri"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("cand"))
      // full doc × language grid (a zero-overlap candidate still
      // competes at pure smoothing mass — seen-only rows would silently
      // drop it from the argmax)
      docs.select(col("doc_id"), col("lang"))
        .join(nTri, "doc_id")
        .crossJoin(broadcast(langTot))
        .join(seen, Seq("doc_id", "cand"), "left")
        .withColumn("score",
          coalesce(col("s1"), expr("CAST(0 AS DECIMAL(20,9))"))
            - col("n_tri") * col("lnz"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .groupBy(col("lang").as("actual"), col("cand").as("predicted"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("actual", "predicted")
    },

    // language-ID confusion matrix — the eval view for the marker
    // heuristic (per (actual, predicted) cell: count + the within-actual
    // recall share). The classifier-eval census every labeling pipeline
    // reports; one keyed agg over the shared scorer + an O(langs)
    // per-actual total window. Diagonal share = per-class recall.
    "text_lang_confusion" -> { (s, d) =>
      val cells = langScored(s, d)
        .groupBy("actual", "predicted").agg(count(lit(1)).as("n_docs"))
      cells
        .withColumn("n_actual",
          sum(col("n_docs")).over(Window.partitionBy("actual")))
        .select(col("actual"), col("predicted"), col("n_docs"),
          round(col("n_docs").cast("double") / col("n_actual"), 6)
            .as("share"),
          (col("actual") === col("predicted")).as("is_correct"))
        .orderBy("actual", "predicted")
    },

    // training-chunk preparation: overlapping token windows (32 tokens,
    // stride 24) — the standard fixed-context packing step before
    // tokenizer/batch assembly. Pure projection + generator (no shuffle):
    // chunk starts come from `sequence`, the window from `slice`, so the
    // plan is embarrassingly parallel at any corpus size.
    "text_chunk" -> ((s, d) =>
      toks(s, d)
        .select(col("doc_id"),
          explode(expr("sequence(1, greatest(size(toks), 1), 24)"))
            .as("start"),
          col("toks"))
        .withColumn("chunk", expr("slice(toks, start, 32)"))
        .select(col("doc_id"),
          ((col("start") - 1) / 24).cast("long").as("chunk_idx"),
          size(col("chunk")).cast("long").as("n_in_chunk"),
          concat_ws(" ", col("chunk")).as("chunk_text"))
        .orderBy("doc_id", "chunk_idx")),

    // Gopher-style intra-document repetition signal: the fraction of
    // duplicate 3-gram shingles per doc (0 = no internal repetition). The
    // same trigram definition as the dedup pipeline, WITHOUT array_distinct
    // — the duplicates are the signal here.
    "text_repetition" -> ((s, d) =>
      toks(s, d)
        .filter(size(col("toks")) >= 3)
        .withColumn("grams", expr(
          """transform(sequence(0, size(toks) - 3),
            |  i -> concat_ws(' ', slice(toks, i + 1, 3)))""".stripMargin))
        .select(col("doc_id"),
          size(col("grams")).cast("long").as("n_grams"),
          round(lit(1.0) - size(array_distinct(col("grams")))
            .cast("double") / size(col("grams")), 6).as("rep_ratio"))
        .orderBy("doc_id")),

    // PII redaction — the mandatory scrub pass before a corpus ships to
    // training. The fixture text is PII-free by construction, so the raw
    // side is synthesized deterministically from event fields (a log line
    // with an email, an IPv4, and numeric ids); the operator under test is
    // the redaction cascade itself: email -> <EMAIL>, then IPv4 -> <IP>,
    // then any remaining digit run -> <NUM> (order matters — the broader
    // pattern must not eat the structured ones). Pure projection, zero
    // shuffle: at 100 TB this is a map-only pass whose cost is the regex
    // engine, which is why the patterns are linear character-class scans
    // (no backtracking constructs — they also have to mean the same thing
    // to DuckDB's RE2).
    "text_pii_scrub" -> ((s, d) =>
      t(s, d, "events")
        .withColumn("raw", concat(
          lit("uid="), col("user_id"),
          lit(" mail=u"), col("user_id"), lit("@example.com"),
          lit(" ip=10.0."), pmod(col("user_id"), lit(256)),
          lit("."), pmod(col("event_id"), lit(256)),
          lit(" "), col("props")))
        .select(col("event_id"),
          regexp_replace(regexp_replace(regexp_replace(col("raw"),
            "[a-z0-9._]+@[a-z0-9.-]+", "<EMAIL>"),
            "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"),
            "\\d+", "<NUM>").as("clean"))
        .orderBy("event_id")),

    // winnowing fingerprints via the native WinnowFingerprints expression
    // (3-gram shingle hashes, min per window of 4, distinct). The FNV-1a
    // hash IS DuckDB-expressible (recursive CTE over distinct shingles,
    // the dedup_simhash precedent), so this has a full oracle. NOTE: the
    // native window-min and TreeSet order compare SIGNED longs, so the
    // oracle converts UBIGINT->BIGINT two's-complement BEFORE its min.
    "text_fingerprint" -> { (s, d) =>
      graft.functions.WinnowFingerprints.register(s)
      toks(s, d)
        .filter(size(col("toks")) >= 6)
        .select(col("doc_id"), explode(expr("winnow_fps(toks)"))
          .as("fingerprint"))
        .orderBy("doc_id", "fingerprint")
    },

    // boilerplate removal (the C4/RefinedWeb line-dedup pass, adapted to
    // the fixture's newline-free docs): docs split into consecutive
    // 3-token chunks, a chunk is boilerplate when its exact text occurs
    // in >= 3 distinct docs, and each doc reports how many chunks/tokens
    // survive. Only md5 digests shuffle to the frequency table and back
    // (never the chunk text twice) — the digests-only discipline that
    // keeps the pass linear when "chunk" means a 1 KB line at 100 TB.
    "text_boilerplate" -> { (s, d) =>
      val ch = toks(s, d)
        .select(col("doc_id"), explode(expr(
          s"""transform(
             |  sequence(0, cast(ceil(size(toks) / $BoilerW.0) as int) - 1),
             |  i -> concat_ws(' ',
             |    slice(toks, i * $BoilerW + 1, $BoilerW)))""".stripMargin))
          .as("chunk"))
        .select(col("doc_id"), md5(col("chunk")).as("h"),
          size(split(col("chunk"), " ")).as("n_tok"))
      val freq = ch.groupBy("h")
        .agg(countDistinct(col("doc_id")).as("df"))
      ch.join(freq, "h")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("df") >= BoilerDf, 1L).otherwise(0L)).as("n_boiler"),
          sum(when(col("df") < BoilerDf, col("n_tok")).otherwise(0L))
            .cast("long").as("n_tok_kept"))
        .orderBy("doc_id")
    },

    // boilerplate REMOVAL — the action to text_boilerplate's report:
    // rebuild each doc from only its non-boilerplate chunks (in chunk
    // order) and emit the cleaned text's sha256 + surviving counts.
    // Emitting the digest instead of the text is deliberate: it proves
    // the reconstruction byte-for-byte against the oracle without
    // shipping the corpus through the compare. Same digests-only
    // frequency join as text_boilerplate; the rebuild is one per-doc
    // sorted fold over O(#chunks) rows.
    "text_boilerplate_strip" -> { (s, d) =>
      val ch = toks(s, d)
        .select(col("doc_id"), posexplode(expr(
          s"""transform(
             |  sequence(0, cast(ceil(size(toks) / $BoilerW.0) as int) - 1),
             |  i -> concat_ws(' ',
             |    slice(toks, i * $BoilerW + 1, $BoilerW)))""".stripMargin))
          .as(Seq("i", "chunk")))
      val freq = ch.select(col("doc_id"), md5(col("chunk")).as("h"))
        .groupBy("h").agg(countDistinct(col("doc_id")).as("df"))
      ch.withColumn("h", md5(col("chunk")))
        .join(freq, "h")
        .filter(col("df") < BoilerDf)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks_kept"),
          sha2(expr("array_join(transform(array_sort(" +
            "collect_list(struct(i, chunk))), s -> s.chunk), ' ')"), 256)
            .as("clean_sha"),
          sum(size(split(col("chunk"), " ")).cast("long"))
            .as("n_tok_kept"))
        .orderBy("doc_id")
    },

    // add-one-smoothed bigram LM scoring — the step up from
    // text_unigram_lm's quality proxy (catches word-salad that unigram
    // stats miss). Same plan discipline: both count tables are Zipf-small
    // vs the corpus, so scoring is two broadcast joins over the exploded
    // bigrams; per-bigram log-probs are rounded then decimal-summed so
    // partial-agg merge order can never move a doc's score.
    "text_bigram_lm" -> { (s, d) =>
      val docs = toks(s, d)
      val uni = docs.select(explode(col("toks")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("c1"))
      val vsz = uni.agg(count(lit(1)).as("v_sz"))
      // memoized: the exploded bigram stream feeds BOTH the count build
      // and the scoring join — un-pinned the corpus-sized explode runs
      // twice (ScopedMemo, r12 sweep)
      val bg = graft.plans.ScopedMemo(s, s"bigram_lm_bg#$d")(
        docs.filter(size(col("toks")) >= 2)
          .select(col("doc_id"), explode(expr(
            """transform(sequence(0, size(toks) - 2),
              |  i -> concat(toks[i], ' ', toks[i + 1]))""".stripMargin))
            .as("bg")))
      val c2 = bg.groupBy("bg").agg(count(lit(1)).as("c2"))
      bg.join(broadcast(c2), "bg")
        .withColumn("w1", split(col("bg"), " ").getItem(0))
        .join(broadcast(uni), col("w1") === col("word"))
        .crossJoin(broadcast(vsz))
        .withColumn("lp", expr(
          "CAST(round(ln((c2 + 1) / (c1 + v_sz)), 9) AS DECIMAL(20,9))"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          round(sum(col("lp")).cast("double") / count(lit(1)), 6)
            .as("avg_logp"))
        .orderBy("doc_id")
    },

    // per-doc token Shannon entropy (nats) — the diversity quality signal
    // (low entropy = keyword-stuffed / template docs) next to
    // text_repetition's duplicate-chunk view. One groupBy to per-doc term
    // counts, one to the doc roll-up; per-term contributions are rounded
    // then decimal-summed (the unigram_lm discipline) so partial-agg merge
    // order can never move a doc's entropy.
    "text_entropy" -> { (s, d) =>
      val tf = toks(s, d)
        .select(col("doc_id"), explode(col("toks")).as("word"))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
      tf.withColumn("n",
          sum(col("c")).over(org.apache.spark.sql.expressions.Window
            .partitionBy("doc_id")))
        .withColumn("h", expr(
          """CAST(round(-(CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n),
            |  9) AS DECIMAL(20,9))""".stripMargin))
        .groupBy("doc_id")
        .agg(max(col("n")).as("n_tokens"),
          count(lit(1)).as("n_distinct"),
          round(sum(col("h")).cast("double"), 6).as("entropy_nats"))
        .orderBy("doc_id")
    },

    // keyword extraction: top-3 tf-idf terms per doc through the native
    // TopKPerKey operator — ≤3 rows per (doc, partition) shuffle instead
    // of a full per-doc score sort (the win_topk_native discipline applied
    // to the text_tfidf scoring). Scores round to 6 before selection and
    // ties break on the word so the pick is total-ordered.
    "text_keywords" -> { (s, d) =>
      val docs = t(s, d, "documents")
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val tf = toks(s, d)
        .select(col("doc_id"), explode(col("toks")).as("word"))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
      val scored = tf.join(broadcast(df), "word")
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("word"),
          round(col("tf").cast("double")
            * log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0))), 6)
            .as("score"))
      graft.plans.TopKPerKey.topK(scored, Seq(col("doc_id")),
          Seq(col("score").desc, col("word")), 3)
        .orderBy(col("doc_id"), col("score").desc, col("word"))
    },

    // corpus Zipf fit: ln(freq) ~ slope * ln(rank) + intercept over the
    // top-100 words — the one-row corpus health check (natural text sits
    // near slope -1; template/spam corpora flatten). Vocab aggregates
    // Zipf-small, TakeOrdered keeps 100 rows, and the closed-form least
    // squares runs on five decimal-summed moments — the only window is
    // a row_number over 100 rows.
    "text_zipf_fit" -> { (s, d) =>
      val top = toks(s, d)
        .select(explode(col("toks")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("word")).limit(100)
      val ranked = top.withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("c").desc, col("word"))))
      val m = ranked.select(
        expr("CAST(round(ln(rank), 9) AS DECIMAL(20,9))").as("x"),
        expr("CAST(round(ln(c), 9) AS DECIMAL(20,9))").as("y"),
        expr("CAST(round(ln(rank) * ln(c), 9) AS DECIMAL(20,9))").as("xy"),
        expr("CAST(round(ln(rank) * ln(rank), 9) AS DECIMAL(20,9))")
          .as("xx"))
        .agg(count(lit(1)).cast("double").as("n"),
          sum(col("x")).cast("double").as("sx"),
          sum(col("y")).cast("double").as("sy"),
          sum(col("xy")).cast("double").as("sxy"),
          sum(col("xx")).cast("double").as("sxx"))
      m.select(col("n").cast("long").as("n_words"),
        round((col("n") * col("sxy") - col("sx") * col("sy"))
          / (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("slope"),
        round((col("sy") - (col("n") * col("sxy") - col("sx") * col("sy"))
          / (col("n") * col("sxx") - col("sx") * col("sx")) * col("sx"))
          / col("n"), 6).as("intercept"))
    },

    // per-doc n-gram novelty against everything that came before it in
    // doc_id order — the curriculum/dedup-drift signal ("how much of this
    // doc is new text"): a gram is novel in the FIRST doc (smallest id)
    // that contains it. Two shuffles, both keyed on the gram — one groupBy
    // for the global first-occurrence table, one join back — never a pair
    // join, linear in corpus size like dedup_substring. At 100 TB the gram
    // string would be xxhash64'd before the exchange (8 bytes/row instead
    // of ~30); kept raw here so the oracle comparison is exact.
    "text_ngram_novelty" -> { (s, d) =>
      val grams = corpus(s, d)
        .withColumn("toks", split(lower(trim(col("text"))), " "))
        .filter(size(col("toks")) >= 5)
        .select(col("doc_id"), explode(array_distinct(expr(
          """transform(sequence(0, size(toks) - 5),
            |  i -> concat_ws(' ', slice(toks, i + 1, 5)))""".stripMargin)))
          .as("gram"))
      val first = grams.groupBy("gram")
        .agg(min(col("doc_id")).as("first_doc"))
      grams.join(first, "gram")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .select(col("doc_id"), col("n_grams"), col("n_novel"),
          round(col("n_novel").cast("double") / col("n_grams"), 6)
            .as("novelty"))
        .orderBy("doc_id")
    },

    // Gopher-style quality rule census (Rae et al. 2021's repetition-free
    // rules, adapted to the fixture's punctuation-free corpus): per-doc
    // word-count bounds, mean-word-length bounds, alphabetic-word ratio,
    // and minimum stopword hits — reported as PER-RULE flags plus the
    // conjunction, the audit view a curation team reads before committing
    // to thresholds (pipeline_quality_filter is the downstream
    // keep-only filter with its own independent rule set). Pure
    // projection per row — no shuffle at all until the output sort.
    "text_gopher_rules" -> ((s, d) =>
      toks(s, d)
        .withColumn("n_words", metrics.nTokens)
        .withColumn("mean_wl", metrics.avgWordLen)
        .withColumn("alpha_ratio",
          expr("size(filter(toks, t -> t rlike '[a-z]'))").cast("double")
            / size(col("toks")))
        .withColumn("stop_hits",
          expr("""size(filter(toks,
               |  t -> t IN ('the', 'a', 'of', 'and', 'to', 'in', 'is')))"""
            .stripMargin).cast("long"))
        .select(col("doc_id"), col("n_words"),
          round(col("mean_wl"), 6).as("mean_wl"),
          round(col("alpha_ratio"), 6).as("alpha_ratio"), col("stop_hits"),
          col("n_words").between(10L, 100000L).as("rule_wc"),
          col("mean_wl").between(2.0, 10.0).as("rule_wl"),
          (col("alpha_ratio") >= 0.8).as("rule_alpha"),
          (col("stop_hits") >= 2L).as("rule_stop"),
          (col("n_words").between(10L, 100000L)
            && col("mean_wl").between(2.0, 10.0)
            && col("alpha_ratio") >= 0.8
            && col("stop_hits") >= 2L).as("keep"))
        .orderBy("doc_id")),

    // readability scoring with the deterministic vowel-group syllable
    // heuristic (each maximal [aeiouy]+ run ≈ one syllable — the classic
    // dictionary-free approximation): Flesch reading ease with the whole
    // doc as one sentence. The point at 100 TB is the SHAPE: two regexp
    // counts per row, zero shuffles, all arithmetic per-row IEEE double —
    // the score pipeline is embarrassingly parallel, and both engines run
    // the identical regex so the counts match exactly.
    "text_readability" -> ((s, d) =>
      toks(s, d)
        .withColumn("n_words", metrics.nTokens)
        .withColumn("n_syll",
          size(expr("regexp_extract_all(text, '[aeiouy]+', 0)"))
            .cast("long"))
        .filter(col("n_words") > 0)
        .select(col("doc_id"), col("n_words"), col("n_syll"),
          round(col("n_syll").cast("double") / col("n_words"), 6)
            .as("syll_per_word"),
          round(lit(206.835)
            - lit(1.015) * col("n_words").cast("double")
            - lit(84.6) * (col("n_syll").cast("double")
              / col("n_words").cast("double")), 4).as("flesch"))
        .orderBy("doc_id")),

    // rare-word ratio: per-doc share of tokens whose CORPUS frequency sits
    // below the mean vocabulary frequency — the lexical-sophistication /
    // OOV-pressure signal (docs of frequent words only = template text;
    // high rare share = specialist or noisy text). Two keyed aggregates
    // (vocab counts, per-doc fold) + one broadcast O(1) threshold — the
    // vocab table is Zipf-small, the corpus never pair-joins.
    "text_rare_word_ratio" -> { (s, d) =>
      val words = toks(s, d)
        .select(col("doc_id"), explode(col("toks")).as("word"))
      val vocab = words.groupBy("word").agg(count(lit(1)).as("freq"))
      val thr = vocab.agg((sum(col("freq")).cast("double")
        / count(lit(1))).as("mean_freq"))
      words.join(broadcast(vocab), "word")
        .crossJoin(broadcast(thr))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("freq").cast("double") < col("mean_freq"), 1L)
            .otherwise(0L)).as("n_rare"))
        .select(col("doc_id"), col("n_tokens"), col("n_rare"),
          round(col("n_rare").cast("double") / col("n_tokens"), 6)
            .as("rare_ratio"))
        .orderBy("doc_id")
    },

    // corpus lexical summary: vocabulary size, hapax legomena (words
    // seen exactly once — the OOV/noise tail a tokenizer budget must
    // absorb), and the corpus-level type-token ratio in one row. Vocab
    // aggregates are Zipf-small; everything after the one corpus-linear
    // count is O(vocab).
    // per-source distribution drift: Jensen-Shannon divergence between
    // each source's unigram distribution and the corpus distribution —
    // the domain-shift monitor a mixture pipeline re-checks every
    // ingest (a source whose JSD jumps changed register/language/
    // boilerplate). The (sources × vocab) grid is Zipf-small (vocab
    // collapses first; sources are a handful), so after the one
    // corpus-linear explode everything is dim-sized; per-cell terms are
    // rounded then decimal-summed so partial-agg order can't move a
    // score, mirroring the bigram-LM discipline.
    "text_source_divergence" -> { (s, d) =>
      val words = t(s, d, "documents")
        .select(col("source"),
          explode(split(lower(trim(col("text"))), " ")).as("word"))
      val sc = words.groupBy("source", "word")
        .agg(count(lit(1)).as("csw"))
      val st = sc.groupBy("source").agg(sum(col("csw")).as("ns"))
      val vc = sc.groupBy("word").agg(sum(col("csw")).as("cw"))
      val nn = vc.agg(sum(col("cw")).as("nn"))
      st.crossJoin(vc)
        .join(sc, Seq("source", "word"), "left")
        .crossJoin(broadcast(nn))
        .select(col("source"), col("ns"),
          coalesce(col("csw"), lit(0L)).as("csw"), col("cw"), col("nn"))
        .withColumn("term", expr(
          """CAST(round(
            |  0.5 * (CASE WHEN csw > 0
            |    THEN (CAST(csw AS DOUBLE) / ns)
            |      * ln((CAST(csw AS DOUBLE) / ns)
            |        / ((CAST(csw AS DOUBLE) / ns
            |           + CAST(cw AS DOUBLE) / nn) / 2))
            |    ELSE 0.0 END)
            |  + 0.5 * ((CAST(cw AS DOUBLE) / nn)
            |    * ln((CAST(cw AS DOUBLE) / nn)
            |      / ((CAST(csw AS DOUBLE) / ns
            |         + CAST(cw AS DOUBLE) / nn) / 2))),
            |  9) AS DECIMAL(20,9))""".stripMargin))
        .groupBy("source")
        .agg(max(col("ns")).as("n_tokens"),
          round(sum(col("term")).cast("double"), 6).as("jsd"))
        .orderBy("source")
    },

    // PMI collocation mining: the top-50 bigrams whose joint probability
    // most exceeds independence (min count 5) — the classic multi-word-
    // expression extractor ("new york"-style units a tokenizer should
    // fuse). Both count tables are Zipf-small, so after the one
    // corpus-linear bigram explode everything is broadcast-joined;
    // PMI's ln runs once per surviving bigram and is rounded to 6 before
    // the rank, so the top-50 cut is tie-broken deterministically.
    "text_pmi_collocations" -> { (s, d) =>
      val docs = toks(s, d)
      val uni = docs.select(explode(col("toks")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("c1"))
      val nTok = uni.agg(sum(col("c1")).as("n_uni"))
      val c2 = docs.filter(size(col("toks")) >= 2)
        .select(explode(expr(
          """transform(sequence(0, size(toks) - 2),
            |  i -> concat(toks[i], ' ', toks[i + 1]))""".stripMargin))
          .as("bg"))
        .groupBy("bg").agg(count(lit(1)).as("c12"))
      val nBg = c2.agg(sum(col("c12")).as("n_bg"))
      c2.filter(col("c12") >= 5)
        .withColumn("w1", split(col("bg"), " ").getItem(0))
        .withColumn("w2", split(col("bg"), " ").getItem(1))
        .join(broadcast(uni.select(col("word").as("w1"),
          col("c1").as("ca"))), "w1")
        .join(broadcast(uni.select(col("word").as("w2"),
          col("c1").as("cb"))), "w2")
        .crossJoin(broadcast(nBg)).crossJoin(broadcast(nTok))
        .select(col("w1"), col("w2"), col("c12"),
          round(expr("ln((CAST(c12 AS DOUBLE) / n_bg)" +
            " / ((CAST(ca AS DOUBLE) / n_uni)" +
            " * (CAST(cb AS DOUBLE) / n_uni)))"), 6).as("pmi"))
        .orderBy(col("pmi").desc, col("w1"), col("w2"))
        .limit(50)
    },

    "text_hapax_stats" -> { (s, d) =>
      wordCounts(s, d)
        .agg(count(lit(1)).as("n_vocab"),
          sum(col("cnt")).as("n_tokens"),
          sum(when(col("cnt") === 1L, 1L).otherwise(0L)).as("n_hapax"))
        .select(col("n_vocab"), col("n_tokens"), col("n_hapax"),
          round(col("n_hapax").cast("double") / col("n_vocab"), 6)
            .as("hapax_ratio"),
          round(col("n_vocab").cast("double") / col("n_tokens"), 6)
            .as("corpus_ttr"))
    },

    // per-source dataset card (the datasheet table every corpus release
    // ships): doc/token volumes, language spread with the modal language,
    // and the quality-filter pass rate — one row per source, the
    // at-a-glance view a curation team reads before weighting sources in
    // `corpus_mix`. Two keyed aggregates over per-doc projections plus
    // the shared qualityFiltered keeper set (single definition with
    // pipeline_quality_filter, so the pass-rate column can never drift
    // from the actual filter). Output is O(#sources).
    "corpus_datacard" -> { (s, d) =>
      val docs = toks(s, d)
        .select(col("doc_id"), col("source"), col("lang"),
          size(col("toks")).cast("long").as("n_tok"))
      val keepers = qualityFiltered(t(s, d, "documents"), "doc_id", "text")
        .select(col("doc_id"), lit(1L).as("passed"))
      val langMode = docs.groupBy("source", "lang")
        .agg(count(lit(1)).as("ln"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_langs"),
          // modal language, ties to the smallest code (the
          // graph_label_prop arg-min discipline)
          expr("min_by(lang, struct(-ln, lang))").as("top_lang"))
      docs.join(keepers, Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("total_tokens"),
          round(sum(col("n_tok")).cast("double") / count(lit(1)), 6)
            .as("avg_tokens"),
          coalesce(sum(col("passed")), lit(0L)).as("n_quality_pass"))
        .join(langMode, "source")
        .select(col("source"), col("n_docs"), col("total_tokens"),
          col("avg_tokens"), col("n_langs"), col("top_lang"),
          round(col("n_quality_pass").cast("double") / col("n_docs"), 6)
            .as("quality_pass_rate"))
        .orderBy("source")
    },

    // template mining (the template-spam / boilerplate-skeleton census):
    // every token below the mean vocabulary frequency masks to '<*>',
    // and documents sharing the resulting skeleton group together — the
    // cheap way to find fill-in-the-blank generated text that exact and
    // MinHash dedup both miss (each instance differs in the rare slots).
    // The vocab→freq table is Zipf-small, so the mask runs as an
    // in-codegen transform against a broadcast map (the centroid-drift
    // cmap discipline) — no per-token join, no reassembly shuffle; the
    // only exchange is the final template groupBy.
    "text_template_mining" -> { (s, d) =>
      // skeletons are per 8-token CHUNK, not per doc: whole-doc skeletons
      // only collide for equal-length docs (never, on a 10..99-token
      // corpus), while chunk skeletons surface the shared spans template
      // spam actually repeats; keep-set = the top-10 vocabulary (an O(1)
      // broadcast array), everything else masks to '<*>'
      val top = wordCounts(s, d)
        .orderBy(col("cnt").desc, col("word")).limit(10)
        .agg(expr("sort_array(collect_list(word))").as("keep"))
      corpus(s, d)
        .withColumn("toks", split(lower(trim(col("text"))), " "))
        .filter(size(col("toks")) >= 8)
        .select(col("doc_id"), col("toks"),
          explode(expr("sequence(1, size(toks) - 7, 8)")).as("start"))
        .crossJoin(broadcast(top))
        .select(col("doc_id"), concat_ws(" ", expr(
          "transform(slice(toks, start, 8), t -> CASE WHEN " +
            "array_contains(keep, t) THEN t ELSE '<*>' END)"))
          .as("template"))
        .groupBy("template")
        .agg(count(lit(1)).as("n_chunks"),
          countDistinct(col("doc_id")).as("n_docs"),
          min(col("doc_id")).as("min_doc"))
        .filter(col("n_docs") >= 2)
        .orderBy(col("n_docs").desc, col("template"))
        .limit(100)
    },

    // Heaps'-law fit: vocabulary growth V(n) ≈ k·n^β sampled at ten
    // doc-id checkpoints, β and ln k by closed-form least squares on the
    // log-log curve (the text_zipf_fit discipline — decimal-summed
    // moments, no global sort). The cumulative curve is computed WITHOUT
    // any ordered window: first-occurrence doc per word (one keyed agg
    // over the Zipf-small vocab), then each side joins the broadcast
    // 10-row checkpoint table — at 100 TB both legs are linear passes
    // with map-side combines; nothing ever materializes in doc order.
    "text_heaps_fit" -> { (s, d) =>
      val docs = toks(s, d)
        .select(col("doc_id"), size(col("toks")).cast("long").as("n_tok"))
      val cps = docs.agg(max(col("doc_id")).as("mid"))
        .select(explode(sequence(lit(1), lit(10))).as("decile"), col("mid"))
        .select(col("decile").cast("long").as("decile"),
          floor(col("mid") * col("decile") / 10.0).cast("long").as("cp"))
      val tokAt = docs.crossJoin(broadcast(cps))
        .filter(col("doc_id") <= col("cp"))
        .groupBy("decile").agg(sum(col("n_tok")).as("n_tokens"))
      val vocAt = toks(s, d)
        .select(col("doc_id"), explode(col("toks")).as("word"))
        .groupBy("word").agg(min(col("doc_id")).as("fd"))
        .crossJoin(broadcast(cps))
        .filter(col("fd") <= col("cp"))
        .groupBy("decile").agg(count(lit(1)).as("vocab"))
      val curve = tokAt.join(vocAt, "decile")
      val fit = curve.select(
          expr("CAST(round(ln(n_tokens), 9) AS DECIMAL(20,9))").as("x"),
          expr("CAST(round(ln(vocab), 9) AS DECIMAL(20,9))").as("y"),
          expr("CAST(round(ln(n_tokens) * ln(vocab), 9) AS DECIMAL(20,9))")
            .as("xy"),
          expr("CAST(round(ln(n_tokens) * ln(n_tokens), 9) AS DECIMAL(20,9))")
            .as("xx"))
        .agg(count(lit(1)).cast("double").as("n"),
          sum(col("x")).cast("double").as("sx"),
          sum(col("y")).cast("double").as("sy"),
          sum(col("xy")).cast("double").as("sxy"),
          sum(col("xx")).cast("double").as("sxx"))
        .select(
          round((col("n") * col("sxy") - col("sx") * col("sy"))
            / (col("n") * col("sxx") - col("sx") * col("sx")), 6)
            .as("beta"),
          round((col("sy") - (col("n") * col("sxy") - col("sx") * col("sy"))
            / (col("n") * col("sxx") - col("sx") * col("sx")) * col("sx"))
            / col("n"), 6).as("ln_k"))
      curve.crossJoin(broadcast(fit))
        .select(col("decile"), col("n_tokens"), col("vocab"), col("beta"),
          col("ln_k"))
        .orderBy("decile")
    },

    // per-doc cross-entropy under the corpus add-1 unigram LM — the
    // model-free curation signal that ranks gibberish/outlier docs (high
    // average NLL) without shipping a trained LM (cf. reference-style
    // quality scoring; the KenLM stage of public web-corpus pipelines).
    // Shape: one corpus-linear token pass builds (doc, word, tf); the LM
    // side is VOCAB-sized and joins tf on `word` as a shuffle equi-join —
    // at 100 TB the vocabulary outgrows any broadcast and hot-word skew
    // is exactly AQE's skew-join case, so no broadcast hint. The two
    // corpus scalars (N, V) ride a 1-row broadcast. ln terms follow the
    // round-to-9 + exact-decimal-sum contract (text_entropy precedent),
    // so partial-agg merge order can never move a score.
    "text_doc_perplexity" -> { (s, d) =>
      val tf = toks(s, d)
        .select(col("doc_id"), explode(col("toks")).as("word"))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      val lm = wordCounts(s, d)
      val tot = lm.agg(sum(col("cnt")).as("n_corpus"),
        count(lit(1)).as("vocab"))
      tf.join(lm, "word")
        .crossJoin(broadcast(tot))
        .withColumn("nll", expr(
          """CAST(round(tf * -ln(CAST(cnt + 1 AS DOUBLE)
            |  / (n_corpus + vocab)), 9) AS DECIMAL(20,9))""".stripMargin))
        .groupBy("doc_id")
        .agg(sum(col("tf")).as("n_toks"),
          round(sum(col("nll")).cast("double") / sum(col("tf")), 6)
            .as("avg_nll"))
        .orderBy(col("avg_nll").desc, col("doc_id"))
        .limit(20)
    },

    // robust length-outlier ranking: per-doc |length − median| / (MAD ·
    // 1.4826) — the events_outlier_mad discipline applied to the
    // curation axis where truncation/explosion bugs show first (a 10×
    // z_mad doc is a concatenation accident or an empty shell). Ranked
    // top-20, not thresholded: the fixture corpus is near-uniform so an
    // absolute 3σ cut would be vacuous, and a ranking is what a triage
    // queue consumes anyway. Two percentile scalars broadcast; at 100 TB
    // both swap to approx_percentile with the same plan shape.
    "text_length_outliers" -> { (s, d) =>
      val docs = t(s, d, "documents").select(col("doc_id"), col("n_chars"))
      val med = docs.agg(expr("percentile(n_chars, 0.5)").as("med"))
      val withDev = docs.crossJoin(broadcast(med))
        .withColumn("dev", abs(col("n_chars") - col("med")))
      val mad = withDev.agg(expr("percentile(dev, 0.5)").as("mad"))
      withDev.crossJoin(broadcast(mad))
        .select(col("doc_id"), col("n_chars"),
          round(col("med"), 1).as("median_chars"),
          round(col("dev") / (col("mad") * 1.4826), 4).as("z_mad"))
        .orderBy(col("z_mad").desc, col("doc_id"))
        .limit(20)
    },

    // word burstiness (the Church–Gale observation): content words
    // CLUMP — one occurrence makes more likely — while function words
    // spread evenly. The Fano factor var/mean of the per-doc count
    // (zeros included) separates them: ≈1 Poisson-like filler, ≫1
    // bursty content term — the signal behind stopword lists, keyword
    // scoring, and repetition-quality filters. One corpus-linear
    // (word, doc) agg, then exact-integer moments for the df-top-50
    // words only (everything after the first agg is vocab-sized; the
    // top-50 cut is TakeOrderedAndProject, no global sort survives).
    // Mean/var run in mirrored IEEE doubles over those integer sums.
    "text_burstiness" -> { (s, d) =>
      val perDoc = toks(s, d)
        .select(col("doc_id"), explode(col("toks")).as("w"))
        .groupBy("w", "doc_id").agg(count(lit(1)).as("c"))
      val nDocs = broadcast(
        t(s, d, "documents").agg(count(lit(1)).as("n_docs")))
      perDoc.groupBy("w")
        .agg(count(lit(1)).as("df"), sum(col("c")).as("tot"),
          sum(expr("c * c")).as("totsq"))
        .orderBy(col("df").desc, col("w")).limit(50)
        .crossJoin(nDocs)
        .withColumn("mean_c", col("tot").cast("double") / col("n_docs"))
        .withColumn("var_c",
          (col("totsq").cast("double")
            - col("n_docs") * col("mean_c") * col("mean_c"))
            / col("n_docs"))
        .select(col("w").as("word"), col("df"),
          col("tot").as("total_count"),
          round(col("mean_c"), 6).as("mean_per_doc"),
          round(col("var_c") / col("mean_c"), 6).as("fano"))
        .orderBy(col("df").desc, col("word"))
    }
  )

  private val inLists = LangMarkers.map { case (lang, ws) =>
    lang -> ws.map("'" + _ + "'").mkString(", ")
  }.toMap

  /** The scored + argmax-predicted CTE chain shared by the `text_langid`
    * and `text_lang_confusion` oracles — single SQL definition mirroring
    * the single [[langScored]] on the Spark side.
    */
  private lazy val langPredCtes: String = {
    val langs = LangMarkers.map(_._1)
    val cases = langs.init.map { lang =>
      val conds = langs.filterNot(_ == lang)
        .map(o => s"s_$lang >= s_$o").mkString(" AND ")
      s"WHEN $conds THEN '$lang'"
    }.mkString("\n|    ")
    s"""scored AS (
       |  SELECT doc_id, lang,
       |${langs.map(l =>
          s"    len(list_filter(w, t -> t IN (${inLists(l)}))) AS s_$l")
         .mkString(",\n|")}
       |  FROM (SELECT doc_id, lang,
       |          string_split(lower(trim(text)), ' ') AS w
       |        FROM documents) d),
       |pred AS (
       |  SELECT doc_id, lang AS actual, s_en,
       |    CASE
       |    $cases
       |    ELSE '${langs.last}' END AS predicted
       |  FROM scored)""".stripMargin
  }

  def oracle: Map[String, String] = Map(
    "text_domain_classify" -> {
      val lex = DomainLexicon.map(w => s"'$w'").mkString(", ")
      s"""WITH d AS (
         |  SELECT doc_id, source,
         |    string_split(lower(trim(text)), ' ') AS toks
         |  FROM documents)
         |SELECT doc_id, source,
         |  CAST(len(toks) AS BIGINT) AS n_tok,
         |  CAST(len(list_filter(toks, t -> list_contains(
         |    [$lex], t))) AS BIGINT) AS n_hits,
         |  round(len(list_filter(toks, t -> list_contains(
         |    [$lex], t))) / len(toks), 6) AS hit_ratio,
         |  CASE WHEN len(list_filter(toks, t -> list_contains(
         |    [$lex], t))) / len(toks) >= 0.35
         |  THEN 'technical' ELSE 'general' END AS domain
         |FROM d ORDER BY doc_id""".stripMargin
    },
    "text_pii_scrub" ->
      """SELECT event_id,
        |regexp_replace(regexp_replace(regexp_replace(
        |  'uid=' || user_id || ' mail=u' || user_id ||
        |  '@example.com ip=10.0.' || (user_id % 256) || '.' ||
        |  (event_id % 256) || ' ' || props,
        |  '[a-z0-9._]+@[a-z0-9.-]+', '<EMAIL>', 'g'),
        |  '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |  '\d+', '<NUM>', 'g') AS clean
        |FROM events ORDER BY event_id""".stripMargin,
    "text_chunk" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS w
        |  FROM documents),
        |st AS (
        |  SELECT doc_id, w,
        |    unnest(generate_series(1, greatest(len(w), 1), 24)) AS start
        |  FROM tk)
        |SELECT doc_id,
        |  CAST((start - 1) // 24 AS BIGINT) AS chunk_idx,
        |  CAST(len(list_slice(w, start, start + 31)) AS BIGINT)
        |    AS n_in_chunk,
        |  array_to_string(list_slice(w, start, start + 31), ' ')
        |    AS chunk_text
        |FROM st ORDER BY doc_id, chunk_idx""".stripMargin,
    "text_repetition" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, list_transform(
        |    generate_series(1, len(w) - 2),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS grams
        |  FROM tk WHERE len(w) >= 3)
        |SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
        |  round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
        |    / len(grams), 6) AS rep_ratio
        |FROM g ORDER BY doc_id""".stripMargin,
    "text_editdist" ->
      """SELECT doc_id,
        |CAST(levenshtein(substring(text, 1, 30),
        |  'the quick brown fox jumps over') AS BIGINT) AS dist_probe,
        |CAST(levenshtein(substring(text, 1, 20),
        |  substring(text, 11, 20)) AS BIGINT) AS dist_self
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_tokens" ->
      """SELECT word, count(*) AS cnt
        |FROM (SELECT unnest(string_split(lower(trim(text)), ' ')) AS word
        |      FROM documents) w
        |GROUP BY word ORDER BY cnt DESC, word""".stripMargin,
    // same vocab-sized rank window; sums cast out of DuckDB's HUGEINT
    "text_vocab_coverage" ->
      """WITH f AS (
        |  SELECT tok, count(*) AS n
        |  FROM (SELECT unnest(string_split(lower(trim(text)), ' ')) AS tok
        |        FROM documents) w
        |  GROUP BY tok),
        |r AS (
        |  SELECT tok, n, row_number() OVER (ORDER BY n DESC, tok) AS rnk
        |  FROM f),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM f),
        |sz(vocab_size) AS (
        |  VALUES (1), (2), (4), (8), (16), (32), (64))
        |SELECT CAST(vocab_size AS BIGINT) AS vocab_size,
        |  CAST(max(rnk) AS BIGINT) AS n_vocab_used,
        |  CAST(sum(n) AS BIGINT) AS covered,
        |  round(CAST(sum(n) AS DOUBLE) / CAST(n_total AS DOUBLE), 6)
        |    AS coverage
        |FROM sz JOIN r ON r.rnk <= sz.vocab_size CROSS JOIN tot
        |GROUP BY vocab_size, n_total
        |ORDER BY vocab_size""".stripMargin,
    "text_tokenizer_fertility" ->
      """WITH p AS (
        |  SELECT source,
        |    CAST(len(string_split(lower(trim(text)), ' ')) AS BIGINT)
        |      AS ws,
        |    CAST(len(regexp_extract_all(text,
        |      ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+')) AS BIGINT)
        |      AS bpe,
        |    CAST(length(text) AS BIGINT) AS nc
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(ws) AS BIGINT) AS n_tok_ws,
        |  CAST(sum(bpe) AS BIGINT) AS n_tok_bpe,
        |  round(CAST(sum(bpe) AS DOUBLE) / CAST(sum(ws) AS DOUBLE), 6)
        |    AS fertility,
        |  round(CAST(sum(nc) AS DOUBLE) / CAST(sum(bpe) AS DOUBLE), 6)
        |    AS chars_per_tok
        |FROM p GROUP BY source ORDER BY source""".stripMargin,

    "text_perplexity_buckets" ->
      """WITH tk AS (
        |  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS word
        |  FROM documents),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM tk GROUP BY 1, 2),
        |lm AS (SELECT word, count(*) AS cnt FROM tk GROUP BY 1),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_corpus,
        |  count(*) AS vocab FROM lm),
        |terms AS (
        |  SELECT tf.doc_id, tf.tf,
        |    CAST(round(tf.tf * -ln(CAST(lm.cnt + 1 AS DOUBLE)
        |      / (tot.n_corpus + tot.vocab)), 9) AS DECIMAL(20,9)) AS nll
        |  FROM tf JOIN lm USING (word) CROSS JOIN tot),
        |nll AS (
        |  SELECT doc_id,
        |    round(CAST(sum(nll) AS DOUBLE) / sum(tf), 6) AS avg_nll
        |  FROM terms GROUP BY doc_id),
        |bk AS (
        |  SELECT d.source, nll.avg_nll,
        |    CAST(ntile(3) OVER (PARTITION BY d.source
        |      ORDER BY nll.avg_nll, nll.doc_id) AS BIGINT) AS bucket
        |  FROM nll JOIN documents d ON d.doc_id = nll.doc_id)
        |SELECT source, bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |  round(CAST(sum(CAST(avg_nll AS DECIMAL(16,6))) AS DOUBLE)
        |    / count(*), 6) AS mean_nll,
        |  min(avg_nll) AS min_nll, max(avg_nll) AS max_nll
        |FROM bk GROUP BY source, bucket
        |ORDER BY source, bucket""".stripMargin,

    "text_tokens_regex" ->
      """SELECT doc_id,
        |CAST(len(string_split(lower(trim(text)), ' ')) AS BIGINT)
        |  AS n_tok_ws,
        |CAST(len(regexp_extract_all(text,
        |  ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+')) AS BIGINT)
        |  AS n_tok_bpe
        |FROM documents ORDER BY doc_id""".stripMargin,
    // same tokenization, same shared Bm25TermScore formula text, same
    // decimal-summed per-doc score; the rank is row_number here vs the
    // bounded self-join count there — identical on the ≤20 survivors
    "text_bm25" ->
      s"""WITH tk AS (
         |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS w
         |  FROM documents),
         |dd AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl, w FROM tk),
         |st AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dd),
         |tf AS (
         |  SELECT doc_id, dl, word, count(*) AS tf
         |  FROM (SELECT doc_id, dl, unnest(w) AS word FROM dd)
         |  WHERE word IN (${Bm25Terms.map("'" + _ + "'").mkString(", ")})
         |  GROUP BY 1, 2, 3),
         |dfx AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
         |sc AS (
         |  SELECT doc_id, $Bm25TermScore AS ts
         |  FROM tf JOIN dfx USING (word) CROSS JOIN st),
         |ag AS (
         |  SELECT doc_id, sum(ts) AS sc, count(*) AS n_terms
         |  FROM sc GROUP BY 1),
         |r AS (SELECT doc_id, n_terms, sc,
         |  row_number() OVER (ORDER BY sc DESC, doc_id) AS rnk FROM ag)
         |SELECT rnk, doc_id, n_terms, round(CAST(sc AS DOUBLE), 6) AS score
         |FROM r WHERE rnk <= 20 ORDER BY rnk""".stripMargin,
    "text_tfidf" ->
      """WITH tk AS (
        |  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS word
        |  FROM documents),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM tk GROUP BY 1, 2),
        |df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT doc_id, tf.word AS word, tf,
        |  round(CAST(tf AS DOUBLE) * ln((n_docs + 1.0) / (df + 1.0)), 6)
        |    AS tfidf
        |FROM tf JOIN df ON tf.word = df.word CROSS JOIN n
        |WHERE doc_id < 50
        |ORDER BY doc_id, word""".stripMargin,
    "text_ngrams" ->
      """SELECT bigram, count(*) AS cnt
        |FROM (SELECT unnest(list_transform(
        |        generate_series(1, len(w) - 1), i -> w[i] || ' ' || w[i+1]))
        |        AS bigram
        |      FROM (SELECT string_split(lower(trim(text)), ' ') AS w
        |            FROM documents) t) g
        |GROUP BY bigram ORDER BY cnt DESC, bigram""".stripMargin,
    "text_unigram_lm" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    unnest(string_split(lower(trim(text)), ' ')) AS word
        |  FROM documents),
        |v AS (SELECT word, count(*) AS cnt FROM w GROUP BY word),
        |tot AS (SELECT sum(cnt) AS n_total FROM v),
        |lp AS (
        |  SELECT w.doc_id,
        |    CAST(round(ln(CAST(v.cnt AS DOUBLE) / n_total), 9)
        |         AS DECIMAL(20,9)) AS lp
        |  FROM w JOIN v USING (word) CROSS JOIN tot)
        |SELECT doc_id, count(*) AS n_tok,
        |  round(CAST(sum(lp) AS DOUBLE) / count(*), 6) AS avg_logp
        |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // plain GROUP BY + HAVING over the full word space — the MG pipeline
    // must reproduce the exact heavy-hitter set
    "text_heavy_hitters" ->
      """WITH w AS (
        |  SELECT unnest(string_split(lower(trim(text)), ' ')) AS word
        |  FROM documents),
        |tot AS (SELECT count(*) AS n_total FROM w)
        |SELECT word, count(*) AS freq,
        |  round(CAST(count(*) AS DOUBLE) / n_total, 6) AS share
        |FROM w CROSS JOIN tot
        |GROUP BY word, n_total
        |HAVING count(*) > CAST(n_total AS DOUBLE) / 64
        |ORDER BY freq DESC, word""".stripMargin,
    "text_lang_stats" ->
      """SELECT lang, count(*) AS n_docs,
        |CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars,
        |CAST(sum(len(string_split(lower(trim(text)), ' '))) AS BIGINT)
        |  AS n_tokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "text_quality" ->
      s"""SELECT doc_id,
        |${metrics.nTokensSql} AS n_tokens,
        |CAST(length(text) AS BIGINT) AS len,
        |${metrics.avgWordLenSql} AS avg_word_len,
        |CAST(len(list_filter(w,
        |  t -> t IN ('the', 'a', 'of', 'and', 'to', 'in', 'is'))) AS DOUBLE)
        |  / len(w) AS stopword_ratio,
        |${metrics.ttrSql} AS ttr,
        |CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT)
        |  AS n_regex_tokens
        |FROM (SELECT doc_id, text, string_split(lower(trim(text)), ' ') AS w
        |      FROM documents) d
        |ORDER BY doc_id""".stripMargin,
    "pipeline_quality_filter" ->
      s"""SELECT doc_id,
        |${metrics.nTokensSql} AS n_tokens,
        |${metrics.ttrSql} AS ttr,
        |${metrics.avgWordLenSql} AS avg_word_len
        |FROM (SELECT doc_id, text, string_split(lower(trim(text)), ' ') AS w
        |      FROM documents) d
        |WHERE ${metrics.nTokensSql} BETWEEN 15 AND 80
        |  AND ${metrics.ttrSql} >= 0.3
        |  AND ${metrics.avgWordLenSql} BETWEEN 2.0 AND 12.0
        |ORDER BY doc_id""".stripMargin,
    // same marginalization: c1 derived from the c2 table, round-9
    // decimal ln sums, BIGINT casts on the HUGEINT count sums
    "text_ngram_entropy_rate" ->
      """WITH tk AS (
        |  SELECT source, string_split(lower(trim(text)), ' ') AS w
        |  FROM documents),
        |bg AS (
        |  SELECT source,
        |    unnest(list_transform(generate_series(1, len(w) - 1),
        |      i -> w[i])) AS w1,
        |    unnest(list_transform(generate_series(1, len(w) - 1),
        |      i -> w[i + 1])) AS w2
        |  FROM tk WHERE len(w) >= 2),
        |c2 AS (
        |  SELECT source, w1, w2, CAST(count(*) AS BIGINT) AS c2
        |  FROM bg GROUP BY 1, 2, 3),
        |c1 AS (
        |  SELECT source, w1, CAST(sum(c2) AS BIGINT) AS c1
        |  FROM c2 GROUP BY 1, 2),
        |cond AS (
        |  SELECT c2.source, CAST(sum(c2) AS BIGINT) AS n_bigrams,
        |    sum(CAST(round(c2 * ln(CAST(c2 AS DOUBLE)
        |      / CAST(c1 AS DOUBLE)), 9) AS DECIMAL(20,9))) AS st
        |  FROM c2 JOIN c1 ON c1.source = c2.source AND c1.w1 = c2.w1
        |  GROUP BY 1),
        |uni AS (
        |  SELECT source, u AS w, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT source, unnest(w) AS u FROM tk) GROUP BY 1, 2),
        |nt AS (
        |  SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens
        |  FROM uni GROUP BY 1),
        |un AS (
        |  SELECT uni.source,
        |    sum(CAST(round(c * ln(CAST(c AS DOUBLE)
        |      / CAST(n_tokens AS DOUBLE)), 9) AS DECIMAL(20,9))) AS su
        |  FROM uni JOIN nt ON nt.source = uni.source
        |  GROUP BY 1)
        |SELECT cond.source, nt.n_tokens, cond.n_bigrams,
        |  round(-CAST(su AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
        |    AS h_uni,
        |  round(-CAST(st AS DOUBLE) / CAST(n_bigrams AS DOUBLE), 6)
        |    AS h_cond
        |FROM cond
        |JOIN nt ON nt.source = cond.source
        |JOIN un ON un.source = cond.source
        |ORDER BY cond.source""".stripMargin,

    // same thresholds as pipeline_quality_filter's WHERE, folded per
    // source instead of emitted per doc
    "corpus_quality_by_source" ->
      s"""WITH f AS (
         |  SELECT doc_id, source, ${metrics.nTokensSql} AS n_tokens,
         |    (${metrics.nTokensSql} BETWEEN 15 AND 80
         |      AND ${metrics.ttrSql} >= 0.3
         |      AND ${metrics.avgWordLenSql} BETWEEN 2.0 AND 12.0)
         |      AS q_keep
         |  FROM (SELECT doc_id, source, text,
         |          string_split(lower(trim(text)), ' ') AS w
         |        FROM documents) d)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN q_keep THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_pass,
         |  round(CAST(sum(CASE WHEN q_keep THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE), 6) AS pass_rate,
         |  round(CAST(sum(n_tokens) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE), 2) AS avg_tokens
         |FROM f GROUP BY source ORDER BY source""".stripMargin,
    "text_langid" ->
      s"""WITH $langPredCtes
         |SELECT doc_id, actual, predicted,
         |  CAST(s_en AS BIGINT) AS score_en
         |FROM pred ORDER BY doc_id""".stripMargin,
    // same closed-form smoothing (unseen trigrams vanish at ln(0+1)=0),
    // same doc × language grid, same decimal score algebra and argmax
    // tiebreak as the Spark plan
    "text_char_trigram_langid" ->
      """WITH dk AS (
        |  SELECT doc_id, lang, lower(trim(text)) AS txt FROM documents
        |  WHERE length(lower(trim(text))) >= 3),
        |tf AS (
        |  SELECT doc_id, lang, tri, count(*) AS tf
        |  FROM (SELECT doc_id, lang, unnest(list_transform(
        |          generate_series(1, length(txt) - 2),
        |          i -> substring(txt, i, 3))) AS tri
        |        FROM dk) t
        |  GROUP BY 1, 2, 3),
        |lm AS (SELECT lang, tri, sum(tf) AS cnt FROM tf GROUP BY 1, 2),
        |vsz AS (SELECT count(DISTINCT tri) AS v_sz FROM lm),
        |lt AS (
        |  SELECT lang AS cand,
        |    CAST(round(ln(CAST(tot + v_sz AS DOUBLE)), 9)
        |      AS DECIMAL(20,9)) AS lnz
        |  FROM (SELECT lang, sum(cnt) AS tot FROM lm GROUP BY 1) tt
        |  CROSS JOIN vsz),
        |seen AS (
        |  SELECT tf.doc_id, lm.lang AS cand,
        |    sum(CAST(round(tf * ln(CAST(cnt + 1 AS DOUBLE)), 9)
        |      AS DECIMAL(20,9))) AS s1
        |  FROM tf JOIN lm ON tf.tri = lm.tri
        |  GROUP BY 1, 2),
        |nt AS (SELECT doc_id, sum(tf) AS n_tri FROM tf GROUP BY 1),
        |g AS (
        |  SELECT d.doc_id, d.lang, lt.cand,
        |    COALESCE(seen.s1, CAST(0 AS DECIMAL(20,9)))
        |      - nt.n_tri * lt.lnz AS score
        |  FROM (SELECT DISTINCT doc_id, lang FROM dk) d
        |  JOIN nt ON nt.doc_id = d.doc_id
        |  CROSS JOIN lt
        |  LEFT JOIN seen ON seen.doc_id = d.doc_id
        |    AND seen.cand = lt.cand),
        |p AS (
        |  SELECT doc_id, lang, cand, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY score DESC, cand) AS rn
        |  FROM g)
        |SELECT lang AS actual, cand AS predicted, count(*) AS n_docs
        |FROM p WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // shared scorer CTE + one keyed agg and an O(langs) total window
    "text_lang_confusion" ->
      s"""WITH $langPredCtes,
         |cells AS (
         |  SELECT actual, predicted, count(*) AS n_docs
         |  FROM pred GROUP BY 1, 2)
         |SELECT actual, predicted, n_docs,
         |  round(CAST(n_docs AS DOUBLE)
         |    / CAST(sum(n_docs) OVER (PARTITION BY actual) AS DOUBLE), 6)
         |    AS share,
         |  actual = predicted AS is_correct
         |FROM cells ORDER BY actual, predicted""".stripMargin,
    // BIGINT casts on every sum (DuckDB sum(int) is HUGEINT — the r04
    // hash-fail class)
    // text_boilerplate's chunk/frequency CTEs with positions kept; the
    // rebuild is string_agg in chunk order, digested with sha256
    "text_boilerplate_strip" ->
      s"""WITH tk AS (
         |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS w
         |  FROM documents),
         |ch0 AS (
         |  SELECT doc_id,
         |    unnest(range(0, CAST(ceil(len(w) / $BoilerW.0) AS BIGINT)))
         |      AS i,
         |    w
         |  FROM tk),
         |ch AS (
         |  SELECT doc_id, i,
         |    array_to_string(list_slice(w, CAST(i * $BoilerW + 1 AS INT),
         |      CAST(i * $BoilerW + $BoilerW AS INT)), ' ') AS chunk
         |  FROM ch0),
         |f AS (
         |  SELECT md5(chunk) AS h, count(DISTINCT doc_id) AS df
         |  FROM ch GROUP BY 1),
         |kept AS (
         |  SELECT doc_id, i, chunk,
         |    len(string_split(chunk, ' ')) AS n_tok
         |  FROM ch JOIN f ON f.h = md5(ch.chunk)
         |  WHERE df < $BoilerDf)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks_kept,
         |  sha256(string_agg(chunk, ' ' ORDER BY i)) AS clean_sha,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tok_kept
         |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "text_boilerplate" ->
      s"""WITH tk AS (
         |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS w
         |  FROM documents),
         |ch0 AS (
         |  SELECT doc_id, unnest(list_transform(
         |    range(0, CAST(ceil(len(w) / $BoilerW.0) AS BIGINT)),
         |    i -> array_to_string(
         |      list_slice(w, i * $BoilerW + 1, i * $BoilerW + $BoilerW),
         |      ' '))) AS chunk
         |  FROM tk),
         |ch AS (
         |  SELECT doc_id, md5(chunk) AS h,
         |    len(string_split(chunk, ' ')) AS n_tok
         |  FROM ch0),
         |f AS (SELECT h, count(DISTINCT doc_id) AS df FROM ch GROUP BY 1)
         |SELECT doc_id, count(*) AS n_chunks,
         |  CAST(sum(CASE WHEN df >= $BoilerDf THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_boiler,
         |  CAST(sum(CASE WHEN df < $BoilerDf THEN n_tok ELSE 0 END)
         |    AS BIGINT) AS n_tok_kept
         |FROM ch JOIN f USING (h)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_bigram_lm" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS w
        |  FROM documents),
        |uni AS (
        |  SELECT word, count(*) AS c1
        |  FROM (SELECT unnest(w) AS word FROM tk) GROUP BY 1),
        |v AS (SELECT count(*) AS v_sz FROM uni),
        |bg AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(w)),
        |    i -> w[i] || ' ' || w[i + 1])) AS bg
        |  FROM tk WHERE len(w) >= 2),
        |cb AS (SELECT bg, count(*) AS c2 FROM bg GROUP BY 1),
        |j AS (
        |  SELECT b.doc_id,
        |    CAST(round(ln((cb.c2 + 1) / (uni.c1 + v.v_sz)), 9)
        |      AS DECIMAL(20,9)) AS lp
        |  FROM bg b JOIN cb ON b.bg = cb.bg
        |  JOIN uni ON string_split(b.bg, ' ')[1] = uni.word
        |  CROSS JOIN v)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(CAST(sum(lp) AS DOUBLE) / count(*), 6) AS avg_logp
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_entropy" ->
      """WITH tk AS (
        |  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS word
        |  FROM documents),
        |tf AS (SELECT doc_id, word, count(*) AS c FROM tk GROUP BY 1, 2),
        |tn AS (
        |  SELECT doc_id, word, c, sum(c) OVER (PARTITION BY doc_id) AS n
        |  FROM tf),
        |h AS (
        |  SELECT doc_id, n,
        |    CAST(round(-(CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n),
        |      9) AS DECIMAL(20,9)) AS h
        |  FROM tn)
        |SELECT doc_id, CAST(max(n) AS BIGINT) AS n_tokens,
        |  count(*) AS n_distinct,
        |  round(CAST(sum(h) AS DOUBLE), 6) AS entropy_nats
        |FROM h GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_keywords" ->
      """WITH tk AS (
        |  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS word
        |  FROM documents),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM tk GROUP BY 1, 2),
        |df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (
        |  SELECT doc_id, tf.word AS word,
        |    round(CAST(tf AS DOUBLE) * ln((n_docs + 1.0) / (df + 1.0)), 6)
        |      AS score
        |  FROM tf JOIN df ON tf.word = df.word CROSS JOIN n),
        |r AS (
        |  SELECT doc_id, word, score, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY score DESC, word) AS rn
        |  FROM sc)
        |SELECT doc_id, word, score FROM r WHERE rn <= 3
        |ORDER BY doc_id, score DESC, word""".stripMargin,
    "text_zipf_fit" ->
      """WITH f AS (
        |  SELECT word, count(*) AS c
        |  FROM (SELECT unnest(string_split(lower(trim(text)), ' ')) AS word
        |        FROM documents) t
        |  GROUP BY 1 ORDER BY c DESC, word LIMIT 100),
        |r AS (
        |  SELECT c, row_number() OVER (ORDER BY c DESC, word) AS rank
        |  FROM f),
        |m0 AS (
        |  SELECT
        |    CAST(round(ln(rank), 9) AS DECIMAL(20,9)) AS x,
        |    CAST(round(ln(c), 9) AS DECIMAL(20,9)) AS y,
        |    CAST(round(ln(rank) * ln(c), 9) AS DECIMAL(20,9)) AS xy,
        |    CAST(round(ln(rank) * ln(rank), 9) AS DECIMAL(20,9)) AS xx
        |  FROM r),
        |m AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |    CAST(sum(xy) AS DOUBLE) AS sxy, CAST(sum(xx) AS DOUBLE) AS sxx
        |  FROM m0)
        |SELECT CAST(n AS BIGINT) AS n_words,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
        |  round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
        |    AS intercept
        |FROM m""".stripMargin,
    "text_ngram_novelty" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, len(w) - 4),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
        |      || ' ' || w[i+4]))) AS gram
        |  FROM tk WHERE len(w) >= 5),
        |f AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY 1)
        |SELECT g.doc_id, count(*) AS n_grams,
        |  CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_novel,
        |  round(CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*), 6) AS novelty
        |FROM g JOIN f ON g.gram = f.gram
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,
    // winnowing twin: the same FNV-1a 64 per-shingle hash (recursive CTE
    // over DISTINCT 3-token shingles, mod-2^64 HUGEINT arithmetic — the
    // dedup_simhash precedent; per-char ord == per-byte because the
    // fixture corpus is ASCII-only, pinned by FixtureContractSpec), then
    // min per sliding window of 4 and DISTINCT. The unsigned hash is
    // converted to signed BIGINT (two's complement) BEFORE the window
    // min, because the native expression compares signed longs.
    "text_fingerprint" ->
      """WITH RECURSIVE
        |tk AS (
        |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS w
        |  FROM documents
        |  WHERE len(string_split(lower(trim(text)), ' ')) >= 6),
        |sh AS (
        |  SELECT doc_id, pos, len(w) - 2 AS nsh,
        |    array_to_string(list_slice(w, pos, pos + 2), ' ') AS s
        |  FROM (SELECT doc_id, w,
        |          unnest(generate_series(1, len(w) - 2)) AS pos
        |        FROM tk)),
        |ds AS (SELECT DISTINCT s FROM sh),
        |fnv AS (
        |  SELECT s, 1 AS i, CAST(14695981039346656037 AS UBIGINT) AS h
        |  FROM ds
        |  UNION ALL
        |  SELECT s, i + 1,
        |    CAST(CAST((CAST(xor(h, CAST(ord(substr(s, i, 1)) AS UBIGINT))
        |      AS HUGEINT) * 1099511628211) % 18446744073709551616
        |      AS HUGEINT) AS UBIGINT)
        |  FROM fnv WHERE i <= len(s)),
        |hf AS (
        |  SELECT s,
        |    CAST(CAST(h AS HUGEINT)
        |      - CASE WHEN h >= CAST(9223372036854775808 AS UBIGINT)
        |        THEN 18446744073709551616 ELSE 0 END AS BIGINT) AS hs
        |  FROM fnv WHERE i = len(s) + 1),
        |wm AS (
        |  SELECT sh.doc_id, sh.pos, sh.nsh,
        |    min(hf.hs) OVER (PARTITION BY sh.doc_id ORDER BY sh.pos
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
        |  FROM sh JOIN hf ON sh.s = hf.s)
        |SELECT DISTINCT doc_id, m AS fingerprint
        |FROM wm WHERE pos <= nsh - 3
        |ORDER BY doc_id, fingerprint""".stripMargin,
    "text_gopher_rules" ->
      """WITH tk AS (
        |  SELECT doc_id, text, string_split(lower(trim(text)), ' ') AS w
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(w) AS BIGINT) AS n_words,
        |    CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(w)
        |      AS mean_wl,
        |    CAST(len(list_filter(w, t -> regexp_matches(t, '[a-z]')))
        |      AS DOUBLE) / len(w) AS alpha_ratio,
        |    CAST(len(list_filter(w, t -> t IN
        |      ('the', 'a', 'of', 'and', 'to', 'in', 'is'))) AS BIGINT)
        |      AS stop_hits
        |  FROM tk)
        |SELECT doc_id, n_words, round(mean_wl, 6) AS mean_wl,
        |  round(alpha_ratio, 6) AS alpha_ratio, stop_hits,
        |  n_words BETWEEN 10 AND 100000 AS rule_wc,
        |  mean_wl BETWEEN 2.0 AND 10.0 AS rule_wl,
        |  alpha_ratio >= 0.8 AS rule_alpha,
        |  stop_hits >= 2 AS rule_stop,
        |  (n_words BETWEEN 10 AND 100000 AND mean_wl BETWEEN 2.0 AND 10.0
        |    AND alpha_ratio >= 0.8 AND stop_hits >= 2) AS keep
        |FROM m ORDER BY doc_id""".stripMargin,
    "text_readability" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(lower(trim(text)), ' ')) AS BIGINT)
        |      AS n_words,
        |    CAST(len(regexp_extract_all(text, '[aeiouy]+')) AS BIGINT)
        |      AS n_syll
        |  FROM documents)
        |SELECT doc_id, n_words, n_syll,
        |  round(CAST(n_syll AS DOUBLE) / n_words, 6) AS syll_per_word,
        |  round(206.835 - 1.015 * CAST(n_words AS DOUBLE)
        |    - 84.6 * (CAST(n_syll AS DOUBLE) / CAST(n_words AS DOUBLE)), 4)
        |    AS flesch
        |FROM m WHERE n_words > 0 ORDER BY doc_id""".stripMargin,
    "text_rare_word_ratio" ->
      """WITH words AS (
        |  SELECT doc_id, unnest(string_split(lower(trim(text)), ' '))
        |    AS word
        |  FROM documents),
        |vocab AS (SELECT word, count(*) AS freq FROM words GROUP BY word),
        |thr AS (
        |  SELECT CAST(sum(freq) AS DOUBLE) / count(*) AS mean_freq
        |  FROM vocab)
        |SELECT doc_id, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN CAST(freq AS DOUBLE) < mean_freq
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
        |  round(CAST(sum(CASE WHEN CAST(freq AS DOUBLE) < mean_freq
        |    THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS rare_ratio
        |FROM words JOIN vocab USING (word) CROSS JOIN thr
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_source_divergence" ->
      """WITH w AS (
        |  SELECT source, unnest(string_split(lower(trim(text)), ' '))
        |    AS word
        |  FROM documents),
        |sc AS (
        |  SELECT source, word, count(*) AS csw FROM w GROUP BY 1, 2),
        |st AS (
        |  SELECT source, CAST(sum(csw) AS BIGINT) AS ns
        |  FROM sc GROUP BY 1),
        |vc AS (
        |  SELECT word, CAST(sum(csw) AS BIGINT) AS cw
        |  FROM sc GROUP BY 1),
        |nn AS (SELECT CAST(sum(cw) AS BIGINT) AS nn FROM vc),
        |grid AS (
        |  SELECT st.source, st.ns, vc.cw,
        |    coalesce(sc.csw, 0) AS csw, nn.nn
        |  FROM st CROSS JOIN vc
        |  LEFT JOIN sc ON sc.source = st.source AND sc.word = vc.word
        |  CROSS JOIN nn),
        |terms AS (
        |  SELECT source, ns,
        |    CAST(round(
        |      0.5 * (CASE WHEN csw > 0
        |        THEN (CAST(csw AS DOUBLE) / ns)
        |          * ln((CAST(csw AS DOUBLE) / ns)
        |            / ((CAST(csw AS DOUBLE) / ns
        |               + CAST(cw AS DOUBLE) / nn) / 2))
        |        ELSE 0.0 END)
        |      + 0.5 * ((CAST(cw AS DOUBLE) / nn)
        |        * ln((CAST(cw AS DOUBLE) / nn)
        |          / ((CAST(csw AS DOUBLE) / ns
        |             + CAST(cw AS DOUBLE) / nn) / 2))),
        |      9) AS DECIMAL(20,9)) AS term
        |  FROM grid)
        |SELECT source, max(ns) AS n_tokens,
        |  round(CAST(sum(term) AS DOUBLE), 6) AS jsd
        |FROM terms GROUP BY source ORDER BY source""".stripMargin,
    "text_pmi_collocations" ->
      """WITH tk AS (
        |  SELECT string_split(lower(trim(text)), ' ') AS w
        |  FROM documents),
        |uni AS (
        |  SELECT word, count(*) AS c1
        |  FROM (SELECT unnest(w) AS word FROM tk) GROUP BY word),
        |nu AS (SELECT CAST(sum(c1) AS BIGINT) AS n_uni FROM uni),
        |bgs AS (
        |  SELECT unnest(list_transform(range(1, len(w)),
        |    i -> w[i] || ' ' || w[i + 1])) AS bg
        |  FROM tk WHERE len(w) >= 2),
        |c2 AS (SELECT bg, count(*) AS c12 FROM bgs GROUP BY bg),
        |nb AS (SELECT CAST(sum(c12) AS BIGINT) AS n_bg FROM c2),
        |sp AS (
        |  SELECT string_split(bg, ' ')[1] AS w1,
        |    string_split(bg, ' ')[2] AS w2, c12
        |  FROM c2 WHERE c12 >= 5)
        |SELECT w1, w2, c12,
        |  round(ln((CAST(c12 AS DOUBLE) / n_bg)
        |    / ((CAST(ca.c1 AS DOUBLE) / n_uni)
        |      * (CAST(cb.c1 AS DOUBLE) / n_uni))), 6) AS pmi
        |FROM sp
        |JOIN uni ca ON sp.w1 = ca.word
        |JOIN uni cb ON sp.w2 = cb.word
        |CROSS JOIN nb CROSS JOIN nu
        |ORDER BY pmi DESC, w1, w2 LIMIT 50""".stripMargin,
    "text_hapax_stats" ->
      """WITH wc AS (
        |  SELECT word, count(*) AS cnt
        |  FROM (SELECT unnest(string_split(lower(trim(text)), ' '))
        |          AS word
        |        FROM documents) t
        |  GROUP BY word)
        |SELECT count(*) AS n_vocab,
        |  CAST(sum(cnt) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_hapax,
        |  round(CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 6) AS hapax_ratio,
        |  round(CAST(count(*) AS DOUBLE) / CAST(sum(cnt) AS BIGINT), 6)
        |    AS corpus_ttr
        |FROM wc""".stripMargin,
    "corpus_datacard" ->
      s"""WITH docs AS (
         |  SELECT doc_id, source, lang,
         |    CAST(len(string_split(lower(trim(text)), ' ')) AS BIGINT)
         |      AS n_tok
         |  FROM documents),
         |keepers AS (
         |  SELECT doc_id
         |  FROM (SELECT doc_id, text,
         |          string_split(lower(trim(text)), ' ') AS w
         |        FROM documents) d
         |  WHERE ${metrics.nTokensSql} BETWEEN 15 AND 80
         |    AND ${metrics.ttrSql} >= 0.3
         |    AND ${metrics.avgWordLenSql} BETWEEN 2.0 AND 12.0),
         |lm AS (
         |  SELECT source, lang, count(*) AS ln
         |  FROM docs GROUP BY 1, 2),
         |lmode AS (
         |  SELECT source, count(*) AS n_langs,
         |    min(CASE WHEN rn = 1 THEN lang END) AS top_lang
         |  FROM (SELECT source, lang,
         |          row_number() OVER (PARTITION BY source
         |            ORDER BY ln DESC, lang) AS rn
         |        FROM lm) t
         |  GROUP BY source),
         |agg AS (
         |  SELECT d.source, count(*) AS n_docs,
         |    CAST(sum(d.n_tok) AS BIGINT) AS total_tokens,
         |    round(CAST(sum(d.n_tok) AS DOUBLE) / count(*), 6)
         |      AS avg_tokens,
         |    CAST(COALESCE(sum(CASE WHEN k.doc_id IS NOT NULL THEN 1
         |      ELSE 0 END), 0) AS BIGINT) AS n_quality_pass
         |  FROM docs d LEFT JOIN keepers k ON d.doc_id = k.doc_id
         |  GROUP BY d.source)
         |SELECT a.source, a.n_docs, a.total_tokens, a.avg_tokens,
         |  l.n_langs, l.top_lang,
         |  round(CAST(a.n_quality_pass AS DOUBLE) / a.n_docs, 6)
         |    AS quality_pass_rate
         |FROM agg a JOIN lmode l ON a.source = l.source
         |ORDER BY a.source""".stripMargin,
    // per-token join + ordered string_agg rebuild — a different plan
    // shape (DuckDB has no broadcast-array transform), same skeletons
    "text_template_mining" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS w
        |  FROM documents),
        |vocab AS (
        |  SELECT word, count(*) AS freq
        |  FROM (SELECT unnest(w) AS word FROM tk) x GROUP BY word),
        |keep AS (
        |  SELECT word FROM vocab ORDER BY freq DESC, word LIMIT 10),
        |st AS (
        |  SELECT doc_id, w,
        |    unnest(generate_series(1, len(w) - 7, 8)) AS start
        |  FROM tk WHERE len(w) >= 8),
        |words AS (
        |  SELECT doc_id, start,
        |    unnest(list_slice(w, start, start + 7)) AS word,
        |    generate_subscripts(list_slice(w, start, start + 7), 1) AS pos
        |  FROM st),
        |masked AS (
        |  SELECT ws.doc_id, ws.start, ws.pos,
        |    CASE WHEN k.word IS NULL THEN '<*>' ELSE ws.word END AS tok
        |  FROM words ws LEFT JOIN keep k USING (word)),
        |tpl AS (
        |  SELECT doc_id, start, string_agg(tok, ' ' ORDER BY pos)
        |    AS template
        |  FROM masked GROUP BY doc_id, start)
        |SELECT template, count(*) AS n_chunks,
        |  count(DISTINCT doc_id) AS n_docs, min(doc_id) AS min_doc
        |FROM tpl GROUP BY template
        |HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY n_docs DESC, template LIMIT 100""".stripMargin,
    "text_heaps_fit" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS w
        |  FROM documents),
        |cps AS (
        |  SELECT CAST(decile AS BIGINT) AS decile,
        |    CAST(floor((SELECT max(doc_id) FROM tk) * decile / 10.0)
        |      AS BIGINT) AS cp
        |  FROM generate_series(1, 10) t(decile)),
        |tok_at AS (
        |  SELECT decile, CAST(sum(len(w)) AS BIGINT) AS n_tokens
        |  FROM tk CROSS JOIN cps WHERE doc_id <= cp GROUP BY decile),
        |firsts AS (
        |  SELECT word, min(doc_id) AS fd
        |  FROM (SELECT doc_id, unnest(w) AS word FROM tk) u
        |  GROUP BY word),
        |voc_at AS (
        |  SELECT decile, count(*) AS vocab
        |  FROM firsts CROSS JOIN cps WHERE fd <= cp GROUP BY decile),
        |curve AS (
        |  SELECT decile, n_tokens, vocab
        |  FROM tok_at JOIN voc_at USING (decile)),
        |m0 AS (
        |  SELECT
        |    CAST(round(ln(n_tokens), 9) AS DECIMAL(20,9)) AS x,
        |    CAST(round(ln(vocab), 9) AS DECIMAL(20,9)) AS y,
        |    CAST(round(ln(n_tokens) * ln(vocab), 9) AS DECIMAL(20,9))
        |      AS xy,
        |    CAST(round(ln(n_tokens) * ln(n_tokens), 9) AS DECIMAL(20,9))
        |      AS xx
        |  FROM curve),
        |mm AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |    CAST(sum(xy) AS DOUBLE) AS sxy, CAST(sum(xx) AS DOUBLE) AS sxx
        |  FROM m0),
        |fit AS (
        |  SELECT
        |    round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS beta,
        |    round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
        |      / n, 6) AS ln_k
        |  FROM mm)
        |SELECT decile, n_tokens, vocab, beta, ln_k
        |FROM curve CROSS JOIN fit ORDER BY decile""".stripMargin,

    "text_doc_perplexity" ->
      """WITH tk AS (
        |  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS word
        |  FROM documents),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM tk GROUP BY 1, 2),
        |lm AS (SELECT word, count(*) AS cnt FROM tk GROUP BY 1),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_corpus,
        |  count(*) AS vocab FROM lm),
        |terms AS (
        |  SELECT tf.doc_id, tf.tf,
        |    CAST(round(tf.tf * -ln(CAST(lm.cnt + 1 AS DOUBLE)
        |      / (tot.n_corpus + tot.vocab)), 9) AS DECIMAL(20,9)) AS nll
        |  FROM tf JOIN lm USING (word) CROSS JOIN tot)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_toks,
        |  round(CAST(sum(nll) AS DOUBLE) / sum(tf), 6) AS avg_nll
        |FROM terms GROUP BY doc_id
        |ORDER BY avg_nll DESC, doc_id LIMIT 20""".stripMargin,

    "text_length_outliers" ->
      """WITH med AS (
        |  SELECT quantile_cont(n_chars, 0.5) AS med FROM documents),
        |dv AS (
        |  SELECT doc_id, n_chars, med, abs(n_chars - med) AS dev
        |  FROM documents CROSS JOIN med),
        |md AS (SELECT quantile_cont(dev, 0.5) AS mad FROM dv)
        |SELECT doc_id, n_chars, round(med, 1) AS median_chars,
        |  round(dev / (mad * 1.4826), 4) AS z_mad
        |FROM dv CROSS JOIN md
        |ORDER BY z_mad DESC, doc_id LIMIT 20""".stripMargin,

    "text_burstiness" ->
      """WITH pd AS (
        |  SELECT w, doc_id, count(*) AS c FROM (
        |    SELECT doc_id,
        |      unnest(string_split(lower(trim(text)), ' ')) AS w
        |    FROM documents) z
        |  GROUP BY 1, 2),
        |nd AS (SELECT count(*) AS n_docs FROM documents),
        |top AS (
        |  SELECT w, count(*) AS df, CAST(sum(c) AS BIGINT) AS tot,
        |    CAST(sum(c * c) AS BIGINT) AS totsq
        |  FROM pd GROUP BY 1 ORDER BY df DESC, w LIMIT 50),
        |m AS (
        |  SELECT w, df, tot, totsq, n_docs,
        |    CAST(tot AS DOUBLE) / n_docs AS mean_c
        |  FROM top CROSS JOIN nd),
        |v AS (
        |  SELECT w, df, tot, mean_c,
        |    (CAST(totsq AS DOUBLE) - n_docs * mean_c * mean_c) / n_docs
        |      AS var_c
        |  FROM m)
        |SELECT w AS word, df, tot AS total_count,
        |  round(mean_c, 6) AS mean_per_doc,
        |  round(var_c / mean_c, 6) AS fano
        |FROM v ORDER BY df DESC, word""".stripMargin
  )
}
