package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for training-data pipelines: token counting,
 * quality scoring, language identification, and document fingerprinting.
 * Zero shuffle — pure map-side work that scales linearly with input
 * splits. The per-document scanning runs in the one-pass compiled
 * [[graft.functions.TextProfile]] kernel; the Column formulas here only
 * combine its counters (and define the exact semantics the DuckDB oracles
 * replicate).
 */
object TextStats {

  // public so the DuckDB oracle SQL can embed the exact same lists
  val enStopList: Seq[String] = Seq("the", "a", "an", "and", "of", "to",
    "in", "is", "that", "it", "for", "on", "with", "as", "was", "at", "by",
    "be")
  val deStopList: Seq[String] = Seq("der", "die", "das", "und", "ist",
    "von", "zu", "den", "mit", "nicht", "ein", "eine", "auf", "fuer")
  val frStopList: Seq[String] = Seq("le", "la", "les", "de", "des", "et",
    "est", "un", "une", "du", "que", "pour", "dans", "pas")
  val esStopList: Seq[String] = Seq("el", "la", "los", "las", "de", "y",
    "es", "un", "una", "del", "que", "por", "en", "no")

  /** The one-pass profile struct (see [[graft.functions.TextProfile]]). */
  def profile(text: Column): Column =
    org.apache.spark.sql.GraftSqlShim.column(
      graft.functions.TextProfile(
        org.apache.spark.sql.GraftSqlShim.lazyExpression(text)))

  /** Whitespace token count (empty/blank text → 0). */
  def tokenCount(text: Column): Column = profile(text).getField("n_tokens")

  /** Rough BPE-ish subword count: word-boundary pieces plus intra-word
    * 4-char chunks (a cheap proxy for tokenizer budget accounting). */
  def subwordCount(text: Column): Column = profile(text).getField("n_subwords")

  private def ratioOf(text: Column, field: String): Column = {
    val p = profile(text)
    when(p.getField("n_chars") === 0, lit(0.0))
      .otherwise(round(p.getField(field).cast("double") /
        p.getField("n_chars").cast("double"), 6))
  }

  def punctRatio(text: Column): Column = ratioOf(text, "n_punct")

  def digitRatio(text: Column): Column = ratioOf(text, "n_digit")

  def upperRatio(text: Column): Column = ratioOf(text, "n_upper")

  def whitespaceRatio(text: Column): Column = ratioOf(text, "n_ws")

  /** Fraction of tokens that are (English) stopwords — a classic quality
    * signal: near-zero for word soup / non-prose. */
  def stopwordRatio(text: Column): Column = {
    val p = profile(text)
    when(p.getField("n_tokens") === 0, lit(0.0))
      .otherwise(round(p.getField("sw_en").cast("double") /
        p.getField("n_tokens").cast("double"), 6))
  }

  /** Stopword-profile language ID over {en, de, fr, es}; `und`
    * (undetermined) when nothing matches. Deterministic argmax with
    * ties toward the lexicographically-later language. */
  def langId(text: Column): Column = profile(text).getField("lang_pred")

  /** Composite [0,1] quality score from length, stopword and symbol
    * signals (inspired by public web-corpus quality heuristics: prose has
    * moderate length, some stopwords, low symbol noise). */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCount(text).cast("double")
    val lenScore = least(nTok / 64.0, lit(1.0))
    val stopScore = least(stopwordRatio(text) * 4.0, lit(1.0))
    val noise = punctRatio(text) + digitRatio(text)
    val noiseScore = greatest(lit(1.0) - noise * 4.0, lit(0.0))
    round((lenScore + stopScore + noiseScore) / 3.0, 6)
  }

  /** Within-document repetition: the fraction of word `n`-grams that are
    * repeats of an earlier one (`1 - distinct/total`) — the
    * Gopher-style duplicate-n-gram filter for boilerplate / degenerate
    * loops. 0 for docs shorter than `n` words (one whole-doc gram);
    * NULL for NULL text (matching every sibling stat — a NULL doc must
    * not pass a `repetitionRatio < x` quality gate as pristine prose).
    * Pure map-side column work, no kernel needed. */
  def repetitionRatio(text: Column, n: Int = 2): Column = {
    // let-bind the token array (the wordShingles trick): the shingle
    // lambda reads it per element and HOFs get no subexpression
    // elimination, so an unbound reference re-splits per gram
    val ratio = element_at(transform(array(Dedup.words(text)), ws => {
      val total = when(size(ws) >= n, size(ws) - (n - 1)).otherwise(lit(1))
      val distinctGrams = size(Dedup.shinglesOfWords(ws, n))
      round((total - distinctGrams).cast("double") / total.cast("double"), 6)
    }), 1)
    when(text.isNull, lit(null).cast("double")).otherwise(ratio)
  }

  /** Winnowing-style document fingerprint: min over all `k`-shingle
    * hashes — equal for documents with an identical shingle somewhere
    * minimized, robust to local edits. One BIGINT per doc. */
  def fingerprint(text: Column, k: Int = 5): Column =
    array_min(Dedup.shingleHashes(text, k))

  /** PII patterns shared by [[redactPii]] and callers that count hits
    * before scrubbing. Deliberately restricted to a regex subset (no
    * lookaround, ASCII classes) that means the same thing in Java
    * regex, RE2, and PCRE — a curation rule whose semantics depend on
    * the engine's regex dialect cannot be validated across systems. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}(\\.\\d{1,3}){3}\\b"
  val LongNumRe = "\\d{8,}"

  /** Corpus vocabulary statistics — tokenizer-training prep: one row
    * per distinct (lower-cased, `\s`-tokenized) term with corpus term
    * frequency and document frequency. Scale shape: explode + hash
    * aggregate — partial (map-side) aggregation collapses each
    * partition's term counts before the one shuffle on the term key,
    * so stop-word-hot terms cost each partition at most one output row
    * per term; df's count-distinct runs as Spark's standard two-phase
    * expand aggregate, also partial-first. No collect, no crossJoin. */
  def vocab(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(Dedup.words(col(textCol))).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))

  /**
   * Exact per-group percentiles of an integer column — length-
   * distribution profiling (outlier thresholds, tokenizer budget
   * planning) WITHOUT sorting the corpus: aggregate to a per-(group,
   * value) count histogram first, then walk the cumulative counts.
   * `value_p` = the smallest value whose cumulative count reaches
   * `ceil(total · p/100)` (percentile-disc semantics) — pure integer
   * arithmetic end to end, so the result is hash-exact on any engine
   * (interpolating percentiles are float-typed and engine-divergent).
   *
   * Scale shape: the corpus collapses map-side into ≤ |distinct values|
   * rows per group (lengths have tiny domains compared to corpora — a
   * 10^11-doc corpus has ~10^5 distinct lengths), and only the
   * histogram rides the shuffle and the per-group windows. The naive
   * `sort per group + pick ranks` shuffles and sorts every row.
   * Returns one `(group, pct, value)` row per requested percentile.
   */
  def lengthPercentiles(docs: DataFrame, groupCol: String, lenCol: String,
      percents: Seq[Int]): DataFrame = {
    require(percents.nonEmpty && percents.forall(p => p >= 1 && p <= 100),
      s"percents must be in [1, 100] (got $percents)")
    import org.apache.spark.sql.expressions.Window
    val byLen = Window.partitionBy(col(groupCol)).orderBy(col("len"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy(col(groupCol))
    docs.groupBy(col(groupCol), col(lenCol).cast("long").as("len"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum("cnt").over(byLen))
      .withColumn("total", sum("cnt").over(whole))
      .withColumn("pct", explode(typedlit(percents.map(_.toLong))))
      .withColumn("rnk",
        floor((col("total") * col("pct") + 99) / 100.0).cast("long"))
      .where(col("cum") >= col("rnk") && col("cum") - col("cnt") < col("rnk"))
      .select(col(groupCol), col("pct"), col("len").as("value"))
  }

  /**
   * Per-group quality top-k: keep each group's `k` highest
   * [[qualityScore]] documents (source/domain-quota curation — "best k
   * docs per domain"). Deterministic: quality is a round-6 ratio both
   * engines compute identically, ties break on ascending id.
   *
   * Scale shape: `row_number <= k` over a window is the form Catalyst's
   * WindowGroupLimit rewrite recognizes — each map task keeps only its
   * local top-k per group BEFORE the shuffle, so the exchange carries
   * ≤ k rows per (task, group), never the full group. A plain
   * "sort-within-group then filter" would sort entire domains.
   */
  def topKByQuality(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive (got $k)")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("quality").desc, col(idCol))
    docs.select(col(idCol), col(groupCol),
        qualityScore(col(textCol)).as("quality"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= k)
  }

  /**
   * BM25 relevance of every document to a fixed term set — the lexical
   * ranking primitive (quality-targeted subcorpus selection, seed-query
   * mining, search-style retrieval over a training corpus). Okapi/Lucene
   * form: `idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5))`,
   * `score = Σ_t idf·tf·(k1+1)/(tf + k1·(1 - b + b·dl/avgdl))`.
   * Returns `(doc_id, score)` (round 4) for documents matching ≥ 1 term.
   *
   * Scale shape: per-term `tf` and `dl` are computed INSIDE the row
   * (size/filter over the token array — no explode), so the corpus
   * never shuffles; the only exchange is the single-row global
   * aggregate (N, avgdl, per-term df — |terms|+2 numbers) that then
   * broadcasts back into the map-side scoring pass. Compare: the naive
   * explode→join-on-term plan shuffles every token occurrence.
   */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    // Tokenize ONCE per row, then derive dl + every per-term tf from the
    // materialized array: the intermediate projection is a boundary
    // CollapseProject won't cross (the alias is non-cheap and referenced
    // |terms|+1 times), so the regex split runs once instead of once per
    // term — and the generated projection code stays |terms|× smaller
    // (the per-term duplicated tokenizer chain is what ballooned the
    // first-touch JIT cost observed in round 11's BenchScale session).
    val toks = docs.select(col(idCol).as("doc_id"),
      Dedup.words(col(textCol)).as("toks"))
    def perDocTfs(t: DataFrame): DataFrame = t.select(
      col("doc_id") +: size(col("toks")).cast("long").as("dl") +:
        terms.zipWithIndex.map { case (term, i) =>
          size(filter(col("toks"), w => w === lit(term))).cast("long")
            .as(s"tf_$i")
        }: _*)
    val perDoc = perDocTfs(toks)
    val stats = perDoc.agg(count(lit(1)).as("n"),
      avg(col("dl")).as("avgdl") +:
        terms.indices.map(i =>
          sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_$i")): _*)
    // The match filter runs BEFORE the tf projection as one
    // `arrays_overlap` over the token array — written per-term
    // (`tf_0 > 0 OR ...`) it pushes below the projection as |terms|
    // full re-tokenizations of every scanned row (each substituted
    // predicate inlines its own split chain); this form pushes as ONE.
    // It must sit on the probe side only: `stats` (N, avgdl, df) is
    // defined over the WHOLE corpus, matching or not.
    val probe = perDocTfs(toks.where(arrays_overlap(col("toks"),
      typedLit(terms))))
    val scored = probe.crossJoin(broadcast(stats))
    val termScore = (i: Int) => {
      val tf = col(s"tf_$i").cast("double")
      val idf = log(lit(1.0) +
        (col("n").cast("double") - col(s"df_$i") + lit(0.5)) /
          (col(s"df_$i") + lit(0.5)))
      when(col(s"tf_$i") > 0,
        idf * tf * lit(k1 + 1.0) /
          (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
        .otherwise(lit(0.0))
    }
    scored.select(col("doc_id"),
      round(terms.indices.map(termScore).reduce(_ + _), 4).as("score"))
  }

  /**
   * BM25 top-`k` retrieval JOIN: the best `k` documents for EVERY row
   * of a query table at once — the corpus-search primitive behind
   * training-data attribution ("which documents match this eval
   * question"), targeted decontamination and retrieval-based data
   * selection. Same k1/b scoring model as [[bm25]] (distinct query
   * terms; IDF `ln(1 + (N - df + 0.5)/(df + 0.5))` over the WHOLE
   * corpus), ranked per query by (score desc, doc_id asc). Returns
   * `(query_id, doc_id, score_q, rank)`.
   *
   * Determinism across engines AND partitionings: [[bm25]] keeps its
   * double sum engine-exact by evaluating ONE row-level expression in
   * fixed term order — impossible here, where a document's matched
   * terms meet in an aggregation whose addition order follows the
   * shuffle. Instead each per-term score quantizes to integer
   * micro-units at the row level (`round(term_score · 1e6)`, the
   * q131/q142 discipline) and the per-(query, doc) score is an exact
   * integer SUM — bit-identical on any engine, cluster size or
   * partitioning. `score_q` is that integer (units of 1e-6).
   *
   * Scale shape: token instances prune against the broadcast query
   * vocabulary BEFORE the per-(doc, term) collapse, so the one
   * corpus-sized shuffle carries only matched-term rows (~|matched
   * docs| × |query terms| narrow rows, not the corpus); df/N/avgdl
   * ride 1-row-to-vocab-bounded broadcasts; the final per-query top-k
   * is a WindowGroupLimit cut, never a global sort of the scores.
   * The Σ_term df·qf score fan-out happens INSIDE
   * [[graft.functions.Bm25ScoreQueries]] — a compiled per-document
   * kernel against the driver-built term → query-ids table — so the
   * fan-out rows never cross an exchange and the former
   * high-cardinality (query, doc) hash aggregate (7-9 s of the 16.1 s
   * r15 bench entry on its own) is gone; only ≤ |doc, matched term|
   * 16-byte entries shuffle into the per-doc collapse. The query side
   * is collected once on the driver to build the table — the same
   * |query, term| ceiling it already paid as a broadcast (documented
   * in [[graft.Bench]]: ~2-3 M queries of eval-prompt length).
   */
  def bm25Retrieve(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, qIdCol: String, qTextCol: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k > 0, s"k must be positive (got $k)")
    import org.apache.spark.sql.expressions.Window
    // NULL texts drop out (the q141 pattern): words(NULL) is NULL and
    // size(NULL) = -1 under legacy sizeOfNull, which would silently
    // corrupt avgdl while every SQL oracle's avg() ignores NULLs
    val toks = docs.where(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        Dedup.words(col(textCol)).as("toks"))
    // whole-corpus stats (matching or not), the q85 contract: one
    // map-side-collapsed agg; avg over exact long dl is sum/count —
    // engine-exact
    val stats = toks.agg(count(lit(1)).as("n"),
      avg(size(col("toks")).cast("long")).as("avgdl"))
    // persisted across the TWO driver jobs below (the fail-loud gate
    // aggregation, then the qGroups collect): without it the query
    // side's whole lineage — tokenize + explode plus whatever produced
    // `queries` — recomputes once per job even when the gate never
    // trips (r17 ADVICE). MEMORY_AND_DISK: the frame is small by the
    // same contract that lets it collect
    val qTerms = queries.select(col(qIdCol).cast("long").as("query_id"),
        explode(array_distinct(Dedup.words(col(qTextCol)))).as("term"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // driver-built query vocabulary: term -> dense tid (sorted for
    // determinism) + tid -> query-ids inverted table. The collect is
    // the query SIDE (the small side by contract — it was already
    // broadcast whole before this shape existed, same ceiling).
    val spark = docs.sparkSession
    import spark.implicits._
    // FAIL-LOUD table gate (r16 verdict #3): past the documented
    // ~2-3 M-query ceiling the collect below died as a driver OOM
    // mid-query with no actionable message. One aggregation over the
    // query side (small by contract — this job is bounded by the same
    // table it gates) prices the driver-resident table — boxed qid
    // cells plus UTF-16 term bytes, generous constants so the gate
    // trips before the heap does — against the configured ceiling,
    // self-clamped to 80% of spark.driver.maxResultSize exactly like
    // the containment broadcast gate. Refusing cleanly names the remedy;
    // there is deliberately no silent fallback (a shuffled term-keyed
    // join would also abandon the compiled kernel's zero-exchange
    // fan-out — that switch should be an explicit caller decision).
    val qStats = qTerms.agg(count(lit(1)).as("n"),
      sum(length(col("term"))).as("chars")).head()
    val qRows = if (qStats.isNullAt(0)) 0L else qStats.getLong(0)
    val qChars = if (qStats.isNullAt(1)) 0L else qStats.getLong(1)
    val estBytes = qRows * 48L + qChars * 2L
    val tableGate = Dedup.broadcastCollectGate(
      spark.conf.get(Bm25QueryTableMaxBytesConf,
        Bm25QueryTableMaxBytes.toString).toLong,
      spark.conf.get("spark.driver.maxResultSize", "1g"))
    require(estBytes <= tableGate,
      s"bm25Retrieve query-term table would hold ~$qRows (query, term) " +
        s"entries (~${estBytes / (1L << 20)} MiB driver-resident, gate " +
        s"${tableGate / (1L << 20)} MiB): split the query batch into " +
        s"smaller bm25Retrieve calls, or raise " +
        s"$Bm25QueryTableMaxBytesConf / spark.driver.maxResultSize")
    val qGroups = try qTerms.groupBy("term")
        .agg(collect_list("query_id").as("qids"))
        .as[(String, Seq[Long])].collect().sortBy(_._1)
      finally qTerms.unpersist(blocking = false)
    val qidsByTid: Array[Array[Long]] = qGroups.map(_._2.toArray)
    val vocabTid = spark.createDataset(
      qGroups.iterator.map(_._1).zipWithIndex.toSeq).toDF("term", "tid")
    // prune token instances against the (broadcast) query vocabulary
    // BEFORE the (doc, term) collapse: the aggregate's exchange then
    // carries only matched rows — and the term string dies at this
    // join (the hash-first discipline: downstream keys are int tids)
    val tf = toks
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("term"))
      .join(broadcast(vocabTid), Seq("term"))
      .groupBy("doc_id", "dl", "tid")
      .agg(count(lit(1)).as("tf"))
    // per-term document frequency over the whole corpus, computed on
    // the already-pruned rows (one row here per matching (doc, term))
    val df = tf.groupBy("tid").agg(count(lit(1)).as("df"))
    // conf-gated dense fan-out cap (r17 verdict #4): the kernel's
    // explode emits Σ_t df(t)·|qids(t)| rows — linear and UNBOUNDED in
    // queries×docs when a query term is corpus-dense (SCALE_r17's
    // 30-dense-term synthetic: 63 → 529 s for 10 k → 50 k queries at
    // sf1; real vocabularies are heavy-tailed but an adversarial batch
    // isn't). Mirroring `maxShingleDf`'s discipline in containment, a
    // term whose corpus df exceeds the cap is dropped from scoring
    // entirely — deterministic stopword semantics: the result is
    // bit-identical to running the SAME queries with those terms
    // deleted from the query text (n/avgdl/df of surviving terms are
    // corpus stats, computed before the cap; spec-pinned). Dense terms
    // carry near-zero IDF anyway, so the cap trades the least signal
    // for the hardest bound. Default 0 = off (exact contract path).
    val maxTermDf = spark.conf.get(Bm25MaxTermDfConf, "0").toLong
    val dfKept = if (maxTermDf > 0) df.where(col("df") <= maxTermDf)
      else df
    // row-level quantized term score — operation order mirrors the
    // oracle SQL exactly (see the q85 expression shape)
    val idf = log(lit(1.0) +
      (col("n").cast("double") - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    val tfd = col("tf").cast("double")
    val termScore = idf * tfd * lit(k1 + 1.0) /
      (tfd + lit(k1) * (lit(1.0 - b) + lit(b) *
        col("dl").cast("double") / col("avgdl")))
    // collapse each doc's matched (s, tid) entries into one row and
    // run the Σ_term df·qf fan-out inside the compiled kernel — no
    // (query, doc) aggregate, no fan-out exchange (see
    // [[graft.functions.Bm25ScoreQueries]])
    val docEntries = tf
      .join(broadcast(dfKept), Seq("tid"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        struct(round(termScore * lit(1000000.0), 0).cast("long").as("s"),
          col("tid")).as("e"))
      .groupBy("doc_id")
      .agg(collect_list(col("e")).as("entries"))
    val scoreArr = org.apache.spark.sql.GraftSqlShim.column(
      graft.functions.Bm25ScoreQueries(
        org.apache.spark.sql.GraftSqlShim.lazyExpression(col("entries")),
        qidsByTid))
    val scored = docEntries
      .select(col("doc_id"), explode(scoreArr).as("qs"))
      .select(col("qs.query_id").as("query_id"), col("doc_id"),
        col("qs.score_q").as("score_q"))
    // per-partition heap-bounded partial top-k (the knnJoin pattern,
    // r16 verdict #3): the rank<=k window alone was over half the
    // kernel-path wall (r16 stage profile: ~3.8 s of 7.5) because its
    // partial stage SORTS every (query, matched doc) row; the heaps
    // cut that to an O(n log k) streaming pass in the SAME stage as
    // the kernel explode — the fan-out rows still never cross an
    // exchange, and only ≤ |queries in partition|·k survivors reach
    // the final window. Heap tie-break mirrors the window order
    // exactly (score desc, doc_id asc NULLS FIRST), so the cut keeps
    // precisely the rows the window would rank <= k. Covers every
    // integral and string doc-id type (r17 verdict #5 — string-id
    // corpora previously paid the full window sort silently; string
    // compare is UTF8String binary order, matching the window's sort
    // of StringType exactly). Exotic id types keep the plain window,
    // identical semantics. The per-partition state is BUDGETED (r17
    // ADVICE): unlike the window's UnsafeExternalSorter the heap map
    // can't spill, so past `bm25HeapBudgetEntries` live entries the
    // pass flushes every heap downstream and starts fresh — flushed
    // supersets stay correct because the final window re-cuts
    // rank<=k; the flush only costs extra survivor rows, never
    // wrong ones.
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_q").desc, col("doc_id").asc)
    val heapBudget = math.max(1L, spark.conf.get(Bm25HeapBudgetConf,
      Bm25HeapBudgetEntries.toString).toLong)
    // external-row compare for the doc_id slot, window-order-exact:
    // asc NULLS FIRST, strings in UTF8String BINARY order (Java
    // String.compareTo diverges above the BMP — UTF-16 code-unit
    // order ranks surrogates below U+E000..U+FFFF; the window sorts
    // UTF8String bytes)
    val idCmp: Option[(Any, Any) => Int] = {
      import org.apache.spark.sql.types._
      def cmpNum(f: (Any, Any) => Int): Option[(Any, Any) => Int] =
        Some { (a, b) =>
          if (a == null && b == null) 0
          else if (a == null) -1 else if (b == null) 1 else f(a, b)
        }
      scored.schema("doc_id").dataType match {
        case LongType => cmpNum((a, b) => java.lang.Long.compare(
          a.asInstanceOf[Long], b.asInstanceOf[Long]))
        case IntegerType => cmpNum((a, b) => java.lang.Integer.compare(
          a.asInstanceOf[Int], b.asInstanceOf[Int]))
        case ShortType => cmpNum((a, b) => java.lang.Short.compare(
          a.asInstanceOf[Short], b.asInstanceOf[Short]))
        case ByteType => cmpNum((a, b) => java.lang.Byte.compare(
          a.asInstanceOf[Byte], b.asInstanceOf[Byte]))
        case StringType => cmpNum((a, b) =>
          org.apache.spark.unsafe.types.UTF8String
            .fromString(a.asInstanceOf[String]).compareTo(
              org.apache.spark.unsafe.types.UTF8String
                .fromString(b.asInstanceOf[String])))
        case _ => None
      }
    }
    val pruned = idCmp match {
      case Some(cmp) =>
        // max of this ordering = the WORST kept row (evicted first):
        // worse = lower score, then larger doc_id, with NULL doc_id
        // ranking best (asc_nulls_first, the window's default)
        val worstFirst = new Ordering[(Long, Any)] {
          def compare(a: (Long, Any), b: (Long, Any)): Int = {
            val c = java.lang.Long.compare(b._1, a._1)
            if (c != 0) c else cmp(a._2, b._2)
          }
        }
        val schema = scored.schema
        scored.mapPartitions { it =>
          new scala.collection.AbstractIterator[org.apache.spark.sql.Row] {
            private val heaps = scala.collection.mutable.HashMap.empty[
              Long,
              scala.collection.mutable.PriorityQueue[(Long, Any)]]
            private var live = 0L
            private val out =
              scala.collection.mutable.Queue.empty[org.apache.spark.sql.Row]
            private def drain(): Unit = {
              heaps.foreach { case (qid, h) =>
                h.foreach { case (s, did) =>
                  out.enqueue(org.apache.spark.sql.Row(qid, did, s))
                }
              }
              heaps.clear(); live = 0L
            }
            private def pump(): Unit = {
              while (out.isEmpty && it.hasNext) {
                val r = it.next()
                val h = heaps.getOrElseUpdate(r.getLong(0),
                  scala.collection.mutable.PriorityQueue.empty(worstFirst))
                h.enqueue((r.getLong(2), r.get(1)))
                if (h.size > k) h.dequeue() else live += 1
                // budget flush: the map's survivors (≤ |qids|·k boxed
                // tuples) are unspillable heap — emit them all and
                // reset rather than OOM where the old sort degraded
                // gracefully; the final window re-cuts the union
                if (live > heapBudget) drain()
              }
              if (out.isEmpty && !it.hasNext && heaps.nonEmpty) drain()
            }
            def hasNext: Boolean = { pump(); out.nonEmpty }
            def next(): org.apache.spark.sql.Row = {
              pump(); out.dequeue()
            }
          }
        }(org.apache.spark.sql.Encoders.row(schema))
      case None => scored
    }
    pruned.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  /** Conf: byte ceiling for [[bm25Retrieve]]'s driver-built term →
    * query-ids table (estimated driver-resident size; self-clamped to
    * 80% of `spark.driver.maxResultSize`). Past it the call refuses
    * cleanly instead of OOMing the driver mid-collect. */
  val Bm25QueryTableMaxBytesConf = "spark.graft.text.bm25QueryTableMaxBytes"
  private val Bm25QueryTableMaxBytes: Long = 1L << 30

  /** Conf: live-entry ceiling for [[bm25Retrieve]]'s per-partition
    * top-k heap map. Each live entry is one boxed (score, doc_id)
    * tuple the heap pass holds un-spillably; past the budget the pass
    * flushes all current heaps downstream (correct supersets — the
    * final window re-cuts rank<=k) and starts fresh. Default 1M
    * entries ≈ tens of MB per task. */
  val Bm25HeapBudgetConf = "spark.graft.text.bm25HeapBudgetEntries"
  private val Bm25HeapBudgetEntries: Long = 1L << 20

  /** Conf: corpus-df ceiling per query term in [[bm25Retrieve]]
    * (0 = off). A term whose document frequency exceeds it is dropped
    * from scoring entirely — deterministic stopword semantics
    * (bit-identical to deleting the term from the query text; corpus
    * stats n/avgdl and surviving terms' df are unaffected). Bounds the
    * kernel fan-out Σ_t df(t)·|qids(t)| against corpus-dense query
    * terms, mirroring `maxShingleDf` in containment dedup. */
  val Bm25MaxTermDfConf = "spark.graft.text.bm25MaxTermDf"

  /**
   * Per-source template mining: the `k` word n-grams carried by the
   * MOST documents of each source (df = documents containing the gram
   * at least once, ties broken by gram asc). High-df grams are the
   * shared boilerplate a scraped source stamps onto its pages (cookie
   * banners, licence headers, nav text) — this is the table a curator
   * reads to write removal rules, the complement of
   * [[graft.operators.Dedup.repeatedSpans]] (which finds spans
   * repeated ACROSS docs pairwise, not per-source inventory). Returns
   * `(source, gram, df, rank)`. Documents shorter than `n` tokens
   * contribute their full token stream as one gram.
   *
   * Scale shape: grams dedup map-side inside each document (one
   * in-row distinct transform — token instances never shuffle), then
   * the df aggregation keys on `xxhash64(gram)` so its exchange
   * carries 8-byte hashes, never gram STRINGS (distinct grams grow
   * near-linearly with corpus tokens — at 100 TB a string-keyed
   * aggregate is a corpus-scale string shuffle; hashes cut the
   * exchange bytes 3-5× — the repo's hash-first-resolve-winners
   * dedup discipline). The per-source top-k cut runs on the hashed
   * frame keeping df ties at the boundary (rank() ≤ k, so the
   * string-order tie-break resolves EXACTLY), and only the
   * ≤ |sources|·k + ties winning hashes are resolved back to gram
   * strings by one broadcast join against a second map-side gram
   * pass — winner strings ride the one small final exchange.
   * Degenerate bound: a source whose k-th template has df = 1 admits
   * its full singleton vocabulary as boundary ties — not a
   * template-mining shape (boilerplate is high-df by construction),
   * and in that regime the pre-hash exchange already dominates.
   * Hash collisions merge two grams' df with probability ~|grams|²/2⁶⁴
   * (the q133 negligible-collision equivalence rule).
   */
  def templateNgrams(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, n: Int = 3, k: Int = 5): DataFrame = {
    require(n >= 1, s"n must be >= 1 (got $n)")
    require(k > 0, s"k must be positive (got $k)")
    import org.apache.spark.sql.expressions.Window
    // the token array binds to a REAL column under the Generate node:
    // inside a higher-order `transform` lambda every element_at(expr,…)
    // re-evaluates its child, so referencing the words() split directly
    // would re-run the regex split PER GRAM ELEMENT (O(grams x n) full
    // splits per document — measured 2x the whole query's wall once the
    // two-pass shape landed). An attribute reference makes it one split
    // per row; explode's Generate keeps its child projection, so the
    // optimizer cannot collapse the alias back into the lambda.
    def gramsOf(w: Column) = when(size(w) >= n,
      array_distinct(transform(sequence(lit(1), size(w) - (n - 1)),
        i => concat_ws(" ",
          (0 until n).map(j => element_at(w, i + lit(j))): _*))))
      .otherwise(array(array_join(w, " ")))
    // two map-side passes over the same gram construction: pass 1
    // feeds the hash-keyed df aggregate (strings die before the
    // exchange), pass 2 re-derives strings only to resolve the
    // broadcast winner set — recomputing beats persisting a
    // corpus-sized gram frame
    def base = docs.where(col(textCol).isNotNull)
      .select(col(sourceCol).as("source"),
        Dedup.words(col(textCol)).as("__ws"))
      .select(col("source"), explode(gramsOf(col("__ws"))).as("gram"))
    val hashed = base
      .select(col("source"), xxhash64(col("gram")).as("gh"))
      .groupBy("source", "gh")
      .agg(count(lit(1)).as("df"))
    // keep ALL boundary ties (rank(), not row_number()): equal-df grams
    // order by gram ASC, which only the resolved strings can decide
    val wh = Window.partitionBy("source").orderBy(col("df").desc)
    val cand = hashed.withColumn("__r", rank().over(wh))
      .where(col("__r") <= k)
      .select(col("source"), col("gh"), col("df"))
    // resolve winner strings: broadcast the candidate hashes against
    // the re-derived gram stream; each (source, gram) winner appears
    // once per carrying doc, collapsed by the final (tiny) aggregate
    val resolved = base
      .select(col("source"), col("gram"), xxhash64(col("gram")).as("gh"))
      .join(broadcast(cand), Seq("source", "gh"))
      .groupBy("source", "gram")
      .agg(max("df").as("df"))
    val w = Window.partitionBy("source")
      .orderBy(col("df").desc, col("gram").asc)
    resolved.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  /** Token count under a trained BPE merge list — the real ranked
    * greedy merge loop per whitespace word (see
    * [[graft.functions.BpeTokenCount]]); pure map-side, merge table
    * shipped once per task. The corpus-budgeting primitive: "how many
    * tokens is this corpus under MY tokenizer", not a whitespace
    * proxy. */
  def bpeTokenCount(text: Column, merges: Seq[(String, String)]): Column =
    org.apache.spark.sql.GraftSqlShim.column(
      graft.functions.BpeTokenCount(
        org.apache.spark.sql.GraftSqlShim.lazyExpression(text), merges))

  /** Training-data PII scrub: replace emails, dotted-quad IPs, and 8+
    * digit runs (account/card-shaped numbers) with typed placeholder
    * tokens, in that order — emails first so an address is consumed
    * whole rather than leaving `<NUM>`-scrubbed fragments. Built on
    * `regexp_replace` (codegen'd, global): pure map-side column work,
    * zero shuffles at any scale. Placeholder TOKENS (not deletion) keep
    * downstream tokenization/count stats meaningful. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      LongNumRe, "<NUM>")

  /** Full-document content fingerprint (xxhash64 of the text): the
    * scalable exact-dedup key — at 100 TB you join/group on this 8-byte
    * hash instead of shuffling document text. Distinct texts collide with
    * probability ~n²/2⁶⁴ (negligible); identical texts always agree.
    * NULL text → NULL (bare xxhash64 maps every NULL to the constant
    * seed, which would group ALL null-text docs as mutual "duplicates" —
    * the exact blowup `exactDupPairs` guards against). */
  def contentFingerprint(text: Column): Column =
    when(text.isNull, lit(null).cast("long")).otherwise(xxhash64(text))

  /**
   * Fixed-size token chunking with overlap — the embedding/RAG prep
   * primitive: each document becomes `(doc_id, chunk_id, chunk_text,
   * n_tokens)` rows of `size`-token windows starting every
   * `size - overlap` tokens. The last chunk may be shorter; a tail
   * start whose predecessor already reached the document's end is
   * SKIPPED (its chunk would be a strict subset of the previous one —
   * an embedding pipeline would index duplicate text), so every token
   * is covered exactly and no chunk is contained in another. Chunk
   * text is the normalized (lower-cased, single-spaced) token stream.
   * NULL/empty docs produce no rows.
   *
   * Scale shape: pure map-side — one tokenize + one bounded explode
   * per document, zero shuffles; downstream embedding/indexing decides
   * the partitioning.
   */
  def chunkTokens(docs: DataFrame, idCol: String, textCol: String,
      size: Int = 64, overlap: Int = 16): DataFrame = {
    require(size > 0, s"chunk size must be positive (got $size)")
    require(overlap >= 0 && overlap < size,
      s"overlap must be in [0, size) (got $overlap for size $size)")
    val step = size - overlap
    // tokenize once (filter-then-project would run the split twice)
    docs.where(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        Dedup.words(col(textCol)).as("__toks"))
      .where(size_(col("__toks")) > 0)
      .select(col("doc_id"), col("__toks"),
        posexplode(sequence(lit(0), size_(col("__toks")) - 1, lit(step)))
          .as(Seq("chunk_id", "start")))
      // drop a tail start whose PREVIOUS chunk already reached the end
      // (start - step + size >= len): its chunk is a strict subset
      .where(col("start") === 0 ||
        col("start") - step + size < size_(col("__toks")))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        slice(col("__toks"), col("start") + 1, lit(size)).as("__chunk"))
      .select(col("doc_id"), col("chunk_id"),
        concat_ws(" ", col("__chunk")).as("chunk_text"),
        size_(col("__chunk")).cast("long").as("n_tokens"))
  }

  // functions.size shadowed by the chunk-size parameter name above
  private def size_(c: Column): Column =
    org.apache.spark.sql.functions.size(c)

  /**
   * Per-document mean unigram log-probability under the corpus's own
   * unigram LM — the classic cheap perplexity proxy for quality
   * filtering (CCNet-style: documents whose token distribution is far
   * from the corpus score low; boilerplate and keyword-stuffed spam
   * score anomalously high). `logprob = avg over token INSTANCES of
   * ln(count(term) / total_tokens)`, round 6. Docs with no tokens
   * produce no row.
   *
   * Scale shape: the unigram table is vocabulary-sized (Heaps' law —
   * ~10^6-10^7 distinct terms even at corpus scales of 10^11 docs), so
   * it broadcasts into a map-side hash join against the exploded token
   * stream; token instances never ride a shuffle — the per-doc average
   * partial-aggregates map-side and the exchange carries one partial
   * row per (task, doc). Building the table itself is one
   * vocabulary-keyed shuffle of map-side-combined partials (same shape
   * as [[vocab]]).
   */
  def unigramLogProb(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val toks = docs
      .select(col(idCol).as("doc_id"),
        explode(Dedup.words(col(textCol))).as("term"))
    val unigrams = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
    // total corpus tokens as a 1-row frame joined in with the unigram
    // broadcast (a driver-side collect would serialize the job chain)
    val total = unigrams.agg(sum("cnt").as("total"))
    toks
      .join(broadcast(unigrams), Seq("term"))
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(round(avg(log(col("cnt").cast("double") / col("total"))), 6)
        .as("logprob"))
  }

  /**
   * Adjacent-symbol pair frequencies — the inner statistic of one BPE
   * merge round (tokenizer training prep): for every distinct word,
   * count its adjacent character pairs weighted by the word's corpus
   * frequency, and keep the top-`k` pairs (the would-be merges).
   * Restricted to `[a-z]+` words of length ≥ 2 so "character" means
   * the same thing in every engine's collation/unicode regime.
   * Returns `(pair, cnt, rk)`, rk 1-based by (cnt DESC, pair ASC).
   *
   * Scale shape: the corpus collapses to |vocab| rows in the first
   * map-side-combined aggregate, pairs explode from the VOCAB (not the
   * corpus — a word repeated 10^9 times costs one row), and the final
   * top-k window runs over ≤ 26² candidate pairs on a single task — a
   * bounded domain, not a data-sized sort.
   */
  def bpePairCounts(docs: DataFrame, textCol: String,
      k: Int = 20): DataFrame = {
    require(k > 0, s"k must be positive (got $k)")
    import org.apache.spark.sql.expressions.Window
    val vocab = docs
      .select(explode(Dedup.words(col(textCol))).as("w"))
      .where(col("w").rlike("^[a-z]+$") && length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("wc"))
    vocab
      .select(col("wc"), explode(transform(
          sequence(lit(1), length(col("w")) - 1),
          i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy("pair").agg(sum("wc").as("cnt"))
      .withColumn("rk",
        row_number().over(Window.orderBy(col("cnt").desc, col("pair")))
          .cast("long"))
      .where(col("rk") <= k)
  }

  /**
   * DSIR-style importance weights for target-domain data selection
   * (Xie et al. 2023, "Data Selection for Language Models via Importance
   * Resampling"): score every document by the mean per-token
   * log-likelihood ratio of a target-domain unigram LM over the
   * full-corpus background LM, both add-one smoothed over the shared
   * corpus vocabulary. Documents whose vocabulary looks like the target
   * slice score high; generic/dissimilar documents score negative.
   * `isTarget` is any boolean Column over `docs`' columns marking the
   * target slice (e.g. `col("source") === "wiki"`).
   *
   * Returns `(doc_id, importance)` with importance rounded to 6 places.
   *
   * Scale shape: the corpus collapses to |vocab| rows in one
   * map-side-combined aggregate; the score join is term-keyed (toks ⋈
   * cnts on `term` — AQE broadcasts the vocab side when it is small,
   * plain shuffle-hash otherwise); the 1-row totals frame is broadcast.
   * No driver collect, no crossJoin beyond the 1-row totals.
   */
  def importanceWeights(docs: DataFrame, idCol: String, textCol: String,
      isTarget: Column): DataFrame = {
    val toks = docs
      .select(col(idCol).as("doc_id"), isTarget.cast("boolean").as("is_t"),
        explode(Dedup.words(col(textCol))).as("term"))
    val cnts = toks.groupBy("term").agg(
      count(lit(1)).as("c_all"),
      sum(when(col("is_t"), lit(1L)).otherwise(lit(0L))).as("c_t"))
    val tot = cnts.agg(
      sum("c_all").cast("double").as("t_all"),
      sum("c_t").cast("double").as("t_t"),
      count(lit(1)).cast("double").as("v"))
    toks
      .join(cnts, Seq("term"))
      .crossJoin(broadcast(tot))
      .groupBy("doc_id")
      .agg(round(avg(
        log((col("c_t") + 1).cast("double") / (col("t_t") + col("v"))) -
          log((col("c_all") + 1).cast("double") / (col("t_all") + col("v")))), 6)
        .as("importance"))
  }

  /** Top-`k` documents by [[importanceWeights]] (importance DESC, then
    * doc_id for a total order), with a 1-based `rk` rank column. The
    * global top-k runs as sort + `limit` (Spark plans
    * `TakeOrderedAndProject`: per-partition heaps, k rows to the
    * driver-side merge — never a single-task full sort), and the rank
    * window then runs over only the k survivors. */
  def importanceTopK(docs: DataFrame, idCol: String, textCol: String,
      isTarget: Column, k: Int): DataFrame = {
    require(k > 0, s"k must be positive (got $k)")
    import org.apache.spark.sql.expressions.Window
    importanceWeights(docs, idCol, textCol, isTarget)
      .orderBy(col("importance").desc, col("doc_id"))
      .limit(k)
      .withColumn("rk", row_number()
        .over(Window.orderBy(col("importance").desc, col("doc_id")))
        .cast("long"))
  }

  /**
   * Interpolated-bigram language-model score — the CCNet-style
   * perplexity filter: for every document with >= 2 tokens, the mean
   * over token positions i >= 2 of
   * `ln(lambda * p(w_i | w_{i-1}) + (1 - lambda) * p(w_i))`, with both
   * models estimated from the corpus itself. The conditional term
   * divides the bigram count by w1's CORPUS-WIDE unigram count — which
   * includes document-final occurrences of w1 that start no bigram — so
   * p(.|w1) is an MLE approximation that sums to slightly under 1
   * rather than the exact conditional MLE; internally consistent, and
   * the interpolation with the always-nonzero unigram term keeps the
   * log finite for any bigram that occurs at least once, which every
   * scored bigram does, being its own evidence.
   * Degenerate/boilerplate text (high-frequency
   * bigrams) scores high; incoherent token soup scores low — threshold
   * both tails.
   *
   * Returns `(doc_id, logprob)` rounded to 6 places; documents with
   * fewer than 2 tokens have no bigram positions and are absent.
   *
   * Scale shape: bigram pairs are built map-side from the words array
   * (no self-join, no window); unigram and bigram count tables are
   * vocabulary-bounded, produced by map-side-combined aggregates; the
   * three score joins are all term-keyed shuffles (AQE broadcasts small
   * count tables); the totals frame is 1 row, broadcast.
   */
  def bigramLogProb(docs: DataFrame, idCol: String, textCol: String,
      lambda: Double = 0.5): DataFrame = {
    require(lambda >= 0 && lambda <= 1, s"lambda must be in [0,1] (got $lambda)")
    // Tokenize ONCE per row behind a projection boundary (the bm25
    // rule): `ws` is referenced 4× in the bigram projection, so inlined
    // it would re-run the regex split at every element_at of every
    // position — O(positions) tokenizations per document (measured
    // ~5× the query's whole runtime at sf0.1).
    val w = docs.select(col(idCol).as("doc_id"),
      Dedup.words(col(textCol)).as("ws"))
    val ws = col("ws")
    val toks = w
      .select(col("doc_id"), explode(ws).as("term"))
    val bi = w
      .select(col("doc_id"),
        explode(when(size(ws) >= 2,
          transform(sequence(lit(1), size(ws) - 1),
            i => struct(element_at(ws, i).as("w1"),
              element_at(ws, i + 1).as("w2"))))
          .otherwise(array().cast("array<struct<w1:string,w2:string>>")))
          .as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val uni = toks.groupBy("term").agg(count(lit(1)).as("uc"))
    val tot = uni.agg(sum("uc").cast("double").as("t"))
    val bc = bi.groupBy("w1", "w2").agg(count(lit(1)).as("bc"))
    val u1 = uni.select(col("term").as("w1"), col("uc").as("u1c"))
    val u2 = uni.select(col("term").as("w2"), col("uc").as("u2c"))
    bi
      .join(bc, Seq("w1", "w2"))
      .join(u1, Seq("w1"))
      .join(u2, Seq("w2"))
      .crossJoin(broadcast(tot))
      .groupBy("doc_id")
      .agg(round(avg(log(
        lit(lambda) * (col("bc").cast("double") / col("u1c")) +
          lit(1.0 - lambda) * (col("u2c").cast("double") / col("t")))), 6)
        .as("logprob"))
  }

  /**
   * Corpus drift monitor: Population Stability Index between two
   * corpus snapshots over hashed term buckets — the recurring-crawl
   * regression check (did this month's ingest shift the token
   * distribution?). Each side's tokens land in `buckets` cells via a
   * PORTABLE bucket function (`(ascii(first_char) * 31 + length) %
   * buckets` — deliberately expressible in any SQL engine, so an
   * external checker can replay cell assignment exactly; a private
   * 64-bit hash here would make the report unverifiable outside the
   * JVM). Returns one row per bucket with both counts and the
   * add-one-smoothed PSI term `(p_a - p_b) * ln(p_a / p_b)`; sum the
   * column for the headline PSI (>= 0, 0 iff identical distributions;
   * the industry rule of thumb flags > 0.25).
   *
   * Scale shape: two map-side-combined aggregates collapse each corpus
   * to <= `buckets` rows before a tiny full-outer join; totals ride a
   * 1-row broadcast. Token instances never shuffle.
   */
  def termDriftPsi(a: DataFrame, b: DataFrame, textCol: String,
      buckets: Int = 32): DataFrame = {
    require(buckets > 0, s"buckets must be positive (got $buckets)")
    def bucketed(df: DataFrame, n: String): DataFrame =
      df.select(explode(Dedup.words(col(textCol))).as("term"))
        .select(((ascii(substring(col("term"), 1, 1)) * 31 +
          length(col("term"))) % buckets).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as(n))
    psiFromCounts(bucketed(a, "n_a"), bucketed(b, "n_b"), buckets)
  }

  /**
   * Numeric-score drift: PSI between two snapshots of any bounded
   * score column (quality, importance, logprob) over `bins`
   * fixed-width bins on `[lo, hi)` (values outside clamp to the edge
   * bins) — the quality-distribution regression check between crawls.
   * Same smoothing/report shape as [[termDriftPsi]]; same two
   * map-side-combined aggregates + tiny join scale shape.
   */
  def scoreDriftPsi(a: DataFrame, b: DataFrame, scoreCol: String,
      bins: Int = 10, lo: Double = 0.0, hi: Double = 1.0): DataFrame = {
    require(bins > 0, s"bins must be positive (got $bins)")
    require(hi > lo, s"need hi > lo (got [$lo, $hi))")
    val width = (hi - lo) / bins
    def bucketed(df: DataFrame, n: String): DataFrame =
      df.where(col(scoreCol).isNotNull)
        .select(least(greatest(floor((col(scoreCol) - lo) / width),
          lit(0.0)), lit((bins - 1).toDouble)).cast("long").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as(n))
    psiFromCounts(bucketed(a, "n_a"), bucketed(b, "n_b"), bins)
  }

  /** Shared PSI tail, public for pre-bucketed inputs (e.g. a LIVE
    * stream's complete-mode counts vs a static reference — the
    * streaming drift monitor of q132): full-outer the two
    * `(bucket, n_a)` / `(bucket, n_b)` frames, add-one smooth over the
    * `domain`-cell space, emit per-bucket
    * `(p_a - p_b) * ln(p_a / p_b)` rounded to 6. */
  def psiReport(ca: DataFrame, cb: DataFrame,
      domain: Int): DataFrame = {
    require(domain > 0, s"domain must be positive (got $domain)")
    psiFromCounts(ca, cb, domain)
  }

  private def psiFromCounts(ca: DataFrame, cb: DataFrame,
      domain: Int): DataFrame = {
    val joined = ca.join(cb, Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
    val tot = joined.agg(sum("n_a").cast("double").as("t_a"),
      sum("n_b").cast("double").as("t_b"))
    val pa = (col("n_a") + 1).cast("double") / (col("t_a") + domain)
    val pb = (col("n_b") + 1).cast("double") / (col("t_b") + domain)
    joined.crossJoin(broadcast(tot))
      .select(col("bucket"), col("n_a"), col("n_b"),
        round((pa - pb) * log(pa / pb), 6).as("psi"))
  }

  /**
   * Per-document shingle NOVELTY — the data-mixture diversity signal:
   * the fraction of a document's distinct `shingleSize`-gram shingles
   * that appear in NO other document (corpus document frequency 1).
   * Boilerplate-heavy pages score near 0, genuinely novel content near
   * 1 — the upweighting knob for diversity-aware sampling, and the
   * inverse signal of the duplication family.
   *
   * Scale shape: one compiled shingle pass (checkpointed — the frame
   * feeds the df aggregate AND the per-doc sizes, the materialization
   * rule of the containment path), then 16-byte (hash, doc) rows
   * through a term-keyed aggregate. A shingle with df = 1 belongs to
   * exactly ONE document, so `min(doc_id)` per singleton hash IS its
   * owner — the per-doc unique counts come from a second aggregate on
   * that, with no join back to the exploded rows. Text never shuffles.
   */
  def shingleNovelty(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3): DataFrame = {
    val sh = docs.where(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        Dedup.shingleHashes(col(textCol), shingleSize).as("sh"))
      .localCheckpoint()
    val singletons = sh
      .select(col("doc_id"), explode(col("sh")).as("h"))
      .groupBy("h")
      .agg(count(lit(1)).as("df"), min("doc_id").as("only_doc"))
      .where(col("df") === 1)
      .groupBy(col("only_doc").as("doc_id"))
      .agg(count(lit(1)).as("n_unique"))
    sh.select(col("doc_id"), size(col("sh")).as("n_sh"))
      .join(singletons, Seq("doc_id"), "left")
      .select(col("doc_id"),
        round(coalesce(col("n_unique"), lit(0L)).cast("double") /
          col("n_sh").cast("double"), 6).as("novelty"))
  }

  /**
   * Vocabulary coverage curve — tokenizer budget planning: for each
   * requested coverage threshold, the smallest head-of-vocabulary size
   * (terms ranked by corpus frequency, ties broken by term) whose
   * cumulative token mass reaches that fraction of all tokens. The
   * "how big must my vocab be for 95% coverage" number, computed
   * exactly.
   *
   * Scale shape: the corpus collapses to the VOCABULARY (map-side
   * partial aggregation before the one term-keyed shuffle) before any
   * expensive step; the ranking window then runs over vocab-bounded
   * rows (the single-partition global sort is over ~10⁵–10⁷ terms at
   * ANY corpus size — a deliberate, documented bound, like the exact
   * percentile walk). Thresholds explode per vocab row (|thresholds| ×
   * vocab, still vocab-bounded); the total rides the same rows.
   */
  def vocabCoverage(docs: DataFrame, idCol: String, textCol: String,
      thresholds: Seq[Double] = Seq(0.5, 0.9, 0.95, 0.99)): DataFrame = {
    require(thresholds.nonEmpty, "vocabCoverage needs thresholds")
    require(thresholds.forall(t => t > 0 && t <= 1),
      s"thresholds must be in (0,1] (got $thresholds)")
    import org.apache.spark.sql.expressions.Window
    val counts = docs
      .select(explode(Dedup.words(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("tf"))
    val w = Window.orderBy(col("tf").desc, col("term").asc)
    val ranked = counts
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("cum", sum("tf").over(w))
    val total = counts.agg(sum("tf").as("total"))
    ranked.crossJoin(broadcast(total))
      .select(col("rk"), col("cum"), col("total"),
        explode(array(thresholds.map(lit): _*)).as("threshold"))
      .where(col("cum") >= col("total") * col("threshold"))
      .groupBy("threshold")
      .agg(min("rk").as("vocab_size"))
  }

  /**
   * Pointwise mutual information of adjacent token pairs — the
   * phrase-mining / collocation primitive (tokenizer merge candidates,
   * multi-word-expression detection; Church & Hanks 1990). For each
   * bigram seen at least `minCount` times:
   * `pmi = ln( p(w1,w2) / (p(w1)·p(w2)) )` with `p(w1,w2) = bc/N_bi`
   * and `p(w) = uc/N_uni`, computed as the single expression
   * `ln(bc·N_uni·N_uni / (N_bi·u1c·u2c))` (round 6) so an external
   * engine replays the identical double arithmetic. High-PMI pairs are
   * phrases ("san francisco"); frequent-but-independent pairs sit near
   * 0; the score feeds BPE-style merge ranking where raw pair counts
   * ([[bpePairStats]]) over-weight stopword collisions.
   *
   * Scale shape: bigram pairs are built map-side from the words array
   * (the [[bigramLogProb]] projection-boundary rule — no self-join, no
   * window); both count tables are vocabulary-bounded map-side-combined
   * aggregates; the two unigram joins key on observed bigrams (AQE
   * broadcasts the smaller side); totals ride a 1-row broadcast. Token
   * instances never shuffle.
   */
  def pmiBigrams(docs: DataFrame, textCol: String,
      minCount: Long = 5L): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1 (got $minCount)")
    val w = docs.select(Dedup.words(col(textCol)).as("ws"))
    val ws = col("ws")
    val toks = w.select(explode(ws).as("term"))
    val bi = w
      .select(explode(when(size(ws) >= 2,
        transform(sequence(lit(1), size(ws) - 1),
          i => struct(element_at(ws, i).as("w1"),
            element_at(ws, i + 1).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>")))
        .as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val uni = toks.groupBy("term").agg(count(lit(1)).as("uc"))
    val bc = bi.groupBy("w1", "w2").agg(count(lit(1)).as("bc"))
      .where(col("bc") >= minCount)
    val tot = uni.agg(sum("uc").cast("double").as("nuni"))
      .crossJoin(broadcast(
        bi.groupBy().agg(count(lit(1)).cast("double").as("nbi"))))
    bc
      .join(uni.select(col("term").as("w1"), col("uc").as("u1c")), Seq("w1"))
      .join(uni.select(col("term").as("w2"), col("uc").as("u2c")), Seq("w2"))
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("bc"),
        round(log(col("bc").cast("double") * col("nuni") * col("nuni") /
          (col("nbi") * col("u1c").cast("double") *
            col("u2c").cast("double"))), 6).as("pmi"))
  }

  /**
   * Zipf-law fit over the head of the corpus vocabulary — the
   * one-glance corpus-naturalness check (natural prose fits
   * `ln tf ≈ a + s·ln rank` with slope s near -1; machine-generated or
   * template-heavy corpora bend the curve). Least-squares over the
   * `topN` most frequent terms (ranked by `tf` desc, ties by term):
   * one row `(n_terms, slope, intercept)` with the closed-form
   * `s = (n·Σxy - Σx·Σy) / (n·Σxx - Σx·Σx)`, both rounded to 6.
   *
   * Scale shape: the corpus collapses to the vocabulary map-side (the
   * [[vocabCoverage]] bound), the ranking window runs over
   * vocab-bounded rows (deliberate single-partition global sort, same
   * documented bound as q135), and the head's regression sums are one
   * tiny aggregate. Round-6 is safe against partial-aggregation
   * summation order: the sums are O(10³) terms of O(10)-magnitude
   * doubles, so reorder error is ~1e-12 relative against a 1e-6
   * rounding grid.
   */
  def zipfFit(docs: DataFrame, textCol: String,
      topN: Int = 1000): DataFrame = {
    require(topN >= 2, s"topN must be >= 2 (got $topN)")
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("tf").desc, col("term").asc)
    val head = docs
      .select(explode(Dedup.words(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("tf"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= topN)
      .select(log(col("rk").cast("double")).as("x"),
        log(col("tf").cast("double")).as("y"))
    // a single-distinct-term corpus (n = 1) has zero x-variance; the
    // closed form is 0/0 there — report NULL, not an engine-dependent
    // NaN (the head never has n = 0 rows when the corpus is non-empty,
    // and an empty corpus yields the n_terms = 0 row with NULLs)
    val denom = col("n") * col("sxx") - col("sx") * col("sx")
    val slope = when(denom === 0.0, lit(null).cast("double"))
      .otherwise((col("n") * col("sxy") - col("sx") * col("sy")) / denom)
    head.agg(count(lit(1)).cast("double").as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("n").cast("long").as("n_terms"),
        round(slope, 6).as("slope"),
        round((col("sy") - slope * col("sx")) / col("n"), 6)
          .as("intercept"))
  }

  /**
   * Shared-prefix boilerplate clusters — the template/mirror detector
   * that catches what shingle dedup rates as "merely similar": group
   * documents by an md5 fingerprint of their first `k` tokens and
   * report every cluster with 2+ members (`prefix_hash, n_docs,
   * min_doc_id`). Scraped boilerplate (cookie banners, licence
   * headers, generated templates) shares exact prefixes even when
   * bodies diverge, so prefix clusters are the cheap first cut before
   * any pairwise similarity. Documents shorter than `k` tokens
   * cluster by their full token stream (`slice` just truncates).
   *
   * Scale shape: one map-side fingerprint per document (tokenize →
   * slice → md5 — no explode), then a 16-byte-row hash aggregate on
   * the fingerprint key. Text never shuffles; output is bounded by
   * the number of duplicated templates, not the corpus.
   */
  def prefixClusters(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 16): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    docs.where(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        md5(array_join(slice(Dedup.words(col(textCol)), 1, k), " "))
          .as("prefix_hash"))
      .groupBy("prefix_hash")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_doc_id"))
      .where(col("n_docs") > 1)
  }

  /** Convenience: append the full stats column set. */
  def withStats(docs: DataFrame, textCol: String): DataFrame =
    docs
      .withColumn("n_tokens", tokenCount(col(textCol)))
      .withColumn("n_subwords", subwordCount(col(textCol)))
      .withColumn("punct_ratio", punctRatio(col(textCol)))
      .withColumn("digit_ratio", digitRatio(col(textCol)))
      .withColumn("stopword_ratio", stopwordRatio(col(textCol)))
      .withColumn("lang_pred", langId(col(textCol)))
      .withColumn("quality", qualityScore(col(textCol)))
      .withColumn("fingerprint", fingerprint(col(textCol)))
}
