package graft.ops

import graft.functions.Udfs
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines (builder
  * brief: language-ID, quality scoring, token counting, fingerprinting) —
  * all as codegen-friendly Column expressions except the rolling-hash
  * fingerprint (a pure-kernel UDF, graft.core.Hashes.fingerprint).
  *
  * The Column-expression forms are shared textually with the DuckDB oracle
  * (the gates' oracle SQL in SparkEntry), so outputs are bit-exact across engines. */
object TextOps {

  /** Whitespace token count: split on single spaces, drop empties — matches
    * LENGTH-arithmetic in ANSI SQL. */
  def tokenCount(text: Column): Column =
    size(filter(split(text, " "), t => length(t) > 0))

  /** The whitespace-CLASS word tokenizer shared by every gram/word-level
    * operator (repetition, n-grams, LM, TF-IDF, curation): split on
    * [ \\n\\t], drop empties. ONE definition — the DuckDB mirror is
    * `regexp_split_to_array(text, '[ \\n\\t]')` + LIST_FILTER — so the
    * bit-parity contract cannot drift between copies. */
  def wsWords(text: Column): Column =
    filter(split(text, "[ \\n\\t]"), w => length(w) > 0)

  /** Occurrences of a literal substring via length arithmetic (exact in both
    * engines: no regex). */
  def occurrences(text: Column, needle: String): Column =
    (length(text) - length(replace(text, lit(needle)))) / lit(needle.length)

  private def occArith(text: Column, needle: String): Column = occurrences(text, needle)

  /** n-gram-heuristic language ID: per-language stopword hit counts (the
    * classic profile method reduced to exact arithmetic). Returns the score
    * columns; argmax is a trivial greatest() on top. */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " and ", " of "),
    "de" -> Seq(" der ", " und ", " die "),
    "fr" -> Seq(" le ", " et ", " les "),
    "es" -> Seq(" el ", " y ", " los "),
    "zh" -> Seq("的", "是", "了"))

  def langScores(df: DataFrame, textCol: String): DataFrame =
    langProfiles.foldLeft(df) { case (d, (lang, words)) =>
      d.withColumn(s"score_$lang",
        words.map(w => occArith(col(textCol), w)).reduce(_ + _).cast("long"))
    }

  /** Quality signals: length, whitespace ratio, mean word length — exact
    * ratios of integer counts. */
  def qualityScores(df: DataFrame, textCol: String, nCharsCol: String): DataFrame = {
    val spaces = length(col(textCol)) - length(replace(col(textCol), lit(" ")))
    df.withColumn("n_tokens", tokenCount(col(textCol)).cast("long"))
      .withColumn("space_ratio", spaces.cast("double") / col(nCharsCol).cast("double"))
      .withColumn("mean_token_len",
        (col(nCharsCol) - spaces).cast("double") / greatest(lit(1L), col("n_tokens")).cast("double"))
  }

  /** "BPE-ish" regex token count (builder brief): alpha runs, digit runs,
    * and single non-alphanumeric marks — the classic pre-tokenizer split —
    * as a codegen regexp expression (no UDF). The pattern avoids dialect-
    * sensitive escapes so Java and DuckDB RE2 count identically. */
  val BpeishPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeishPattern), lit(0)))

  /** BM25 (Okapi; Lucene's +1-inside-log idf) relevance of every document
    * against a FIXED query term set, top-k by score — the keyword-retrieval
    * primitive a corpus pipeline uses for targeted slicing ("pull the 10k
    * docs most about X") and for decontamination-style probe queries.
    *
    *   idf(t)     = ln(1 + (N - df_t + 0.5) / (df_t + 0.5))
    *   s(d, t)    = idf(t) * (tf * (k1+1)) / (tf + k1 * (1 - b + b*dl/avgdl))
    *   score(d)   = Σ_t s(d, t)   (terms summed in SORTED order, absent = 0)
    *
    * Scale shape: ONE pass over the raw text (split + explode), with the
    * term filter applied before any shuffle — only (id, term) hits for the
    * |terms| query terms ride the groupBy; df and the 1-row global (N, Σdl)
    * stats are tiny broadcast sides; the final top-k is TakeOrderedAndProject
    * (bounded heap, no global sort). The rank window runs AFTER the limit,
    * over topK rows only.
    *
    * Float policy: tf/df/dl/N/Σdl are exact integers; the score expression
    * is evaluated in ONE documented op order on both engines, and the
    * ln kernel is shared with the golden (Spark's `log` = StrictMath.log).
    * Docs containing NO query term score 0 and are excluded. */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               terms: Seq[String], topK: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && terms.distinct == terms, "terms must be non-empty and distinct")
    require(topK > 0, "topK must be positive")
    val ts = terms.sorted
    val toks = docs.select(col(idCol).as("id"),
        filter(split(lower(col(textCol)), " "), t => length(t) > 0).as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
    // 1-row keyless-aggregate stats attach (PlanSpec's allowlisted
    // stats-attach class — see Tiling.giStar): lazy single-pass, vs a
    // driver-side literal inline that would scan the corpus twice
    val g = toks.agg(count(lit(1)).as("nn"), sum("dl").as("sumdl"))
    val tf = toks
      .select(col("id"), col("dl"), explode(col("toks")).as("term"))
      .where(col("term").isin(ts: _*))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"), first("dl").as("dl"))
    val dft = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(dft), "term").crossJoin(broadcast(g))
      .withColumn("idf", log(lit(1.0) +
        (col("nn").cast("double") - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5))))
      .withColumn("s", col("idf") * (col("tf").cast("double") * lit(k1 + 1.0)) /
        (col("tf").cast("double") + lit(k1) * (lit(1.0) - lit(b) +
          lit(b) * col("dl").cast("double") /
            (col("sumdl").cast("double") / col("nn").cast("double")))))
    val pivoted = scored.groupBy("id").pivot("term", ts).agg(first("s"))
    val total = ts.map(t => coalesce(col(s"`$t`"), lit(0.0))).reduce(_ + _)
    import org.apache.spark.sql.expressions.Window
    pivoted.select(col("id").as(idCol), total.as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(topK)
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("score").desc, col(idCol))).cast("int"))
  }

  /** Karp-Rabin rolling-hash document fingerprint (core kernel). */
  def fingerprints(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("fingerprint", Udfs.fingerprint(col(textCol)))

  /** Winnowed (MOSS) document fingerprints — Schleimer, Wilkerson & Aiken
    * 2003: char k-gram hashes, window-w rightmost-min selection
    * ([[graft.core.Hashes.winnow]]). One output row per SELECTED
    * fingerprint: the input columns plus (pos, fp), where pos is the
    * k-gram's character offset. Any substring match of length >= w + k - 1
    * between two documents is guaranteed to share a selected fp — the
    * local-fingerprinting contract that makes the selected set a sound
    * near-dup candidate key (vs MinHash, which is probabilistic).
    * Map-side only (UDF + explode, no shuffle); document density is
    * ~2/(w+1) selected prints per char, so the explode fan-out is bounded
    * and tunable by w. */
  def winnowFingerprints(df: DataFrame, textCol: String,
                         k: Int, w: Int): DataFrame = {
    require(k >= 1 && w >= 1, s"winnowFingerprints: k, w must be >= 1, got k=$k w=$w")
    df.withColumn("_sel", explode(Udfs.winnowFps(k, w)(col(textCol))))
      .withColumn("fp", col("_sel._1"))
      .withColumn("pos", col("_sel._2"))
      .drop("_sel")
  }

  /** PII / URL masking (the Dolma & C4-style scrub step every public
    * training-data pipeline runs before tokenization): replace e-mail
    * addresses and http(s) URLs with fixed mask tokens and count the hits.
    * Pure codegen regexp expressions — map-side, no shuffle, no UDF.
    *
    * The patterns deliberately use ONLY the regex subset where Java's
    * engine (Spark) and RE2 (DuckDB) agree — character classes and greedy
    * quantifiers, no word boundaries, no lookaround, no backrefs — the same
    * dialect-safety rule as [[BpeishPattern]], so the oracle recomputation
    * is bit-exact. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+"
  // \n/\t stay REGEX escapes (not Scala ones) so the exact same pattern
  // text can be pasted into the SQL oracle string
  val UrlPattern = "https?://[^ \\n\\t]+"

  def redactPii(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("n_emails",
        size(regexp_extract_all(col(textCol), lit(EmailPattern), lit(0))).cast("long"))
      .withColumn("n_urls",
        size(regexp_extract_all(
          regexp_replace(col(textCol), EmailPattern, "<EMAIL>"),
          lit(UrlPattern), lit(0))).cast("long"))
      .withColumn("text_redacted",
        regexp_replace(
          regexp_replace(col(textCol), EmailPattern, "<EMAIL>"),
          UrlPattern, "<URL>"))

  /** Gopher-style repetition / format signals (Rae et al. 2021, §A1.1 —
    * public filtering heuristics; also RefinedWeb's line-wise rules):
    * duplicate-line fraction, duplicate-word fraction (1 − type/token
    * ratio), bullet-start and ellipsis-end line fractions. All exact
    * integer-count ratios as pure codegen Column expressions — map-side
    * only, no shuffle, no UDF: the 100 TB shape for per-document quality
    * scoring (one scan, whole-stage codegen keeps every signal in the same
    * pass). Empty docs score 0 on every fraction (greatest(1, n) guards). */
  /** Word n-grams as a codegen-friendly array expression: whitespace-class
    * split (same token stream as `repetitionScores`' word split and the
    * DuckDB oracle's `regexp_split_to_array(text, '[ \n\t]')`), empties
    * dropped, each run of n consecutive words joined with single spaces.
    * Documents with fewer than n words carry no n-gram -> empty array (the
    * `when` guard matters: an unguarded `sequence(1, size-n+1)` DESCENDS
    * when size < n and would fabricate grams). */
  def wordNgrams(text: Column, n: Int): Column = {
    require(n >= 1, s"wordNgrams: n must be >= 1, got $n")
    val words = wsWords(text)
    when(size(words) >= n,
      transform(sequence(lit(1), size(words) - lit(n - 1)),
        i => array_join(slice(words, i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))
  }

  def repetitionScores(df: DataFrame, textCol: String): DataFrame = {
    val lines = filter(split(col(textCol), "\n"), l => length(l) > 0)
    // words split on the WHITESPACE CLASS, deliberately unlike tokenCount's
    // single-space split (which exists for LENGTH-arithmetic parity): this
    // operator splits lines in the same pass, and a space-only split would
    // fuse each line's last word with the next line's first word —
    // systematically deflating the duplicate-word signal on multi-line docs
    // (review r03h). Empties from runs are filtered like everywhere else.
    val words = wsWords(col(textCol))
    val nLines = size(lines).cast("long")
    val nWords = size(words).cast("long")
    val dl = greatest(lit(1L), nLines).cast("double")
    val dw = greatest(lit(1L), nWords).cast("double")
    df.withColumn("n_lines", nLines)
      .withColumn("dup_line_frac",
        (nLines - size(array_distinct(lines)).cast("long")).cast("double") / dl)
      .withColumn("dup_word_frac",
        (nWords - size(array_distinct(words)).cast("long")).cast("double") / dw)
      .withColumn("bullet_line_frac",
        size(filter(lines, l =>
          startswith(l, lit("- ")) || startswith(l, lit("* "))))
          .cast("double") / dl)
      .withColumn("ellipsis_line_frac",
        size(filter(lines, l => endswith(l, lit("..."))))
          .cast("double") / dl)
  }

  /** CCNet-style cross-document boilerplate removal (Wenzek et al. 2020 §4.1
    * — public pipeline; also RefinedWeb's line-level dedup): a LINE that
    * occurs verbatim in at least `minDocs` DISTINCT documents is boilerplate
    * (nav bars, cookie banners, footers) and is struck from every document.
    *
    * 100 TB shape: the corpus explodes once into (doc, pos, line); the
    * heavy-hitter table is a line-keyed count-distinct aggregation and the
    * strike is a LEFT ANTI equi-join on the same line key — both shuffles
    * hash on `line`, so the second reuses the first's exchange; no window,
    * no driver collect, and the per-document reassembly groups on the
    * high-cardinality doc key (no funnel). Per-doc state is one line array
    * (bounded by document size, the same contract as every per-doc op here).
    *
    * Empty lines are dropped on explode (they carry no boilerplate signal
    * and `split` fabricates them around every delimiter run); documents
    * whose every line is struck still appear, with `text_kept = ''`.
    *
    * Output: idCol, n_lines (non-empty lines in the doc), n_kept,
    * text_kept (surviving lines joined with '\n', original order). */
  def boilerplateRemove(df: DataFrame, idCol: String, textCol: String,
                        minDocs: Int): DataFrame = {
    require(minDocs >= 2, s"boilerplateRemove: minDocs must be >= 2, got $minDocs")
    val lines = df
      .select(col(idCol), posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .where(length(col("line")) > 0)
    val boiler = lines.groupBy("line")
      .agg(countDistinct(col(idCol)).as("nd"))
      .where(col("nd") >= minDocs)
      .select("line")
    val kept = lines.join(boiler, Seq("line"), "left_anti")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            s => s.getField("line")),
          "\n").as("text_kept"))
    df.select(col(idCol),
        size(filter(split(col(textCol), "\n"), l => length(l) > 0))
          .cast("long").as("n_lines"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_kept"), lit("")).as("text_kept"))
  }

  /** Bigram stupid-backoff LM quality scoring (CCNet's LM-perplexity filter
    * reduced to a corpus-trainable n-gram model; stupid backoff per Brants
    * et al. 2007 — public algorithms). The model is TRAINED on the `train`
    * slice and scores every document in `df` (the held-out framing a real
    * pipeline uses: score new crawl against a trusted reference corpus).
    *
    * Per bigram position (w1, w2):
    *   - seen bigram:   p = c(w1,w2) / c(w1)
    *   - backoff:       p = 0.4 * coalesce(c(w2), 0.5) / T
    * where counts come from the train slice and T is its total token count.
    * Score = mean log p in fixed point: each position's log p is quantized
    * to floor(log(p) * 1e6) BEFORE summing, so the per-doc sum is an
    * integer — order-independent across partitionings, executor counts and
    * the golden's sequential loop (the Elevation fixed-point discipline).
    *
    * 100 TB shape: model = two groupBy counts over the train slice; scoring
    * = equi-joins on (w1,w2) and w2 (AQE broadcasts them when the vocab is
    * small; shuffle-hash otherwise) + one keyless 1-row total attached by
    * cross join (the stats-attach plan class); final agg groups on the doc
    * key. No windows, no driver state.
    *
    * Output: idCol, n_bigrams, n_backoff, lp_fp_sum (micro-nats, LONG),
    * avg_logp (= lp_fp_sum/1e6/n_bigrams; null when n_bigrams = 0).
    * The one-shot form is [[ngramLmScores]]; training/scoring split across
    * [[ngramLmModel]] / [[scoreWithNgramModel]] with [[mergeNgramModels]]
    * as the incremental-maintenance path.
    *
    * A trained bigram LM as three count frames: unigrams (w, c), bigrams
    * (g, c12), and the 1-row token total (t_cnt). Counts are a commutative
    * MONOID, so per-ingest-batch models merge by keyed sum
    * ([[mergeNgramModels]]) without re-reading earlier batches — the same
    * incremental-maintenance shape as the tile pyramid and the cell store
    * stats. */
  final case class NgramModel(uni: DataFrame, bi: DataFrame)

  /** Train the bigram model on a corpus slice (two groupBy counts — the
    * only scans of the slice; the token total is sum(uni.c) by
    * construction, so it needs no third scan). */
  def ngramLmModel(train: DataFrame, textCol: String): NgramModel = {
    NgramModel(
      train.select(explode(wsWords(col(textCol))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c")),
      train.select(explode(wordNgrams(col(textCol), 2)).as("g"))
        .groupBy("g").agg(count(lit(1)).as("c12")))
  }

  /** Merge per-batch models by keyed sum — the day-2 maintenance path for
    * continuous ingest: new batch -> tiny batch model -> MERGE; earlier
    * batches are never re-read. Exact: counting is a commutative monoid,
    * so any batch split merges to the whole-corpus model bit-for-bit. */
  def mergeNgramModels(models: Seq[NgramModel]): NgramModel = {
    require(models.nonEmpty, "mergeNgramModels: empty model list")
    NgramModel(
      models.map(_.uni).reduce(_ unionByName _)
        .groupBy("w").agg(sum("c").as("c")),
      models.map(_.bi).reduce(_ unionByName _)
        .groupBy("g").agg(sum("c12").as("c12")))
  }

  /** Score every document in `df` against a trained model (see
    * [[ngramLmScores]] for the formula and determinism contract).
    *
    * The model frames are MATERIALIZED (persisted snapshots, the Tracker /
    * EngineCaches contract) before scoring: the lazy frames reference the
    * train corpus, and the three scoring joins + the total attach would
    * otherwise re-scan and re-aggregate it four times per execution — the
    * difference between "train once, score many" and 4 corpus scans at
    * 100 TB. Snapshots are vocabulary-sized, register as cache survivors,
    * and recompute through lineage if EngineCaches releases them. */
  def scoreWithNgramModel(df: DataFrame, idCol: String, textCol: String,
                          model: NgramModel): DataFrame = {
    val tracker = new Tracker
    val uniSnap = tracker.snapshot(model.uni)
    // loud empty-model contract: with zero unigrams t_total is NULL and
    // every backoff logp would null out, coalescing into plausible-looking
    // all-zero scores (and diverging from the golden's -Infinity)
    if (uniSnap.rows == 0) {
      tracker.releaseAll()
      throw new IllegalArgumentException(
        "scoreWithNgramModel: the trained model is empty (no unigrams); " +
          "train on a non-empty slice")
    }
    val biSnap = tracker.snapshot(model.bi)
    Seq(uniSnap, biSnap).foreach(m => Tracker.registerSurvivor(model.uni.sparkSession, m.rdd))
    val (uni, bi) = (uniSnap.df, biSnap.df)
    // token total = sum of unigram counts, read from the vocab-sized
    // snapshot — a visible keyless aggregate (the stats-attach plan
    // contract), zero extra corpus scans
    val total = uni.agg(sum("c").cast("double").as("t_total"))
    val docBi = df.select(col(idCol), posexplode(wordNgrams(col(textCol), 2))
      .as(Seq("pos", "g")))
      .withColumn("w1", substring_index(col("g"), " ", 1))
      .withColumn("w2", substring_index(col("g"), " ", -1))
    val scored = docBi
      .join(bi, Seq("g"), "left")
      .join(uni.withColumnRenamed("w", "w1").withColumnRenamed("c", "c1"),
        Seq("w1"), "left")
      .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("c", "c2"),
        Seq("w2"), "left")
      .crossJoin(total)
      .withColumn("logp",
        when(col("c12").isNotNull,
          log(col("c12").cast("double") / col("c1").cast("double")))
          .otherwise(log(lit(0.4)) +
            log(coalesce(col("c2").cast("double"), lit(0.5)) / col("t_total"))))
      .withColumn("lp_fp", floor(col("logp") * lit(1e6)))
    val agg = scored.groupBy(idCol).agg(
      count(lit(1)).as("n_bigrams"),
      sum(when(col("c12").isNull, 1L).otherwise(0L)).as("n_backoff"),
      sum(col("lp_fp")).as("lp_fp_sum"))
    df.select(col(idCol)).join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_backoff"), lit(0L)).as("n_backoff"),
        coalesce(col("lp_fp_sum"), lit(0L)).as("lp_fp_sum"))
      .withColumn("avg_logp",
        when(col("n_bigrams") > 0,
          col("lp_fp_sum").cast("double") / lit(1e6) / col("n_bigrams").cast("double")))
  }

  def ngramLmScores(df: DataFrame, train: DataFrame, idCol: String,
                    textCol: String): DataFrame =
    scoreWithNgramModel(df, idCol, textCol, ngramLmModel(train, textCol))

  /** C4-style blocklist screen (Raffel et al. 2020 ran exactly this with
    * the public "badwords" list): count blocked-term occurrences per doc,
    * keep iff zero. Terms match whole word-tokens from the shared
    * [[wsWords]] stream. For a literal, list-sized blocklist the membership
    * test is a codegen OR-chain (no join, no shuffle); a corpus-scale
    * blocklist would broadcast-join the exploded token stream instead.
    * Adds n_blocked (LONG) and kept (BOOLEAN). */
  def blocklistFilter(df: DataFrame, textCol: String,
                      terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty && terms.distinct == terms,
      "blocklistFilter: terms must be non-empty and distinct")
    val hit = (w: Column) => terms.map(t => w === lit(t)).reduce(_ || _)
    df.withColumn("n_blocked",
        size(filter(wsWords(col(textCol)), hit)).cast("long"))
      .withColumn("kept", col("n_blocked") === 0L)
  }

  /** HTML tag pattern for [[stripHtml]] — `<` then anything-but-`>` then
    * `>`: greedy char-class only (no lazy quantifiers, no lookaround), the
    * dialect-safe rule, so the DuckDB oracle recomputes bit-exactly. */
  val HtmlTagPattern = "<[^>]*>"

  /** C4/CCNet-style HTML → text extraction: strip tags, decode the five
    * predefined XML/HTML entities, collapse whitespace runs, trim.
    * Entity order matters and is part of the contract: named entities
    * BEFORE `&amp;` (so `&amp;lt;` decodes to the literal text `&lt;`, not
    * a second round of markup — the standard single-pass rule). Pure
    * codegen regexp/replace chain, map-side, no UDF — the 100 TB shape for
    * per-document extraction. Adds n_tags (LONG) and text_plain. */
  def stripHtml(df: DataFrame, textCol: String): DataFrame = {
    val unTagged = regexp_replace(col(textCol), HtmlTagPattern, " ")
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&amp;" -> "&").foldLeft(unTagged) {
      case (c, (e, r)) => replace(c, lit(e), lit(r))
    }
    df.withColumn("n_tags",
        size(regexp_extract_all(col(textCol), lit(HtmlTagPattern), lit(0))).cast("long"))
      .withColumn("text_plain",
        trim(regexp_replace(decoded, "[ \\n\\t]+", " ")))
  }

  /** Hashed TF-IDF document vectors (feature hashing, Weinberger et al.
    * 2009 + the classic smooth-idf formula — public techniques): tokens
    * hash into 256 buckets (first two md5 hex chars, the
    * [[graft.ops.Sampling.gramBucket]] rule, so both engines bucket
    * bit-identically), tf counts per (doc, bucket), smooth idf
    * `log((N+1)/(df+1)) + 1`, and an L2-normalized SPARSE vector per doc —
    * the model-free text-embedding step that feeds the ANN/SemDeDup
    * operators when no learned encoder is available.
    *
    * Determinism: the per-doc fold runs over the bucket-SORTED entry array
    * (array_sort, then a sequential `aggregate` for the squared norm), so
    * the norm — and hence every weight — is bit-identical across
    * partitionings, executor counts and the golden's sequential loop.
    *
    * 100 TB shape: two groupBy counts (doc×bucket tf, bucket df — the df
    * table is ≤ 256 rows) + the 1-row stats-attach cross join for N; the
    * per-doc assembly groups on the high-cardinality doc key. Document
    * bodies are projected away before any shuffle.
    *
    * Output: idCol, nnz (LONG), norm (DOUBLE, un-normalized L2), buckets
    * (ARRAY<STRING>, sorted), weights (ARRAY<DOUBLE>, L2-normalized).
    * Token-less docs survive with nnz 0, norm 0.0, empty arrays. */
  def hashedTfIdf(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol),
      explode(wsWords(col(textCol))).as("tok"))
      .select(col(idCol), graft.ops.Sampling.gramBucket(col("tok")).as("bucket"))
    val tf = toks.groupBy(idCol, "bucket").agg(count(lit(1)).as("tf"))
    val dfq = tf.groupBy("bucket").agg(count(lit(1)).as("dfq"))
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    val weighted = tf.join(dfq, Seq("bucket")).crossJoin(nDocs)
      .withColumn("w", col("tf").cast("double") *
        (log((col("n_docs") + lit(1L)).cast("double") /
          (col("dfq") + lit(1L)).cast("double")) + lit(1.0)))
    val assembled = weighted.groupBy(idCol)
      .agg(array_sort(collect_list(struct(col("bucket"), col("w")))).as("ent"))
      .withColumn("norm", sqrt(aggregate(col("ent"), lit(0.0),
        (acc, x) => acc + x.getField("w") * x.getField("w"))))
      .select(col(idCol),
        size(col("ent")).cast("long").as("nnz"),
        col("norm"),
        transform(col("ent"), x => x.getField("bucket")).as("buckets"),
        transform(col("ent"), x => x.getField("w") / col("norm")).as("weights"))
    df.select(col(idCol)).join(assembled, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("nnz"), lit(0L)).as("nnz"),
        coalesce(col("norm"), lit(0.0)).as("norm"),
        coalesce(col("buckets"), array().cast("array<string>")).as("buckets"),
        coalesce(col("weights"), array().cast("array<double>")).as("weights"))
  }
}
