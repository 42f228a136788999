package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, fingerprinting. All are narrow per-row
  * projections built from codegen'd built-ins — they add zero shuffles to
  * whatever pipeline they're composed into.
  */
object TextAnalysis {

  // --- Quality metrics (raw counts, deterministic integers) ---------------

  def alphaChars(c: Column): Column = length(regexp_replace(c, "[^a-zA-Z]", ""))
  def digitChars(c: Column): Column = length(regexp_replace(c, "[^0-9]", ""))
  def punctChars(c: Column): Column = length(regexp_replace(c, "[^.,;:!?'\"()-]", ""))

  /** Whitespace token count (0 for blank). */
  def tokenCount(c: Column): Column =
    when(length(trim(c)) === 0, lit(0))
      .otherwise(size(split(trim(c), "\\s+")))

  /** BPE-ish subword count: word-piece split (alnum runs, single
    * non-space punctuation/other codepoints) — an upper-bound proxy for
    * tokenizer cost, as a one-pass zero-allocation codegen kernel (the
    * lookaround-regex split form materialized a per-char array at 3-4
    * ms/doc; the kernel is a UTF-8 byte walk). */
  def subwordCount(c: Column): Column =
    graft.functions.GraftFunctions.subword_count(c)

  /** Tokenizer-faithful token count: real byte-level BPE under the repo's
    * committed deterministic merge table (graft.codec.Bpe) — what a
    * pretraining pipeline actually packs by, as a codegen kernel. */
  def bpeCount(c: Column): Column = graft.functions.GraftFunctions.bpe_count(c)

  /** CCNet-style LM quality score: mean log2 char-bigram probability under
    * the committed model (graft.codec.Lm). The per-doc sum is an EXACT
    * LONG of pre-scaled log-probs (order-independent; SQL-replayable via
    * the 1444-row table); one double division at the end. The kernel
    * result is aliased in a lower projection so it evaluates ONCE per row
    * even though two output columns derive from it. */
  def lmScore(docs: DataFrame, textCol: String = "text",
              idCol: String = "doc_id"): DataFrame =
    docs
      .select(col(idCol),
        // null text degrades to (0, 0, 0.0) exactly like the oracle's
        // left-join coalesce: both counts must come from the same null
        // handling or a null row diverges (n_bigrams 0 vs slog_sum NULL)
        coalesce(greatest(length(col(textCol)) - 1, lit(0)), lit(0))
          .cast("int").as("n_bigrams"),
        coalesce(graft.functions.GraftFunctions.lm_slog_sum(col(textCol)), lit(0L))
          .as("slog_sum"))
      .select(col(idCol), col("n_bigrams"), col("slog_sum"),
        when(col("n_bigrams") === 0, lit(0.0))
          .otherwise(col("slog_sum").cast("double") / col("n_bigrams") / lit(1000000.0))
          .as("mean_log2"))

  /** Stopword fraction of tokens — the classic web-text quality signal
    * (near-0 for boilerplate/gibberish); one codegen kernel call. */
  def stopwordRatio(c: Column): Column =
    graft.functions.GraftFunctions.stopword_ratio(c)

  /** Quality projection: raw counts + the stopword-ratio signal. The five
    * counts come from ONE fused byte-walk kernel
    * ([[graft.functions.Kernels.qualityCounts]]) — bit-equal to the
    * alphaChars/digitChars/punctChars/tokenCount expression forms above,
    * which each rewrote or split the full string per row (4 scans + 4
    * allocations/doc — the quality query's dominant cost at web scale).
    * The array is materialized in its own projection so the getItem
    * extraction never re-runs the walk (same pattern as
    * [[repetitionSignals]]'s gram-count arrays). */
  def qualityMetrics(docs: DataFrame, textCol: String = "text"): DataFrame = {
    require(!docs.columns.contains("__qc"), "reserved column __qc present")
    docs
      .withColumn("__qc", graft.functions.GraftFunctions.quality_counts(col(textCol)))
      .withColumn("n_chars_m", col("__qc").getItem(0))
      .withColumn("alpha_chars", col("__qc").getItem(1))
      .withColumn("digit_chars", col("__qc").getItem(2))
      .withColumn("punct_chars", col("__qc").getItem(3))
      .withColumn("n_tokens", col("__qc").getItem(4))
      .withColumn("stopword_ratio", stopwordRatio(col(textCol)))
      .drop("__qc")
  }

  /** Gopher/MassiveText-style word-level quality rules beyond the raw
    * character counts above: per doc — word count, mean word length,
    * fraction of words containing an alphabetic character, and
    * symbol-to-word ratio (`#` + `...` occurrences over words). All exact
    * integer counts with one double division at the end (bitwise
    * oracle-comparable); a single narrow projection, no shuffle. */
  def gopherRules(docs: DataFrame, textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame = {
    val t = col(textCol)
    val words = filter(split(trim(t), "\\s+"), w => length(w) > 0)
    val nWords = size(words)
    val sumLen = aggregate(words, lit(0), (acc, w) => acc + length(w))
    val nAlpha = size(filter(words, w => w.rlike("[a-zA-Z]")))
    val hashCount = length(t) - length(regexp_replace(t, "#", ""))
    val ellipsisCount = (length(t) - length(replace(t, lit("..."), lit("")))) / 3
    // empty/whitespace docs are well-defined (0.0 ratios), not null — real
    // corpora have them even though the synthetic tables do not
    def ratio(num: Column): Column =
      when(nWords > 0, num.cast("double") / nWords.cast("double")).otherwise(lit(0.0))
    docs.select(
      col(idCol),
      nWords.cast("int").as("n_words"),
      ratio(sumLen).as("mean_word_len"),
      ratio(nAlpha).as("alpha_word_frac"),
      ratio(hashCount + ellipsisCount).as("symbol_word_ratio"))
  }

  // --- Language identification (n-gram / stopword heuristic) --------------

  /** Stopword tables per language (matches PagesGen's generator so the
    * heuristic is verifiable on synthetic data, and sensible on real text). */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "that", "it", "is", "was", "for"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "dans", "que", "une", "pour"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "mit", "ein", "auf", "sich"),
    "ja" -> Seq("これ", "それ", "です", "ます", "した", "ない", "ある", "する", "いる", "この"))

  /** Score for one language: count of tokens that are stopwords of it. */
  private def langScore(tokens: Column, lang: String): Column =
    size(array_intersect_count(tokens, stopwords(lang)))

  // array_intersect drops duplicates; we want occurrence counts, so filter
  private def array_intersect_count(tokens: Column, stops: Seq[String]): Column =
    filter(tokens, t => stops.map(s => t === s).reduce(_ || _))

  /** Predicted language: argmax stopword-hit count over the table; "und"
    * (undetermined) when no stopword hits at all. Ties go to the
    * lexicographically greatest language code (mirrored by the t03
    * oracle). One codegen kernel call per row — the HOF formulation
    * (per-language interpreted array filters) was 4 interpreted passes
    * over every document's tokens. */
  def langId(c: Column): Column = graft.functions.GraftFunctions.lang_id(c)

  /** Equivalent declarative form (kept for reference/verification — the
    * kernel must match it; asserted in TextAnalysisSpec). */
  private[operators] def langIdDeclarative(c: Column): Column = {
    val tokens = split(lower(c), "\\s+")
    val scored = stopwords.keys.toSeq.sorted.map { l =>
      struct(langScore(tokens, l).as("score"), lit(l).as("lang"))
    }
    val best = greatest(scored: _*)
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  // --- Repetition signals (Gopher-style quality rules) ---------------------

  /** Within-document repetition signals, the Gopher/MassiveText quality
    * rules re-expressed as count ratios (integer-ratio doubles — exact and
    * oracle-comparable):
    *   top2_frac — occurrences of the single most frequent word 2-gram over
    *     all 2-gram occurrences (boilerplate/spam pages repeat one phrase);
    *   dup5_frac — fraction of word 5-gram occurrences whose gram occurs
    *     more than once (template/churned text).
    * Docs with fewer than n words score 0.0.
    *
    * Plan shape at scale: repetition is WITHIN-document work, so the whole
    * operator is one narrow pass — tokenize, then one gram-count kernel
    * call per (doc, n) with a local count map
    * ([[graft.functions.Kernels.gramCounts]]), then exact integer-ratio
    * divisions. Zero exchanges. (The earlier declarative form exploded
    * every gram OCCURRENCE as a string and shuffled it through two
    * aggregates — ~10^13 shuffled rows at 10^10 docs, profiled at sf10 as
    * the single most expensive text query — paying distributed-aggregation
    * cost for an answer that never needed data from another row.)
    */
  def repetitionSignals(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    // token array materialized below the kernel calls so the document is
    // tokenized once, not once per gram length; null/empty text degrades
    // through the null-safe kernel to the oracle's 0.0
    def frac(counts: Column, which: Int) = when(counts.getItem(2) > 0,
      counts.getItem(which).cast("double") / counts.getItem(2).cast("double"))
      .otherwise(lit(0.0))
    docs
      .select(col(idCol),
        filter(split(trim(lower(col(textCol))), "\\s+"), w => length(w) > 0).as("__ws"))
      .select(col(idCol),
        graft.functions.GraftFunctions.gram_counts(col("__ws"), 2).as("__g2"),
        graft.functions.GraftFunctions.gram_counts(col("__ws"), 5).as("__g5"))
      .select(col(idCol),
        coalesce(frac(col("__g2"), 0), lit(0.0)).as("top2_frac"),
        coalesce(frac(col("__g5"), 1), lit(0.0)).as("dup5_frac"))
  }

  // --- Sequence packing (pretraining batch assembly) -----------------------

  /** Pack documents into training sequences of ≤ `maxTokensPerSeq`
    * whitespace tokens, in deterministic `idCol` order: a doc is assigned
    * to the sequence in flight where it STARTS (sequences may overflow by
    * at most one document — docs stay atomic; the mid-doc chunking used by
    * some pipelines composes downstream if wanted). Returns
    * (idCol, n_tokens, seq_id, seq_pos).
    *
    * Scale shape: a global ordered cumulative sum is NOT a
    * `Window.orderBy` (that is a single task). It is the two-phase
    * distributed prefix sum: range-partition by id → per-partition token
    * sums (a P-row driver aggregate) → broadcast exclusive offsets →
    * per-partition running sum (narrow). The only wide exchanges are the
    * range partitioning and the final bounded per-sequence rank. */
  /** (idCol, n_tokens, __cum = exclusive prefix sum of n_tokens in idCol
    * order) via the two-phase distributed prefix sum described on
    * packSequences. Prefix groups are DETERMINISTIC ranges of the (numeric)
    * id domain — `(id - min) div ceil(span/p)` — never sampled: the plan
    * executes twice (offset aggregate + cumsum pass), and
    * `repartitionByRange`'s sampled boundaries may differ between
    * executions, silently skewing every offset past the first divergent
    * partition (observed at sf0.1). Offsets key on the logical group, not
    * the physical partition id, so even the hash placement of groups is
    * free to differ between the two passes. */
  private def withExclusiveCumsum(
      docs: DataFrame, textCol: String, idCol: String, partitions: Int,
      counter: Column => Column = tokenCount): DataFrame = {
    require(!docs.columns.contains("__g"),
      "input must not carry a __g column (internal prefix-group name)")
    val spark = docs.sparkSession
    val p = if (partitions > 0) partitions else spark.sparkContext.defaultParallelism
    val bounds = docs.agg(min(col(idCol)).cast("long"), max(col(idCol)).cast("long")).head()
    val (lo, hi) = if (bounds.isNullAt(0)) (0L, 0L) else (bounds.getLong(0), bounds.getLong(1))
    val rangeSize = math.max(1L, (hi - lo + p) / p)
    val base = docs
      .select(col(idCol), counter(col(textCol)).cast("long").as("n_tokens"),
        expr(s"CAST((CAST($idCol AS BIGINT) - ${lo}L) DIV ${rangeSize}L AS INT)").as("__g"))
      .repartition(p, col("__g"))
      .sortWithinPartitions(col(idCol))
    val perGroup = base
      .groupBy("__g").agg(sum("n_tokens").as("toks"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val gs = perGroup.keys.toSeq.sorted
    val offsets = gs.zip(gs.scanLeft(0L)((a, g) => a + perGroup(g)).init).toMap
    val bc = spark.sparkContext.broadcast(offsets)
    val schema = org.apache.spark.sql.types.StructType(
      base.schema.fields.take(2)).add("__cum", "long")
    // groups are monotone in id and hash-colocated, so after the
    // within-partition id sort each group is one contiguous run; the
    // running sum re-seeds from the group's global offset at each boundary
    val rdd = base.rdd.mapPartitionsWithIndex { (_, it) =>
      var curG = Int.MinValue
      var acc = 0L
      it.map { row =>
        val g = row.getInt(2)
        if (g != curG) { curG = g; acc = bc.value.getOrElse(g, 0L) }
        val t = row.getLong(1)
        val cum = acc
        acc += t
        org.apache.spark.sql.Row(row.get(0), t, cum)
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  def packSequences(
      docs: DataFrame,
      maxTokensPerSeq: Long,
      textCol: String = "text",
      idCol: String = "doc_id",
      partitions: Int = 0,
      counter: Column => Column = tokenCount): DataFrame = {
    require(maxTokensPerSeq > 0, "maxTokensPerSeq must be positive")
    val c = withExclusiveCumsum(docs, textCol, idCol, partitions, counter)
    val w = Window.partitionBy(col("seq_id")).orderBy(col(idCol).asc)
    c.withColumn("seq_id", expr(s"__cum div ${maxTokensPerSeq}L"))
      .drop("__cum")
      .withColumn("seq_pos", row_number().over(w))
  }

  /** GPT-style packing with mid-document splits: the token stream (docs
    * concatenated in `idCol` order) is cut into consecutive sequences of
    * EXACTLY `maxTokensPerSeq` tokens (except the last), and each document
    * reports which of its token spans [tok_start, tok_end) lands in which
    * sequence. Same two-phase distributed prefix sum as packSequences,
    * then one narrow explode over the (few) sequences a doc touches —
    * no extra shuffle at all. Empty documents emit no span. */
  def chunkSequences(
      docs: DataFrame,
      maxTokensPerSeq: Long,
      textCol: String = "text",
      idCol: String = "doc_id",
      partitions: Int = 0,
      counter: Column => Column = tokenCount): DataFrame = {
    require(maxTokensPerSeq > 0, "maxTokensPerSeq must be positive")
    val cap = maxTokensPerSeq
    withExclusiveCumsum(docs, textCol, idCol, partitions, counter)
      .filter(col("n_tokens") > 0)
      .withColumn("seq_id", explode(sequence(
        expr(s"__cum div ${cap}L"),
        expr(s"(__cum + n_tokens - 1L) div ${cap}L"))))
      .select(col(idCol),
        col("seq_id"),
        greatest(lit(0L), col("seq_id") * cap - col("__cum")).as("tok_start"),
        least(col("n_tokens"), (col("seq_id") + 1) * cap - col("__cum")).as("tok_end"))
  }

  /** Rolling-hash document fingerprint: winnowing-style min-k of 64-bit
    * xxh64 values over character w-grams — robust to small edits. One
    * codegen kernel pass per row (the array-expression form hashed every
    * gram through interpreted HOFs). */
  def fingerprint(c: Column, w: Int = 8, k: Int = 4): Column =
    graft.functions.GraftFunctions.doc_fingerprint(c, w, k)
}
