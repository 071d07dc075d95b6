package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM-data-pipeline workloads (SURVEY §2.7
  * north-star): tokenization, quality scoring, language ID, fingerprinting.
  * All pure built-in expressions — codegen'd, shuffle-free per row, viable
  * over 100 TB of documents.
  */
object TextOps {

  /** Whitespace tokenization, dropping empty tokens (Spark's split keeps a
    * trailing '' that DuckDB's splitter also keeps; both sides filter it).
    */
  def tokens(c: Column): Column =
    filter(split(c, "\\s+"), t => t =!= "")

  /** One-pass native token statistics over the raw bytes — array<long> of
    * [nTokens, nStopwords, nDistinctTokens, sumTokenChars], identical
    * semantics to the HOF pipeline it replaces
    * ([[graft.functions.VectorExpressions.TextStats]]; within a projection
    * Spark's subexpression elimination evaluates it once).
    */
  def stats(c: Column): Column =
    graft.functions.VectorExpressions.textStats(c, StopwordsEn)

  def tokenCount(c: Column): Column = stats(c).getItem(0)

  /** The English stopwords [[stats]] counts. The quality-signal ratios
    * below are exact int/int double divisions — deterministic.
    */
  val StopwordsEn: Seq[String] =
    Seq("the", "a", "an", "of", "and", "to", "in", "is", "it", "that", "for", "on", "with", "as")

  def stopwordCount(c: Column): Column = stats(c).getItem(1)

  def uniqueTokenRatio(c: Column): Column =
    stats(c).getItem(2).cast("double") /
      greatest(stats(c).getItem(0), lit(1)).cast("double")

  def meanTokenLength(c: Column): Column =
    stats(c).getItem(3).cast("double") /
      greatest(stats(c).getItem(0), lit(1)).cast("double")

  /** Language-ID by stopword-hit counting with a fixed priority order on
    * ties (en > es > fr > de > zh) — the classic n-gram/function-word
    * heuristic, expressible identically in ANSI SQL for the oracle.
    */
  val LangStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "del", "se"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "en", "un", "du", "que"),
    "de" -> Seq("der", "die", "und", "das", "von", "den", "im", "ein", "zu", "mit"),
    "zh" -> Seq("的", "了", "是", "在", "我", "有", "他", "这", "中", "大"))

  /** Native one-pass vote ([[graft.functions.VectorExpressions.LangIdExpr]]):
    * tokenize the lowercased text on whitespace once, count per language
    * the tokens in its set, and pick the most hits, ties to the earlier
    * language in [[LangStopwords]].
    */
  def langId(c: Column): Column =
    graft.functions.VectorExpressions.langIdNative(c, LangStopwords)

  /** Polynomial rolling-hash document fingerprint, mod 1e9+7 (kept small so
    * every intermediate fits a 64-bit multiply — no overflow divergence
    * between engines).
    */
  def fingerprint(c: Column): Column =
    graft.functions.VectorExpressions.fingerprint64(c)

  /** Content-defined chunking ([[graft.functions.VecKernels.cdcChunkBounds]]
    * — Gear CDC): one row per chunk with its index, codepoint length, and
    * rolling-hash fingerprint, the dedup-ready shape. Boundaries depend
    * only on local content, so re-crawled documents with early insertions
    * re-align after one chunk and their unchanged chunks fingerprint-dedup
    * against the previous crawl — fixed-size chunking would shift every
    * boundary and dedup nothing. The boundary scan is a codegen'd
    * single-pass expression and the explode is narrow: no shuffle, scan
    * speed at corpus scale. A NULL text coalesces to '' so the document
    * survives as one explicit empty-chunk row — the nullIntolerant bounds
    * expression would otherwise null out and posexplode would silently
    * drop the doc_id from the output.
    */
  def cdcChunks(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
                minSize: Int, maskBits: Int, maxSize: Int): org.apache.spark.sql.DataFrame =
    df.select(col(idCol), coalesce(col(textCol), lit("")).as("__t"))
      .select(col(idCol), col("__t"),
        graft.functions.VectorExpressions
          .cdcChunkBounds(col("__t"), minSize, maskBits, maxSize).as("__ends"))
      .select(col(idCol), col("__t"), col("__ends"),
        posexplode(col("__ends")).as(Seq("chunk_idx", "__e")))
      // element_at is 1-based: index chunk_idx IS the previous end offset
      .withColumn("__s", when(col("chunk_idx") === 0, lit(0))
        .otherwise(element_at(col("__ends"), col("chunk_idx"))))
      .select(col(idCol), col("chunk_idx"),
        expr("substring(__t, __s + 1, __e - __s)").as("chunk"))
      .withColumn("chunk_len", length(col("chunk")))
      .withColumn("chunk_fp", fingerprint(col("chunk")))

  /** Within-document bigram repetition signals
    * ([[graft.functions.VectorExpressions.RepetitionStats]]): array<long> of
    * [nBigrams, nDistinctBigrams, topBigramCount, dupBigramOccurrences].
    * The Gopher-rule repetition filters (drop docs whose top 2-gram or
    * duplicated-n-gram mass exceeds a threshold) read directly off this —
    * one codegen'd pass per row, no explode/shuffle, so it runs at scan
    * speed over an arbitrarily large corpus.
    */
  def repetitionStats(c: Column): Column =
    graft.functions.VectorExpressions.repetitionStats(c)

  /** Space-joined n-grams of the whitespace tokens (empty array when the
    * doc has fewer than n tokens). Native one-pass byte-scan kernel
    * ([[graft.functions.VectorExpressions.WordNgrams]]) — the equivalent
    * `transform(sequence(...), i -> array_join(slice(tokens, i, n), " "))`
    * plan is CodegenFallback per element and measured ~4× slower corpus-wide.
    * `coalesce` preserves the old `when`-form's empty-array-on-NULL-text
    * behavior.
    */
  def ngrams(c: Column, n: Int): Column = {
    require(n >= 1, s"n must be >= 1, got $n")
    coalesce(graft.functions.VectorExpressions.wordNgrams(c, n),
      array().cast("array<string>"))
  }

  /** Benchmark decontamination (the PaLM/GPT-3 appendix procedure): drop
    * every `train` row sharing ANY word n-gram with the (small) eval set.
    *
    * Scale shape: the eval n-gram dictionary is distinct'd and BROADCAST,
    * so the train side is map-only — explode n-grams, hash-probe the
    * broadcast set, collect the (tiny) contaminated-id list, anti-join it
    * back. No shuffle ever touches the 100 TB side.
    */
  def decontaminate(train: org.apache.spark.sql.DataFrame,
                    eval: org.apache.spark.sql.DataFrame,
                    textCol: String, idCol: String, n: Int): org.apache.spark.sql.DataFrame = {
    val evalNg = eval.select(explode(ngrams(col(textCol), n)).as("__ng")).distinct()
    val contaminated = train
      .select(col(idCol), explode(ngrams(col(textCol), n)).as("__ng"))
      .join(broadcast(evalNg), Seq("__ng"), "left_semi")
      .select(idCol).distinct()
    train.join(broadcast(contaminated), Seq(idCol), "left_anti")
  }

  /** PII redaction pass: structural phone-prefix masking (keep last group
    * for joinability) plus email redaction. Patterns use only character
    * classes + bounded quantifiers — the subset Java regex and RE2/POSIX
    * (the oracle engine) agree on; no lookaround (RE2 has none).
    */
  def redactPhonePrefix(c: Column): Column =
    regexp_replace(c, "[0-9]{2}-[0-9]{3}-[0-9]{3}-", "XX-XXX-XXX-")

  def redactEmails(c: Column): Column =
    regexp_replace(c, "[A-Za-z0-9#._%+-]+@[A-Za-z0-9.-]+", "[EMAIL]")

  /** Canonicalizing scrub used before exact/near dedup (the CCNet/Dolma
    * normalization step): lowercase, digits → 0, non-alphanumerics → space,
    * whitespace collapsed, trimmed. Plain codegen'd regexp_replace chain —
    * per-row, shuffle-free, and the regexes use only class syntax that
    * POSIX/RE2/Java all agree on.
    */
  def scrub(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        regexp_replace(lower(c), "[0-9]", "0"),
        "[^a-z0-9 ]", " "),
      " +", " "))
}
