package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, fingerprinting. All composed
  * builtins (codegen'd, shuffle-free per-row work that pipelines into
  * the scan stage).
  */
object TextAnalysis {

  /** Whitespace tokens of raw text. */
  def wsTokens(c: Column): Column =
    filter(split(trim(c), "\\s+"), t => t =!= "")

  /** Whitespace token count. */
  def tokenCount(c: Column): Column = size(wsTokens(c)).cast("long")

  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "with"),
    "fr" -> Seq("le", "la", "les", "et", "des"),
    "de" -> Seq("der", "die", "und", "ist", "von"),
    "es" -> Seq("el", "los", "las", "y", "es"))

  /** Per-language marker-word hit count. */
  def langScore(tokens: Column, lang: String): Column = {
    val words = markers.toMap.apply(lang)
    size(filter(tokens, t => t.isInCollection(words))).cast("long")
  }

  /** N-gram-heuristic language ID: argmax of marker-word counts with a
    * fixed precedence (en > fr > de > es), "und" (undetermined) when no
    * marker hits at all.
    *
    * Prefer [[langIdFromTokens]] over a pre-projected token column in
    * hot paths: lambdas are excluded from subexpression elimination, so
    * this convenience form re-tokenizes per marker set.
    */
  def langId(c: Column): Column = langIdFromTokens(wsTokens(lower(c)))

  def langIdFromTokens(toks: Column): Column = {
    val scores = markers.map { case (l, _) => l -> langScore(toks, l) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und")) { case ((l, s), acc) =>
      when(s === best && s > 0, lit(l)).otherwise(acc)
    }
  }

  /** Quality metrics: mean word length, punctuation ratio and stopword
    * ratio. Ratios are exact rational arithmetic over counts →
    * deterministic across engines. The `*FromTokens` forms take a
    * pre-projected token column, so several metrics in one select
    * tokenize once (lambdas are exempt from CSE).
    *
    * Mean token length = sum of token lengths / token count. The
    * former `(len(text) - (n-1)) / n` shortcut assumed exactly one
    * separator char between tokens and none at the ends — repeated or
    * leading/trailing whitespace inflated the mean on exactly the
    * messy text a quality metric exists for.
    */
  def meanWordLenFromTokens(toks: Column): Column =
    aggregate(transform(toks, t => length(t).cast("long")),
      lit(0L), (a, v) => a + v).cast("double") /
      size(toks).cast("double")
  def punctRatio(c: Column): Column =
    (length(c) - length(regexp_replace(c, "[.,!?;:]", ""))).cast("double") /
      length(c).cast("double")
  private val qualityStops = Seq("the", "and", "of", "a", "to", "in", "is", "it")
  def stopwordRatioFromTokens(toks: Column): Column =
    size(filter(toks, t => t.isInCollection(qualityStops))).cast("double") /
      size(toks).cast("double")

  /** Word n-grams over a pre-projected token array: positions 1..len-n+1
    * each yield `n` tokens joined by a single space. Empty (not null)
    * below n tokens, so downstream explode/size never hit a null array.
    * Pure builtins — pipelines into the scan stage, no shuffle.
    */
  def wordNGrams(words: Column, n: Int): Column =
    when(size(words) >= n,
      transform(sequence(lit(0), size(words) - n),
        i => array_join(slice(words, i + 1, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))

  /** Normalized words for n-gram matching: lowercase, non-alphanumeric
    * runs collapsed to a single space (the usual decontamination
    * normalization — punctuation and casing must not hide an overlap).
    */
  def normWords(text: Column): Column =
    wsTokens(regexp_replace(lower(text), "[^a-z0-9]+", " "))

  /** Distinct md5-hex-prefix hashes of the normalized word n-grams —
    * the single-pass codegen'd form of
    * `array_distinct(transform(wordNGrams(normWords(text), n),
    * g => substring(md5(g), 1, prefixChars)))`.
    * See [[graft.etl.expressions.WordGramHashes]].
    */
  def wordGramHashes(text: Column, n: Int, prefixChars: Int = 16): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.etl.expressions.WordGramHashes(
        org.apache.spark.sql.GraftBridge.expression(text), n, prefixChars))

  /** Char bigrams of the lowercased text — the single-pass codegen'd
    * form of `transform(sequence(1, length(lower(t)) - 1),
    * i => lower(t).substr(i, 2))`, which is quadratic per row (every
    * substr re-seeks code-point offsets from byte 0).
    * See [[graft.etl.expressions.CharBigrams]].
    */
  def charBigrams(text: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.etl.expressions.CharBigrams(
        org.apache.spark.sql.GraftBridge.expression(text)))

  /** Content-defined chunks: split where the polynomial hash of the
    * trailing `w`-char window is 0 mod `mask` (rsync/LBFS boundary
    * rule) — variable-length chunks whose boundaries survive
    * insertions, the dedup-friendly complement to fixed sliding
    * windows. Single-pass codegen'd expression; see
    * [[graft.etl.expressions.CdcChunks]].
    */
  def cdcChunks(text: Column, w: Int = 8, mask: Int = 64): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.etl.expressions.CdcChunks(
        org.apache.spark.sql.GraftBridge.expression(text), w, mask))

  /** Rolling polynomial fingerprint (base 31 mod 1e9+7) over the
    * character stream — an order-sensitive document fingerprint, unlike
    * the md5 content hash. Pure builtins: aggregate over the char array.
    */
  def rollingHash(c: Column): Column =
    aggregate(
      transform(split(c, ""), ch => ascii(ch).cast("long")),
      lit(0L),
      (acc, x) => pmod(acc * 31L + x, lit(1000000007L)))

  /** Canonical content fingerprint: md5 of whitespace-collapsed,
    * lowercased text.
    */
  def contentFingerprint(c: Column): Column =
    md5(trim(regexp_replace(lower(c), "\\s+", " ")))

  /** Character-bigram language-model quality score — the
    * perplexity-filter shape of web-corpus curation (score each
    * document by how well a corpus-trained LM predicts it; outliers =
    * gibberish, boilerplate, wrong language), with the n-gram model
    * trained on the corpus itself in the same job.
    *
    * Per document: mean ln P(c2 | c1) over its character bigrams, with
    * add-one smoothing — P = (count(c1 c2) + 1) / (count(c1 ·) + V),
    * V = distinct successor characters corpus-wide.
    *
    * Shuffle shape at scale: the bigram explode is per-row work that
    * pipelines into the scan; training is ONE map-side-combinable
    * groupBy keyed by (c1, c2) whose result is CHARSET-squared-bounded
    * — independent of corpus size, so broadcasting the model (and the
    * context totals and V) back for scoring is always safe; scoring is
    * then a second scan pass whose only shuffle is the per-doc mean,
    * keyed by doc id. Two corpus scans total, no corpus-sized join.
    */
  def bigramLmScore(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val bg = df
      .select(col(idCol).as("doc_id"),
        explode(charBigrams(col(textCol))).as("bg"))
      .select(col("doc_id"),
        substring(col("bg"), 1, 1).as("c1"), substring(col("bg"), 2, 1).as("c2"))
    // persist the model: ctx and vsize both derive from it, and without
    // the cache each would replay the full corpus scan+explode (4 scans
    // instead of 2). The frame is charset^2-bounded — safe to cache at
    // any corpus size, so this is a plain cache, not a Persist switch.
    // Deliberately never unpersisted (the repo-wide intermediate-cache
    // convention): the pinned footprint is bounded per call, and an
    // eager unpersist before the caller's action would defeat the reuse.
    val model = bg.groupBy(col("c1"), col("c2")).agg(count(lit(1)).as("cnt")).cache()
    val ctx = model.groupBy(col("c1")).agg(sum(col("cnt")).as("tot"))
    val vsize = model.agg(countDistinct(col("c2")).as("vsize"))
    bg.join(broadcast(model), Seq("c1", "c2"))
      .join(broadcast(ctx), Seq("c1"))
      .crossJoin(broadcast(vsize))
      .withColumn("lp",
        log((col("cnt") + lit(1.0)) /
          (col("tot").cast("double") + col("vsize").cast("double"))))
      .groupBy(col("doc_id"))
      .agg(round(avg(col("lp")), 6).as("lm_score"),
        count(lit(1)).as("n_bigrams"))
  }

  /** TF-IDF keyword extraction: top-k terms per document by
    * tf × ln(N/df) (rounded to 6 decimals BEFORE ranking so the order
    * is reproducible across engines; ties break on the term).
    *
    * Shuffle shape at scale: one explode → groupBy keyed by (doc, term)
    * for tf; the document-frequency table is vocabulary-sized and
    * broadcast back, so no second full-corpus shuffle. N is a one-row
    * broadcast — never a driver-side collect in the row path.
    */
  def tfidfTopTerms(df: DataFrame, textCol: String, idCol: String, k: Int): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"),
      explode(wsTokens(lower(col(textCol)))).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = df.select(countDistinct(col(idCol)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term"))
    // no broadcast hint on dfreq: it is VOCABULARY-sized, which grows
    // with the corpus — at 100 TB forcing it onto every executor OOMs.
    // The term equi-join shuffles fine, and AQE still picks a broadcast
    // build when the vocab actually fits under the threshold.
    tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df").cast("double")), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tfidf"))
  }
}
