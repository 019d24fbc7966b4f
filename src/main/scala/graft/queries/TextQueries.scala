package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Multimodal, Sessions, TextAnalysis => TA}
import graft.streaming.Streaming
import graft.util.Tables

import Fragments._

/** Text family: language id, quality and LM scores, tokenization and
  * BPE, corpus statistics, histograms and drift monitors, plus the
  * sessionization and multimodal plumbing operators.
  */
object TextQueries extends QueryFamily {
  /** Per-(source, bin) 256-equal-width-bin histogram counts of
    * n_chars under the boundary table `bounds` (source, lo, hi) —
    * bin ids in INTEGER arithmetic (((x−lo)·256) div (hi−lo), exact
    * in both engines), CLAMPED into [0, 255] so values outside the
    * boundary slice's range (q189's release-fixed boundaries) land in
    * the end bins; when the boundaries come from the same rows (q187)
    * the clamp is a no-op. The sketch is mergeable by construction:
    * counts are plain sums, and the per-source total is recoverable
    * from the sketch itself (every doc lands in exactly one bin) —
    * two map-side-combinable aggregates where the exact ladder needs
    * the per-(source, value) distinct-counts shuffle.
    */
  private[graft] def histBinCounts(docs: DataFrame, bounds: DataFrame): DataFrame =
    docs.join(broadcast(bounds), Seq("source"))
      .select(col("source"), col("lo"), col("hi"),
        when(col("hi") === col("lo"), lit(0L))
          .otherwise(greatest(
            least(expr("((n_chars - lo) * 256) div (hi - lo)"), lit(255L)),
            lit(0L))).as("bin"))
      .groupBy(col("source"), col("lo"), col("hi"), col("bin"))
      .agg(count(lit(1)).as("cnt"))

  /** The histogram-sketch quantile report shared by q187/q189:
    * p50/p95 estimated from the merged bin counts (uniform-within-bin
    * at the R-7 rank) next to the EXACT quantiles over `docs`, with
    * absolute errors. Each estimate is computed as ONE exact-integer
    * rational lo + num/den — the quantile p = pn/pd gives rank
    * h = (n-1)*pn/pd entirely in integer space (floor rank div, ceil
    * rank div-with-carry, fraction pmod/pd); the estimate at rank r
    * in cell (bin, cum, cnt) is lo + (hi-lo)*(2*bin*cnt + 2*(r-cum)
    * + 1)/(512*cnt), and the m/pd convex combination folds into the
    * numerator. ONE double division + one addition per estimate — no
    * multi-term float expression an FMA-capable engine can re-round
    * differently (the round-at-6 family rule can't help here: the
    * dyadic bin math lands EXACTLY on decimal .5 boundaries, where
    * the engines' round-half rules diverge; floor at 1e-6 of
    * identical doubles is identical). Integer range: num <=
    * (hi-lo)*pd*1024*cnt^2 — exact in BIGINT/LongType at every
    * fixture scale; a corpus deployment would widen to DECIMAL.
    */
  private[graft] def histReport(docs: DataFrame, binCounts: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bySrc = Window.partitionBy(col("source"))
    val cum = binCounts
      .withColumn("n", sum(col("cnt")).over(bySrc))
      .withColumn("cum_before",
        coalesce(sum(col("cnt")).over(bySrc.orderBy(col("bin"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    // the (bin, cum_before, cnt) cell holding the 0-based rank r —
    // exactly one bin matches, so max() just extracts it
    def rankCell(r: Column) =
      max(when(col("cum_before") <= r && r < col("cum_before") + col("cnt"),
        struct(col("bin"), col("cum_before"), col("cnt"))))
    def estExpr(pn: Int, pd: Int, f: String, c: String) = {
      val m = expr(s"pmod((hn - 1) * $pn, $pd)")
      val rF = expr(s"((hn - 1) * $pn) div $pd")
      val rC = expr(s"((hn - 1) * $pn + ${pd - 1}) div $pd")
      def k(x: String, r: Column) =
        lit(2) * col(s"$x.bin") * col(s"$x.cnt") +
          lit(2) * (r - col(s"$x.cum_before")) + lit(1)
      val num = (col("hi") - col("lo")) *
        ((lit(pd) - m) * k(f, rF) * col(s"$c.cnt") +
          m * k(c, rC) * col(s"$f.cnt"))
      val den = lit(512L) * col(s"$f.cnt") * col(s"$c.cnt") * lit(pd)
      floor((col("lo") + num.cast("double") / den.cast("double")) * 1e6) / 1e6
    }
    val hist = cum.groupBy(col("source"))
      .agg(max(col("n")).as("hn"), max(col("lo")).as("lo"),
        max(col("hi")).as("hi"),
        rankCell(expr("(n - 1) div 2")).as("c50f"),
        rankCell(expr("(n - 1 + 1) div 2")).as("c50c"),
        rankCell(expr("((n - 1) * 19) div 20")).as("c95f"),
        rankCell(expr("((n - 1) * 19 + 19) div 20")).as("c95c"))
      .select(col("source"),
        estExpr(1, 2, "c50f", "c50c").as("p50_hist"),
        estExpr(19, 20, "c95f", "c95c").as("p95_hist"))
    val exact = sourceQuantiles(docs,
      Seq(0.5 -> "p50_exact", 0.95 -> "p95_exact"))
    exact.join(hist, Seq("source"))
      .select(col("source"), col("n_docs"),
        col("p50_exact"), col("p50_hist"),
        (floor(abs(col("p50_exact") - col("p50_hist")) * 1e6) / 1e6)
          .as("p50_err"),
        col("p95_exact"), col("p95_hist"),
        (floor(abs(col("p95_exact") - col("p95_hist")) * 1e6) / 1e6)
          .as("p95_err"))
      .orderBy(col("source"))
  }

  val queries: Map[String, Q] = Map(
    // ---- BPE merge step: adjacent character-pair frequencies over
    //      the corpus vocabulary, weighted by word frequency — the
    //      inner loop of tokenizer training. The pair explosion runs
    //      on the DISTINCT word table (vocab-sized), not the corpus:
    //      the word-freq group-by (map-side combined) is the only
    //      corpus-wide shuffle, which is exactly how a 100 TB BPE
    //      trainer keeps each merge iteration cheap. Top-20 via the
    //      same TakeOrderedAndProject + bounded-window shape as q63 ----
    "q93_bpe_merge" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val words = Tables.documents(s, d)
        .select(explode(TA.wsTokens(lower(col("text")))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("freq"))
        .filter(length(col("word")) >= 2)
      val pairs = words.select(col("freq"),
        explode(transform(sequence(lit(1), length(col("word")) - 1),
          i => col("word").substr(i, lit(2)))).as("pair"))
      pairs.groupBy(col("pair")).agg(sum(col("freq")).as("pair_freq"))
        .orderBy(col("pair_freq").desc, col("pair")).limit(20)
        .withColumn("merge_rank",
          row_number().over(Window.partitionBy(substring(col("pair"), 0, 0))
            .orderBy(col("pair_freq").desc, col("pair"))).cast("long"))
        .select(col("merge_rank"), col("pair"), col("pair_freq"))
        .orderBy(col("merge_rank"))
    }),

    // ---- iterated BPE training: 5 driver-bounded merge rounds
    //      composing q93's single step into the trainer loop. Words are
    //      \u0001\u0001-delimited symbol strings, so each round's merge
    //      application is ONE codegen'd replace() per word (greedy
    //      left-to-right, exactly BPE's merge rule) and the pair stats
    //      are an explode over the split symbols. The corpus-wide
    //      shuffle happens ONCE (the word-freq group-by, persisted);
    //      each round then shuffles only the vocab-bounded pair table
    //      and takes its argmax via TakeOrdered — per-merge cost is
    //      corpus-independent, which is what makes a 100 TB BPE trainer
    //      feasible. The per-round limit(1).collect() is a bounded
    //      driver action (one row), same discipline as q45's per-round
    //      convergence count ----
    "q96_bpe_train" -> ((s, d) => {
      import s.implicits._
      bpeTrainedMerges(s, d)
        .toDF("merge_iter", "left_sym", "right_sym", "pair_freq")
        .orderBy(col("merge_iter"))
    }),

    // ---- BPE APPLY: tokenize the corpus with q96's TRAINED merge
    //      table — the missing third of the train→apply→pack loop a
    //      tokenizer pipeline actually runs (q93 ranks pairs, q96
    //      learns the merges, this encodes with them). The merge table
    //      is corpus-trained but VOCAB-SIZED, so it collects to the
    //      driver and the whole encode is a chain of five codegen'd
    //      literal replace()s inside one transform() over each doc's
    //      token array — pure scan-stage arithmetic, zero shuffles
    //      before the output sort, per-doc cost independent of corpus
    //      size (at 100 TB the merge table is still a broadcast-sized
    //      constant; a 50k-merge production vocab swaps the replace
    //      chain for a fused expression over the same plan shape).
    //      Merges apply in training order with the trainer's own
    //      greedy left-to-right single-pass replace semantics, so
    //      train and apply cannot disagree on the merge rule. Output:
    //      per-doc whitespace-word count, BPE token count, and
    //      fertility (tokens/word — the number a tokenizer eval
    //      actually reports) ----
    "q122_bpe_encode" -> ((s, d) => {
      bpeEncoded(s, d)
        .select(col("doc_id"), col("n_words"), col("n_tokens"),
          when(col("n_words") > 0,
            round(col("n_tokens").cast("double") / col("n_words"), 6))
            .as("fertility"))
        .orderBy(col("doc_id"))
    }),

    // ---- BPE merge-budget sweep — the tokenizer family's operating
    //      knob, completing the knob-calibration set (LSH: q102+q114;
    //      semantic tau: q118; IVF nProbe: q121; quality threshold:
    //      q116): corpus token totals under each PROGRESSIVE merge
    //      prefix k = 0..5 of q96's trained table, i.e. what each
    //      additional merge buys in compression. All six encodes run
    //      in ONE scan pass — each word's symbol rep threads through
    //      the literal replace chain and every intermediate length is
    //      captured — then six map-side-combinable sums; one output
    //      row per budget. tokens_per_word is the fertility a
    //      vocab-size decision reads ----
    "q126_bpe_merge_sweep" -> ((s, d) => {
      val S = "\u0001"; val SS = S + S
      val merges = bpeTrainedMerges(s, d)
      def lenOf(rep: Column): Column =
        // rep is always "SS t1 SS t2 ... SS" (tokens never contain S),
        // so non-empty SS-split segments = (#S chars)/2 - 1 — length
        // arithmetic instead of split + filter: no per-step array, no
        // interpreted lambda, ×(merges+1) per word (round 18; pinned ≡
        // the split form in Wave30Spec, values oracle-checked by q126)
        ((length(rep) - length(replace(rep, lit(S), lit("")))) / 2 - 1)
          .cast("long")
      Tables.documents(s, d)
        .select(TA.wsTokens(lower(col("text"))).as("toks"))
        .select(explode(col("toks")).as("w"))
        .select({
          val rep0 = concat(lit(SS), regexp_replace(col("w"), "(.)", "$1" + SS))
          val reps = merges.scanLeft(rep0) { case (r, (_, a, b, _)) =>
            replace(r, lit(S + a + SS + b + S), lit(S + a + b + S)) }
          struct(reps.zipWithIndex.map { case (r, k) =>
            lenOf(r).as(s"l$k") }: _*).as("ls")
        })
        .agg(count(lit(1)).as("n_words"),
          (0 to merges.length).map(k => sum(col(s"ls.l$k")).as(s"t$k")): _*)
        .select(explode(array((0 to merges.length).map(k =>
          struct(lit(k.toLong).as("n_merges"), col(s"t$k").as("corpus_tokens"),
            round(col(s"t$k").cast("double") / col("n_words"), 6)
              .as("tokens_per_word"))): _*)).as("r"))
        .select(col("r.n_merges"), col("r.corpus_tokens"),
          col("r.tokens_per_word"))
        .orderBy(col("n_merges"))
    }),

    // ---- CCNet-style boilerplate removal: drop any tumbling 8-token
    //      span that appears in MORE THAN ONE distinct doc of the same
    //      source (nav bars, footers, license blurbs repeat within a
    //      crawl domain — CCNet's "paragraph occurs more than once"
    //      rule), then reassemble. Complements q92: q92 keeps the
    //      globally FIRST occurrence of a duplicated span; this drops
    //      ALL occurrences of a frequent span — the CCNet/ refinedweb
    //      shape for template text. Span stats and the stats join
    //      share the (source, span-key) exchange; the rebuild is the
    //      q92 groupBy — every shuffle keyed, nothing corpus-quadratic ----
    "q98_boilerplate" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          TA.wsTokens(lower(col("text"))).as("toks"))
        .withColumn("n_spans", ceil(size(col("toks")) / lit(8.0)).cast("long"))
      val spans = toks.filter(col("n_spans") >= 1)
        .select(col("doc_id"), col("source"),
          posexplode(transform(sequence(lit(0L), col("n_spans") - 1),
            i => array_join(slice(col("toks"), (i * 8 + 1).cast("int"), lit(8)), " ")))
            .as(Seq("span_idx", "span")))
        .withColumn("key", substring(md5(col("span")), 1, 16))
      val stats = spans.groupBy(col("source"), col("key"))
        .agg(countDistinct(col("doc_id")).as("n_docs"))
      val rebuilt = spans.join(stats, Seq("source", "key"))
        .filter(col("n_docs") < 2)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          concat_ws(" ", transform(
            array_sort(collect_list(struct(col("span_idx"), col("span")))),
            x => x.getField("span"))).as("clean_text"))
      toks.select(col("doc_id"), col("n_spans"))
        .join(rebuilt, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_spans"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("clean_text"), lit("")).as("clean_text"))
        .orderBy(col("doc_id"))
    }),

    // ---- CCNet perplexity bucketing: head/middle/tail terciles of the
    //      corpus-trained bigram-LM score (q87's model), per language.
    //      Deliberately NOT ntile-over-the-corpus: the cut points come
    //      from the cumulative distribution of the (lang, score)
    //      GROUPED table — the per-lang window runs over distinct
    //      scores, not rows, so the sort that would single-thread a
    //      100 TB corpus under partitionBy(lang) never sees corpus
    //      cardinality (the distributed-quantile-by-value-counts
    //      shape). Equal scores land in the same bucket by
    //      construction — a property row-ntile can't give a filter ----
    "q99_ccnet_buckets" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val scored = docs.select(col("doc_id"), col("lang"))
        .join(TA.bigramLmScore(docs, "text", "doc_id"), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("lm_score"))
      val wLang = Window.partitionBy(col("lang"))
      val cuts = scored.groupBy(col("lang"), col("lm_score"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("cum_before", coalesce(sum(col("cnt")).over(
          wLang.orderBy(col("lm_score").desc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("n_lang", sum(col("cnt")).over(wLang))
      scored.join(cuts.select(col("lang"), col("lm_score"),
          col("cum_before"), col("n_lang")), Seq("lang", "lm_score"))
        .select(col("doc_id"), col("lang"), col("lm_score"),
          when(col("cum_before") * 3 < col("n_lang"), "head")
            .when(col("cum_before") * 3 < col("n_lang") * 2, "middle")
            .otherwise("tail").as("bucket"))
        .orderBy(col("doc_id"))
    }),

    // ---- Gopher-style composite quality rules: the fixed per-doc
    //      threshold battery (word count, mean word length, stopword
    //      presence, duplicate-word fraction) a crawl pipeline applies
    //      before any model-based scoring. Rules as 0/1 longs plus the
    //      conjunction; thresholds adapted to this corpus' word-soup
    //      profile. Pure per-row expressions — the whole battery
    //      pipelines into the scan, zero shuffles before the sort ----
    "q100_gopher_rules" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), col("text"),
          TA.wsTokens(col("text")).as("toks"),
          TA.wsTokens(lower(col("text"))).as("ltoks"))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_words"),
          round(TA.meanWordLenFromTokens(col("text"), col("toks")), 6)
            .as("mean_word_len"),
          round(TA.stopwordRatioFromTokens(col("ltoks")), 6).as("stopword_ratio"),
          round(lit(1.0) - size(array_distinct(col("ltoks"))).cast("double")
            / size(col("ltoks")).cast("double"), 6).as("dup_frac"))
        .withColumn("r_nwords",
          (col("n_words") >= 50 && col("n_words") <= 100000).cast("long"))
        .withColumn("r_wordlen",
          (col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0).cast("long"))
        .withColumn("r_stop", (col("stopword_ratio") >= 0.02).cast("long"))
        .withColumn("r_dup", (col("dup_frac") <= 0.9).cast("long"))
        .withColumn("keep", (col("r_nwords") === 1 && col("r_wordlen") === 1 &&
          col("r_stop") === 1 && col("r_dup") === 1).cast("long"))
        .orderBy(col("doc_id"))
    }),

    // ---- content-defined chunking: variable-length chunks cut where
    //      the trailing-window polynomial hash is 0 mod 64 (rsync/LBFS
    //      rule) — boundaries survive insertions, unlike q82's fixed
    //      windows, so downstream chunk-level dedup keys stay stable
    //      when a doc is edited. Pure per-row work (fused expression +
    //      posexplode) that pipelines into the scan: no shuffle at all
    //      before the output sort ----
    "q90_cdc_chunks" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(TA.cdcChunks(col("text"), w = 8, mask = 64))
            .as(Seq("chunk_idx", "chunk")))
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          col("chunk"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // ---- char-bigram LM quality score: corpus-trained add-one-
    //      smoothed model, per-doc mean log-likelihood (the perplexity
    //      filter of web curation). Model is charset^2-bounded ->
    //      broadcast; only corpus shuffles are the model groupBy and
    //      the per-doc mean ----
    "q87_bigram_lm" -> ((s, d) => {
      TA.bigramLmScore(Tables.documents(s, d), "text", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // ---- per-doc OOV rate against the corpus top-k vocabulary
    //      (corpusVocab — q63's vocab rule at k=20, shared definition):
    //      tokenizer-coverage analysis before a vocab is frozen. The
    //      vocab is k-BOUNDED (TakeOrderedAndProject) so its broadcast
    //      never scales with the corpus; scoring is one scan whose only
    //      shuffle is the per-doc count, map-side combined ----
    "q88_oov_rate" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), explode(TA.wsTokens(lower(col("text")))).as("term"))
      val vocab = corpusVocab(s, d, k = 20)
        .select(col("term"), lit(true).as("in_vocab"))
      toks.join(broadcast(vocab), Seq("term"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("in_vocab"), 0L).otherwise(1L)).as("n_oov"))
        .withColumn("oov_rate",
          round(col("n_oov").cast("double") / col("n_tokens").cast("double"), 6))
        .orderBy(col("doc_id"))
    }),

    // ---- heuristic language ID ----
    "q26_langid" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), TA.wsTokens(lower(col("text"))).as("toks"))
        .select(col("doc_id"), TA.langIdFromTokens(col("toks")).as("lang_guess"),
          TA.langScore(col("toks"), "en").as("en_score"))
        .orderBy(col("doc_id"))
    }),

    // ---- quality scoring (tokens projected once) ----
    "q27_quality" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), col("text"),
          TA.wsTokens(col("text")).as("toks"),
          TA.wsTokens(lower(col("text"))).as("ltoks"))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_words"),
          round(TA.meanWordLenFromTokens(col("text"), col("toks")), 6)
            .as("mean_word_len"),
          round(TA.punctRatio(col("text")), 6).as("punct_ratio"),
          round(TA.stopwordRatioFromTokens(col("ltoks")), 6).as("stopword_ratio"))
        .orderBy(col("doc_id"))
    }),

    // ---- token counting (tokens projected once) ----
    "q28_token_count" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), col("text"), TA.wsTokens(col("text")).as("toks"))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_ws_tokens"),
          greatest(ceil(length(col("text")) / 4).cast("long"),
            size(col("toks")).cast("long")).as("subword_est"))
        .orderBy(col("doc_id"))
    }),

    // ---- document fingerprinting (content md5 + rolling hash) ----
    "q29_fingerprint" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          TA.contentFingerprint(col("text")).as("fingerprint"),
          TA.rollingHash(col("text")).as("rolling_hash"))
        .orderBy(col("doc_id"))
    }),

    // ---- gap-based sessionization ----
    "q30_sessionize" -> ((s, d) => {
      Sessions.sessionStats(Tables.events(s, d))
        .orderBy(col("user_id"), col("session_id"))
    }),

    // ---- multimodal binary plumbing (decode stubbed, plumbing real) ----
    "q31_multimodal" -> ((s, d) => {
      Multimodal.decodePipeline(Tables.documents(s, d), "text", "doc_id")
        .drop("payload") // parquet-compare on metadata; payload exercised in tests
        // list-typed columns crash the driver's pandas sort_values
        // (unhashable ndarray) — compare the offsets as a CSV string
        .withColumn("frame_offsets",
          array_join(transform(col("frame_offsets"), _.cast("string")), ","))
        .orderBy(col("doc_id"))
    }),

    // ---- HLL sketch aggregation (no oracle: HLL impls differ across
    //      engines by design — driver records the rows-only check) ----
    "q34_approx_distinct" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
          approx_count_distinct(col("l_orderkey"), 0.01).as("approx_orders"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- PII redaction: regex scrub of emails/phones + match counts
    //      (PII synthesized deterministically — test corpus has none) ----
    "q47_pii_redact" -> ((s, d) => {
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phoneRe = "\\+[0-9][0-9 ]{6,}[0-9]"
      val synth = concat(substring(col("text"), 1, 40),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com or +33 6 "),
        lpad(pmod(col("doc_id") * 7919, lit(100000000L)).cast("string"), 8, "0"))
      Tables.documents(s, d)
        .select(col("doc_id"), synth.as("raw"))
        .select(col("doc_id"),
          regexp_replace(regexp_replace(col("raw"), emailRe, "<EMAIL>"),
            phoneRe, "<PHONE>").as("redacted"),
          size(regexp_extract_all(col("raw"), lit(emailRe), lit(0)))
            .cast("long").as("n_emails"),
          size(regexp_extract_all(col("raw"), lit(phoneRe), lit(0)))
            .cast("long").as("n_phones"))
        .orderBy(col("doc_id"))
    }),

    // ---- TF-IDF keyword extraction (top-3 terms per doc) ----
    "q48_tfidf" -> ((s, d) => {
      TA.tfidfTopTerms(Tables.documents(s, d), "text", "doc_id", k = 3)
        .orderBy(col("doc_id"), col("rank"))
    }),

    // ---- sliding-window document chunking (size 500, stride 400 →
    //      100-char overlap): the pre-tokenization split a training
    //      pipeline feeds to the tokenizer. explode(sequence) keeps it
    //      a generator inside the scan stage — no shuffle ----
    "q82_chunk_docs" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(0L),
            greatest(length(col("text")).cast("long") - 1, lit(0L)),
            lit(400L))).as("chunk_start"))
        .select(col("doc_id"), col("chunk_start"),
          col("text").substr(col("chunk_start").cast("int") + 1, lit(500)).as("chunk"))
        .withColumn("n_chars", length(col("chunk")).cast("long"))
        .orderBy(col("doc_id"), col("chunk_start"))
    }),

    // ---- corpus-duplicated text fraction (RefinedWeb-style): share of
    //      each doc's distinct 8-grams that occur in ≥2 docs. The only
    //      corpus-wide shuffle is keyed by the 16-hex gram hash; the
    //      gram→doc-count join is co-partitioned on that key (reused
    //      exchange), so no second full shuffle. The dup-gram side is
    //      NOT broadcast on purpose — at 100 TB it scales with the
    //      corpus, unlike q59's bounded held-out set ----
    "q62_dup_text_frac" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // single-pass codegen'd gram hashing; per-doc distinct in
      // gh-space == the oracle's DISTINCT (doc_id, gh)
      // Three consumers (dup-gram set, totals, dup counts) replay the
      // scan+gram stage without a persist. 100-TB POLICY: the exploded
      // gram frame is ~10x the corpus and will NOT fit a memory-backed
      // level — util.Persist makes the level a deploy-time switch
      // (DISK_ONLY for sequential shuffle-grade spill, NONE to eat the
      // recompute when cluster disk is the scarcer resource);
      // MEMORY_AND_DISK is the bench-scale default.
      val grams = graft.util.Persist(docs.select(col("doc_id"),
          explode(TA.wordGramHashes(col("text"), 8)).as("gh")))
      val dupG = grams.groupBy(col("gh"))
        .agg(count(lit(1)).as("n_docs")).filter(col("n_docs") >= 2)
        .select(col("gh"))
      val tot = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
      val dup = grams.join(dupG, Seq("gh"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup_grams"))
      docs.select(col("doc_id"))
        .join(tot, Seq("doc_id"), "left")
        .join(dup, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_grams"), lit(0L)).as("n_grams"),
          coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"))
        .withColumn("dup_frac",
          round(when(col("n_grams") === 0, lit(0.0))
            .otherwise(col("n_dup_grams").cast("double") /
              col("n_grams").cast("double")), 6))
        .orderBy(col("doc_id"))
    }),

    // ---- Gopher-style repetition filter: fraction of duplicate word
    //      2-/3-grams per document (Rae et al. 2021 §A1.1 repetition
    //      signals). Pure array expressions — no shuffle, pipelines into
    //      the scan ----
    "q60_repeated_ngrams" -> ((s, d) => {
      def dupFrac(g: org.apache.spark.sql.Column) =
        when(size(g) === 0, lit(0.0)).otherwise(
          (size(g) - size(array_distinct(g))).cast("double") /
            size(g).cast("double"))
      Tables.documents(s, d)
        .select(col("doc_id"), TA.normWords(col("text")).as("words"))
        .select(col("doc_id"),
          TA.wordNGrams(col("words"), 2).as("g2"),
          TA.wordNGrams(col("words"), 3).as("g3"))
        .select(col("doc_id"),
          size(col("g2")).cast("long").as("n_2grams"),
          round(dupFrac(col("g2")), 6).as("dup2_frac"),
          round(dupFrac(col("g3")), 6).as("dup3_frac"))
        .withColumn("is_repetitive", (col("dup2_frac") > 0.2).cast("long"))
        .orderBy(col("doc_id"))
    }),

    // ---- vocabulary construction: top-1000 corpus terms by frequency
    //      with deterministic ids (freq desc, term asc). The top-k goes
    //      through TakeOrderedAndProject (per-partition heads merged on
    //      the driver-side single reducer), NOT a global sort — the
    //      window that assigns ids only ever sees the bounded k rows ----
    "q63_vocab" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val top = corpusVocab(s, d, k = 1000)
      // Single-partition window on the bounded 1000-row frame is the
      // intended plan, but an explicit partition spec keeps WindowExec
      // from WARNing "No Partition Defined" into the bench tail the
      // driver captures (VERDICT r4 item 5). The key must be constant-
      // VALUED yet non-foldable — a literal gets stripped by Spark's
      // EliminateWindowPartitions rule, which re-creates the empty
      // spec; substring(term, 0, 0) = "" for every row survives it.
      top.withColumn("vocab_id",
          row_number().over(Window.partitionBy(substring(col("term"), 0, 0))
            .orderBy(col("freq").desc, col("term")))
            .cast("long"))
        .select(col("vocab_id"), col("term"), col("freq"))
        .orderBy(col("vocab_id"))
    }),

    // ---- J2 similarity merge in production shape (SequenceRatio in a
    //      distributed join; no SQL oracle — Ratcliff-Obershelp is not
    //      expressible in DuckDB; semantics pinned by ConsolidateSpec +
    //      the reference-diff harness) ----
    "q35_merge_similarity" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val fixedScrape = lit("2026-08-01 06:00:00").cast("timestamp")
      def side(t: String, prefix: String) = ev.filter(col("event_type") === t).select(
        concat(lit(prefix), lit("-"), col("event_id")).as("event_id_provider"),
        concat(lit("A"), col("user_id").cast("string"), lit(" Show")).as("event_name"),
        col("ts").cast("timestamp_ntz").as("event_datetime_local"),
        floor(col("value")).cast("long").as("tickets_sold_total"),
        fixedScrape.as("scrape_ts_utc"),
        lit("run-fixed").as("ingestion_run_id"),
        col("event_id").as("ord"))
      graft.etl.Consolidate.mergeSimilarity(
          side("signup", "sg"), side("purchase", "dc"),
          col("ord"), col("ord"))
        .withColumn("event_datetime_local",
          date_format(col("event_datetime_local"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
        .orderBy(col("canonical_event_key"), col("event_datetime_local"))
    }),

    // ---- logistic quality classifier: the q27 feature vector scored
    //      by a fixed-weight logistic model (the fasttext-style learned
    //      quality gate of web curation, with the weights frozen as
    //      plan constants). Pure per-row scan-stage arithmetic — the
    //      model "inference" adds zero shuffles to the feature scan.
    //      keep compares the ROUNDED score so both engines decide the
    //      boundary identically ----
    "q108_quality_classifier" -> ((s, d) =>
      docQuality(s, d)
        .select(col("doc_id"), col("quality_score"))
        .withColumn("keep", (col("quality_score") >= 0.5).cast("int"))
        .orderBy(col("doc_id"))),

    // ---- source coverage: per-source doc/char share plus the
    //      head-90% membership flag (which sources a curator must
    //      audit to cover 90% of the corpus). The only corpus-wide
    //      work is the source group-by; the share window runs over the
    //      source-cardinality-bounded aggregate, so the single
    //      unpartitioned window is fine at any corpus size ----
    "q110_source_coverage" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val stats = Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      val w = Window.orderBy(col("n_docs").desc, col("source"))
      stats
        .withColumn("total", sum(col("n_docs")).over(
          Window.partitionBy(substring(col("source"), 0, 0))))
        .withColumn("cum", sum(col("n_docs")).over(w))
        .select(col("source"), col("n_docs"), col("n_chars"),
          round(col("n_docs").cast("double") / col("total"), 6).as("share"),
          round(col("cum").cast("double") / col("total"), 6).as("cum_share"),
          when(round((col("cum") - col("n_docs")).cast("double") / col("total"), 6)
            < 0.9, 1).otherwise(0).as("in_head90"))
        .orderBy(col("source"))
    }),

    // ---- classifier calibration eval: AUC of q108's frozen logistic
    //      quality score against q100's Gopher rule battery as the
    //      binary label — does the learned scorer rank rule-passing
    //      docs above rule-failing ones? Mann-Whitney AUC with exact
    //      tie handling: average ranks over DISTINCT score groups, so
    //      the one unpartitioned window runs over a frame bounded by
    //      the score resolution (sigmoid rounded to 6 decimals -> at
    //      most ~1e6 distinct values whatever the corpus size — q110's
    //      bounded-window discipline, not a corpus-sized sort). The
    //      per-doc feature pass is one scan; everything after is
    //      resolution-bounded ----
    "q116_classifier_auc" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val f = Tables.documents(s, d)
        .select(col("doc_id"), col("text"),
          TA.wsTokens(col("text")).as("toks"),
          TA.wsTokens(lower(col("text"))).as("ltoks"))
        .select(col("doc_id"),
          size(col("toks")).cast("double").as("n_words"),
          size(col("toks")).cast("long").as("n_words_l"),
          TA.meanWordLenFromTokens(col("text"), col("toks")).as("mwl"),
          TA.punctRatio(col("text")).as("punct"),
          TA.stopwordRatioFromTokens(col("ltoks")).as("stop"),
          round(lit(1.0) - size(array_distinct(col("ltoks"))).cast("double")
            / size(col("ltoks")).cast("double"), 6).as("dup_frac"))
      val z = lit(0.5) + lit(4.0) * col("stop") - lit(6.0) * col("punct") -
        lit(0.4) * abs(col("mwl") - lit(5.0)) +
        lit(0.15) * log(lit(1.0) + col("n_words"))
      // label thresholds apply to the ROUNDED features — q100's exact
      // published battery, so the two gated queries stay in lockstep
      val scored = f.select(
        round(lit(1.0) / (lit(1.0) + exp(-z)), 6).as("score"),
        (col("n_words_l") >= 50 && col("n_words_l") <= 100000 &&
          round(col("mwl"), 6) >= 3.0 && round(col("mwl"), 6) <= 10.0 &&
          round(col("stop"), 6) >= 0.02 &&
          col("dup_frac") <= 0.9).cast("long").as("label"))
      val gs = scored.groupBy(col("score"))
        .agg(count(lit(1)).as("n"), sum(col("label")).as("n_pos"))
      val w = Window.orderBy(col("score"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val ranked = gs
        .withColumn("cumb", coalesce(sum(col("n")).over(w), lit(0L)))
        .withColumn("avg_rank",
          col("cumb").cast("double") + (col("n").cast("double") + 1.0) / 2.0)
      ranked.agg(
          sum(col("n_pos")).as("np"),
          sum(col("n") - col("n_pos")).as("nn"),
          sum(col("n_pos").cast("double") * col("avg_rank")).as("srp"))
        .select(col("np").as("n_pos"), col("nn").as("n_neg"),
          when(col("np") > 0 && col("nn") > 0,
            round((col("srp") - col("np").cast("double") *
              (col("np").cast("double") + 1.0) / 2.0) /
              (col("np").cast("double") * col("nn").cast("double")), 6))
            .as("auc"))
    }),

    // ---- vocabulary DRIFT monitor: OOV rate of the incoming delta
    //      slice against the BASE-trained top-k vocabulary, side by
    //      side with the base's own rate — the retraining trigger a
    //      tokenizer deployment watches (rising delta OOV = the corpus
    //      outgrew the frozen vocab; q88 is the per-doc view against
    //      the whole-corpus vocab, this is the monitoring aggregate
    //      against the base-only vocab). k-bounded vocab broadcast
    //      (TakeOrderedAndProject), one scan, one 2-row aggregate. ----
    "q145_vocab_drift" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val baseVocab = docs.filter(!isDeltaDoc(col("doc_id")))
        .select(explode(TA.wsTokens(lower(col("text")))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("term")).limit(20)
        .select(col("term"), lit(true).as("in_vocab"))
      docs.select(
          when(isDeltaDoc(col("doc_id")), lit("delta"))
            .otherwise(lit("base")).as("side"),
          explode(TA.wsTokens(lower(col("text")))).as("term"))
        .join(broadcast(baseVocab), Seq("term"), "left")
        .groupBy(col("side"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("in_vocab"), 0L).otherwise(1L)).as("n_oov"))
        .select(col("side"), col("n_tokens"), col("n_oov"),
          round(col("n_oov").cast("double") / col("n_tokens"), 6).as("oov_rate"))
        .orderBy(col("side"))
    }),

    // ---- classifier CALIBRATION curve: the reliability diagram that
    //      complements q116's AUC — AUC says the scorer RANKS
    //      rule-passing docs above failing ones (0.82), this says
    //      whether the score VALUES are trustworthy as probabilities:
    //      per predicted-score decile, mean predicted score vs
    //      observed rule-pass rate and the |gap| a curator reads
    //      before using the score as a sampling weight (q119/q120
    //      both do exactly that). Same frozen q108 scorer and q100
    //      label battery as q116, so the three classifier queries
    //      stay in lockstep. Pure scan-stage features + a 10-row
    //      aggregate — nothing here sees corpus cardinality ----
    "q151_classifier_calibration" -> ((s, d) => {
      val f = Tables.documents(s, d)
        .select(col("doc_id"), col("text"),
          TA.wsTokens(col("text")).as("toks"),
          TA.wsTokens(lower(col("text"))).as("ltoks"))
        .select(col("doc_id"),
          size(col("toks")).cast("double").as("n_words"),
          size(col("toks")).cast("long").as("n_words_l"),
          TA.meanWordLenFromTokens(col("text"), col("toks")).as("mwl"),
          TA.punctRatio(col("text")).as("punct"),
          TA.stopwordRatioFromTokens(col("ltoks")).as("stop"),
          round(lit(1.0) - size(array_distinct(col("ltoks"))).cast("double")
            / size(col("ltoks")).cast("double"), 6).as("dup_frac"))
      val z = lit(0.5) + lit(4.0) * col("stop") - lit(6.0) * col("punct") -
        lit(0.4) * abs(col("mwl") - lit(5.0)) +
        lit(0.15) * log(lit(1.0) + col("n_words"))
      val scored = f.select(
        round(lit(1.0) / (lit(1.0) + exp(-z)), 6).as("score"),
        (col("n_words_l") >= 50 && col("n_words_l") <= 100000 &&
          round(col("mwl"), 6) >= 3.0 && round(col("mwl"), 6) <= 10.0 &&
          round(col("stop"), 6) >= 0.02 &&
          col("dup_frac") <= 0.9).cast("long").as("label"))
      scored
        .withColumn("bin", least(floor(col("score") * 10), lit(9L)))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          round(avg(col("score")), 6).as("mean_score"),
          round(avg(col("label").cast("double")), 6).as("pos_rate"))
        .select(col("bin"), col("n"), col("mean_score"), col("pos_rate"),
          round(abs(col("mean_score") - col("pos_rate")), 6).as("gap"))
        .orderBy(col("bin"))
    }),

    // ---- corpus DISTRIBUTION quantiles: exact per-source p25/p50/
    //      p75/p95 of doc length — the dataset-card distribution table
    //      — via the distributed-quantile-by-value-counts shape (q99's
    //      discipline): group to (source, n_chars) counts, one
    //      per-source window over DISTINCT values (bounded by length
    //      resolution, not corpus rows), then the R-7 interpolation
    //      v_lo + frac·(v_hi − v_lo) computed from the two covering
    //      rows per quantile. DuckDB's quantile_cont is the oracle, so
    //      green means the distributed form IS the textbook exact
    //      quantile — no approx_percentile divergence to explain.
    //      NEVER a corpus-sized sort: the only row-cardinality work is
    //      the (source, n_chars) group-by ----
    "q153_corpus_quantiles" -> ((s, d) => {
      sourceQuantiles(Tables.documents(s, d),
          Seq(0.25 -> "p25", 0.50 -> "p50", 0.75 -> "p75", 0.95 -> "p95"))
        .select(col("source"), col("n_docs"), col("p25"), col("p50"),
          col("p75"), col("p95")).orderBy(col("source"))
    }),

    // ---- per-source tokenizer FERTILITY: q150's corpus-wide
    //      fertility row broken out by source — the tokenizer-equity
    //      table a multilingual release publishes (a source whose
    //      fertility is far above the corpus mean is under-served by
    //      the trained vocab: its docs cost more tokens per word, so
    //      a token-denominated budget like q140's silently
    //      down-samples it in DOCUMENTS even at equal token share).
    //      Memoized q122 encode + one source-bounded aggregate + the
    //      one-row corpus-total broadcast (q48's pattern) ----
    "q157_source_fertility" -> ((s, d) => {
      val enc = bpeEncoded(s, d)
      val t = enc.agg(sum(col("n_tokens")).as("tot"))
      enc.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("n_words"),
          sum(col("n_tokens")).as("n_tokens"))
        .crossJoin(broadcast(t))
        .select(col("source"), col("n_docs"), col("n_words"), col("n_tokens"),
          round(col("n_tokens").cast("double") / col("n_words"), 6)
            .as("fertility"),
          round(col("n_tokens").cast("double") / col("tot"), 6)
            .as("token_share"))
        .orderBy(col("source"))
    }),

    // ---- distribution-trimmed corpus: the ACTION the q153 quantile
    //      table exists for — per-source robust outlier trim (keep
    //      docs with n_chars inside [p05, p95] of their own source's
    //      distribution; the standard defense against truncated crawl
    //      records and concatenation blowups, cut per SOURCE because a
    //      global cut would amputate legitimately-long sources).
    //      Shares sourceQuantiles with q153; the per-source cut table
    //      is source-cardinality-bounded and broadcast, so the trim
    //      itself is a scan-stage filter at any corpus size ----
    "q159_length_trim" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val cuts = sourceQuantiles(docs, Seq(0.05 -> "lo_cut", 0.95 -> "hi_cut"))
        .select(col("source"), col("n_docs"), col("lo_cut"), col("hi_cut"))
      docs.join(broadcast(cuts), Seq("source"))
        .groupBy(col("source"))
        .agg(max(col("n_docs")).as("n_docs"),
          count(when(col("n_chars") >= col("lo_cut") &&
            col("n_chars") <= col("hi_cut"), lit(1))).as("n_kept"),
          max(col("lo_cut")).as("lo_cut"), max(col("hi_cut")).as("hi_cut"))
        .select(col("source"), col("n_docs"), col("n_kept"),
          round(col("n_kept").cast("double") / col("n_docs"), 6)
            .as("keep_frac"),
          col("lo_cut"), col("hi_cut"))
        .orderBy(col("source"))
    }),

    // ---- q153's distribution table split by DETECTED language
    //      (q26's n-gram langId, not the metadata column — the
    //      production case is exactly that the two disagree): exact
    //      per-(source, lang) length quantiles via the same
    //      value-count + R-7 interpolation shape, windows still
    //      bounded by DISTINCT lengths per key group. This is the
    //      table a per-language mixing recipe (q152/q161) reads when
    //      lengths differ by language within one source ----
    "q163_lang_quantiles" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("source"), col("n_chars"),
          TA.langIdFromTokens(TA.wsTokens(lower(col("text"))))
            .as("lang_guess"))
      sourceQuantiles(docs,
          Seq(0.25 -> "p25", 0.50 -> "p50", 0.75 -> "p75", 0.95 -> "p95"),
          Seq("source", "lang_guess"))
        .select(col("source"), col("lang_guess"), col("n_docs"),
          col("p25"), col("p50"), col("p75"), col("p95"))
        .orderBy(col("source"), col("lang_guess"))
    }),

    // ---- q157's tokenizer-fertility table split by DETECTED
    //      language: the per-language equity view a temperature-mix
    //      recipe needs — a language with fertility far above the
    //      corpus mean is silently down-weighted by token-denominated
    //      budgets even at equal doc share. Memoized q122 encode
    //      (scan, zero shuffles) + one doc_id-keyed join to the
    //      langId scan + a (source, lang)-bounded aggregate; the
    //      corpus-total divisor is q48's one-row broadcast scalar ----
    "q164_lang_fertility" -> ((s, d) => {
      val enc = bpeEncoded(s, d)
      val lang = Tables.documents(s, d)
        .select(col("doc_id"),
          TA.langIdFromTokens(TA.wsTokens(lower(col("text"))))
            .as("lang_guess"))
      val t = enc.agg(sum(col("n_tokens")).as("tot"))
      enc.join(lang, Seq("doc_id"))
        .groupBy(col("source"), col("lang_guess"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("n_words"),
          sum(col("n_tokens")).as("n_tokens"))
        .crossJoin(broadcast(t))
        .select(col("source"), col("lang_guess"), col("n_docs"),
          col("n_words"), col("n_tokens"),
          round(col("n_tokens").cast("double") / col("n_words"), 6)
            .as("fertility"),
          round(col("n_tokens").cast("double") / col("tot"), 6)
            .as("token_share"))
        .orderBy(col("source"), col("lang_guess"))
    }),

    // ---- temperature sampling denominated in TOKENS: q161 balances
    //      languages by DOC counts, but training budgets are spent in
    //      tokens (q140), and fertility differences (q164) make the
    //      two disagree — a lang whose docs are long or whose tokenizer
    //      is inefficient eats more budget than its doc share shows.
    //      Same α=0.7 / half-size-target recipe as q161 with token
    //      mass everywhere docs were: weights over per-lang token
    //      sums (memoized q122 encode), want in tokens, sample_frac =
    //      want/lang_tokens, kept docs AND kept tokens by the same
    //      deterministic md5 draw. Lang-bounded aggregates + one-row
    //      normalizer broadcast; the draw stays scan-stage ----
    "q166_token_temperature" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
      val enc = bpeEncoded(s, d).select(col("doc_id"), col("n_tokens"))
      val dl = docs.join(enc, Seq("doc_id"))
      val n = dl.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("tk"))
      val t = n.agg(sum(col("tk")).as("tot"),
        sum(pow(col("tk").cast("double"), lit(0.7))).as("z07"))
      val plan = n.crossJoin(broadcast(t))
        .select(col("lang"), col("n_docs"), col("tk"),
          (pow(col("tk").cast("double"), lit(0.7)) / col("z07") *
            col("tot").cast("double") / lit(2.0)).as("want"))
        .select(col("lang"), col("n_docs"), col("tk"), col("want"),
          round(least(lit(1.0), col("want") / col("tk")), 6)
            .as("sample_frac"),
          ceil(round(col("want") / col("tk"), 6)).cast("long").as("epochs"))
      val u = round(conv(substring(md5(col("doc_id").cast("string")), 1, 6),
        16, 10).cast("double") / lit(16777215.0), 6)
      val kept = dl.select(col("lang"), col("n_tokens"), u.as("u"))
        .join(broadcast(plan.select(col("lang"), col("sample_frac"))),
          Seq("lang"))
        .groupBy(col("lang"))
        .agg(count(when(col("u") < col("sample_frac"), lit(1))).as("n_kept"),
          sum(when(col("u") < col("sample_frac"), col("n_tokens"))
            .otherwise(lit(0L))).as("kept_tokens"))
      plan.join(kept, Seq("lang"))
        .select(col("lang"), col("n_docs"), col("tk").as("n_tokens"),
          round(col("want"), 6).as("target_tokens"),
          col("sample_frac"), col("epochs"), col("n_kept"),
          col("kept_tokens"))
        .orderBy(col("lang"))
    }),

    // ---- histogram quantile SKETCH vs exact: the mergeable rung of
    //      the quantile family (q153's exact R-7 ladder). Per source:
    //      a 256-equal-width-bin histogram of n_chars (bin ids in
    //      INTEGER arithmetic — ((x−lo)·256) div (hi−lo), exact in
    //      both engines), the p50/p95 estimated by uniform-within-bin
    //      interpolation at the R-7 rank, and the exact quantiles next
    //      to them with the absolute error. The sketch is two map-
    //      side-combinable aggregates (min/max pass + bin-count pass,
    //      256 longs per source) where the exact ladder needs the
    //      per-(source, value) distinct-counts shuffle — the trade a
    //      100 TB monitoring wall actually makes; the error bound
    //      (≤ 1 bin width — within-bin interpolation of both order
    //      statistics, gated by Wave14Spec) is what makes the cheap
    //      path trustworthy ----
    "q187_hist_quantiles" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val bounds = docs.groupBy(col("source"))
        .agg(min(col("n_chars")).as("lo"), max(col("n_chars")).as("hi"))
      histReport(docs, histBinCounts(docs, bounds))
    }),

    // ---- STREAMING histogram maintenance: the q187 sketch kept
    //      current incrementally, the monitoring wall's ingest shape.
    //      Boundaries are RELEASE-FIXED from the base slice (part of
    //      the persisted sketch artifact — a streaming sketch cannot
    //      know the global min/max, so delta values clamp into the end
    //      bins; q187's clamp rule, now load-bearing); the base bin
    //      counts batch-build once as a parquet artifact; delta docs
    //      arrive as a 2-micro-batch file stream and each batch
    //      appends its OWN (source, bin, cnt) rows through the
    //      idempotent batch_id-partitioned K2 sink — the sketch is
    //      mergeable BY CONSTRUCTION (counts are sums), so maintenance
    //      costs |batch| binning work, never a corpus rescan. The
    //      final report re-derives p50/p95 from the merged counts next
    //      to the exact full-corpus quantiles — same discipline as
    //      every incremental family: the stream must land the exact
    //      report a full rebuild under the same boundaries lands ----
    "q189_stream_histogram" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val baseDocs = docs.filter(!isDeltaDoc(col("doc_id")))
      val boundsDir = CoreQueries.sharedInputDir(
        s"graft_q189_bounds_${CoreQueries.dirToken(d)}") { p =>
        baseDocs.groupBy(col("source"))
          .agg(min(col("n_chars")).as("lo"), max(col("n_chars")).as("hi"))
          .write.mode("overwrite").parquet(p)
      }
      val bounds = s.read.parquet(boundsDir)
      val baseSketchDir = CoreQueries.sharedInputDir(
        s"graft_q189_base_${CoreQueries.dirToken(d)}") { p =>
        histBinCounts(baseDocs, bounds).write.mode("overwrite").parquet(p)
      }
      val delta = docs.filter(isDeltaDoc(col("doc_id")))
        .select(col("doc_id"), col("source"), col("n_chars"))
      val in = CoreQueries.sharedInputDir(
        s"graft_q189_in_${CoreQueries.dirToken(d)}") { p =>
        delta.repartition(2).write.mode("overwrite").parquet(p)
      }
      val dir = CoreQueries.tempQueryDir("graft_q189_hist_")
      val out = s"$dir/out"; val ck = s"$dir/ck"
      val stream = Streaming.eventsStream(s, in, delta.schema)
      Streaming.drain(stream, ck, 2) { (batch, id) =>
        Streaming.writeBatch(histBinCounts(batch, bounds), id, out, append = true)
      }
      val merged = s.read.parquet(out)
        .select(col("source"), col("lo"), col("hi"), col("bin"), col("cnt"))
        .unionByName(s.read.parquet(baseSketchDir))
        .groupBy(col("source"), col("lo"), col("hi"), col("bin"))
        .agg(sum(col("cnt")).as("cnt"))
      histReport(docs, merged)
    }),

    // ---- PSI drift monitor: the monitoring wall's distribution-
    //      shift number (population stability index, the standard
    //      production drift metric) for n_chars per source between
    //      the base slice and the delta ingest — the scalar that says
    //      "this source's length distribution moved" before any
    //      downstream quality/dedup rate does. 16 equal-width bins
    //      under base-slice boundaries (q189's release-fixed rule,
    //      clamped), add-1-smoothed bin shares on BOTH sides (q185's
    //      smoothing discipline, so empty bins and delta-less sources
    //      stay finite), psi = Σ (p_delta − p_base)·ln(p_delta/
    //      p_base). The 16-bin spine is generated per source in the
    //      scan (explode, not a join); everything else is two bounded
    //      aggregates over the sketch rows ----
    "q191_psi_drift" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val base = docs.filter(!isDeltaDoc(col("doc_id")))
      val bounds = base.groupBy(col("source"))
        .agg(min(col("n_chars")).as("lo"), max(col("n_chars")).as("hi"))
      def bins(df: DataFrame) = df.join(broadcast(bounds), Seq("source"))
        .select(col("source"),
          when(col("hi") === col("lo"), lit(0L))
            .otherwise(greatest(
              least(expr("((n_chars - lo) * 16) div (hi - lo)"), lit(15L)),
              lit(0L))).as("bin"))
        .groupBy(col("source"), col("bin")).agg(count(lit(1)).as("cnt"))
      val spine = docs.select(col("source")).distinct()
        .select(col("source"), explode(sequence(lit(0L), lit(15L))).as("bin"))
      val wSrc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      spine
        .join(bins(base).withColumnRenamed("cnt", "cb"),
          Seq("source", "bin"), "left")
        .join(bins(docs.filter(isDeltaDoc(col("doc_id"))))
          .withColumnRenamed("cnt", "cd"), Seq("source", "bin"), "left")
        .select(col("source"), col("bin"),
          coalesce(col("cb"), lit(0L)).as("cb"),
          coalesce(col("cd"), lit(0L)).as("cd"))
        .withColumn("nb", sum(col("cb")).over(wSrc))
        .withColumn("nd", sum(col("cd")).over(wSrc))
        .withColumn("pb", (col("cb") + 1.0) / (col("nb") + 16.0))
        .withColumn("pd", (col("cd") + 1.0) / (col("nd") + 16.0))
        .groupBy(col("source"))
        .agg(max(col("nb")).as("n_base"), max(col("nd")).as("n_delta"),
          round(sum((col("pd") - col("pb")) * log(col("pd") / col("pb"))), 6)
            .as("psi"))
        .orderBy(col("source"))
    }),

    // ---- tokenizer RETRAIN trigger: the q198 discipline (monitor the
    //      frozen model's output distribution, not its inputs) applied
    //      to the frozen full-corpus BPE tokenizer — per source, the
    //      trained-merge fertility (q157's currency) on the base slice
    //      vs the delta ingest, and the ratio flag at ±2 % relative
    //      drift. A drifting source (new domain jargon, new language
    //      mix) inflates delta fertility under the frozen merges — the
    //      signal to retrain the tokenizer at the NEXT release, never
    //      mid-release. Cost: the memoized q122 encode + one
    //      source-cardinality pivot ----
    "q220_fertility_trigger" -> ((s, d) => {
      val enc = bpeEncoded(s, d).withColumn("side",
        when(isDeltaDoc(col("doc_id")), lit("delta")).otherwise(lit("base")))
      enc.groupBy(col("source"))
        .agg(sum(when(col("side") === "base", col("n_words"))).as("bw"),
          sum(when(col("side") === "base", col("n_tokens"))).as("bt"),
          sum(when(col("side") === "delta", col("n_words"))).as("dw"),
          sum(when(col("side") === "delta", col("n_tokens"))).as("dt"))
        .select(col("source"),
          round(col("bt").cast("double") / col("bw"), 6)
            .as("base_fertility"),
          round(col("dt").cast("double") / col("dw"), 6)
            .as("delta_fertility"))
        .withColumn("fert_ratio",
          round(col("delta_fertility") / col("base_fertility"), 6))
        // a source with no delta (or no base) slice has no evidence:
        // ratio stays NULL, the flag reads 0, never NULL
        .withColumn("flagged",
          coalesce((abs(col("fert_ratio") - 1.0) > 0.02).cast("long"),
            lit(0L)))
        .select(col("source"), col("base_fertility"),
          col("delta_fertility"), col("fert_ratio"), col("flagged"))
        .orderBy(col("source"))
    }))

  /** q26's n-gram langId rule as oracle CTEs ending in
    * `lg(doc_id, source, n_chars, lang_guess)` — shared by the
    * per-language distribution splits (q163/q164) so the detected-
    * language rule cannot desynchronize from the q26-gated original.
    */
  private lazy val duckLangCtes: String = s"""
       lt AS (SELECT doc_id, source, n_chars, ${duckToks("text")} AS lgtoks
         FROM documents),
       lsc AS (SELECT doc_id, source, n_chars,
         len(list_filter(lgtoks, t -> list_contains(['the','and','of','is','with'], t))) AS en,
         len(list_filter(lgtoks, t -> list_contains(['le','la','les','et','des'], t))) AS fr,
         len(list_filter(lgtoks, t -> list_contains(['der','die','und','ist','von'], t))) AS de,
         len(list_filter(lgtoks, t -> list_contains(['el','los','las','y','es'], t))) AS es
         FROM lt),
       lg AS (SELECT doc_id, source, n_chars,
         CASE WHEN en = greatest(en, fr, de, es) AND en > 0 THEN 'en'
              WHEN fr = greatest(en, fr, de, es) AND fr > 0 THEN 'fr'
              WHEN de = greatest(en, fr, de, es) AND de > 0 THEN 'de'
              WHEN es = greatest(en, fr, de, es) AND es > 0 THEN 'es'
              ELSE 'und' END AS lang_guess
         FROM lsc)"""

  /** Shared q187/q189 oracle CTEs — the DuckDB mirror of
    * [[histBinCounts]] + [[histReport]]: per-source histogram under
    * boundaries from `boundaryPred`'s slice (clamped bins), the
    * merged-count cumulative frame (n recovered from the sketch
    * itself), the integer-rational estimates, and the exact side over
    * ALL documents. Ends with `${px}i(source, p50_hist, p95_hist)`
    * and `${px}x(source, n_docs, p50_exact, p95_exact)`.
    */
  private def histSqlCtes(px: String, boundaryPred: String): String = s"""
         ${px}e AS (SELECT source, MIN(n_chars) AS lo, MAX(n_chars) AS hi
           FROM documents WHERE $boundaryPred GROUP BY source),
         ${px}b AS (SELECT d.source, e.lo, e.hi,
             CASE WHEN e.hi = e.lo THEN 0
               ELSE greatest(
                 least(((d.n_chars - e.lo) * 256) // (e.hi - e.lo), 255), 0)
             END AS bin
           FROM documents d JOIN ${px}e e USING (source)),
         ${px}c AS (SELECT source, lo, hi, bin,
             CAST(COUNT(*) AS BIGINT) AS cnt
           FROM ${px}b GROUP BY source, lo, hi, bin),
         ${px}m AS (SELECT source, lo, hi, bin, cnt,
             SUM(cnt) OVER (PARTITION BY source) AS n,
             COALESCE(SUM(cnt) OVER (PARTITION BY source ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
           FROM ${px}c),
         ${px}h AS (SELECT source, MAX(n) AS hn, MAX(lo) AS lo,
             MAX(hi) AS hi,
             ${Seq(
               ("50f", "(n - 1) // 2"), ("50c", "(n - 1 + 1) // 2"),
               ("95f", "((n - 1) * 19) // 20"),
               ("95c", "((n - 1) * 19 + 19) // 20")).map { case (t, r) =>
                 s"""MAX(CASE WHEN cum_before <= $r AND $r < cum_before + cnt
                     THEN bin END) AS b$t,
                    MAX(CASE WHEN cum_before <= $r AND $r < cum_before + cnt
                     THEN cum_before END) AS m$t,
                    MAX(CASE WHEN cum_before <= $r AND $r < cum_before + cnt
                     THEN cnt END) AS c$t"""
               }.mkString(",")}
           FROM ${px}m GROUP BY source),
         ${px}i AS (SELECT source,
             ${Seq(("50", 1, 2), ("95", 19, 20)).map { case (t, pn, pd) =>
               val rF = s"(((hn - 1) * $pn) // $pd)"
               val rC = s"(((hn - 1) * $pn + ${pd - 1}) // $pd)"
               val m = s"(((hn - 1) * $pn) % $pd)"
               val kF = s"(2 * b${t}f * c${t}f + 2 * ($rF - m${t}f) + 1)"
               val kC = s"(2 * b${t}c * c${t}c + 2 * ($rC - m${t}c) + 1)"
               s"""floor((lo + CAST((hi - lo) * (($pd - $m) * $kF * c${t}c
                  + $m * $kC * c${t}f) AS DOUBLE)
                  / CAST(512 * c${t}f * c${t}c * $pd AS DOUBLE))
                  * 1000000) / 1000000 AS p${t}_hist"""
             }.mkString(",")}
           FROM ${px}h),
         ${px}x AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             round(quantile_cont(n_chars, 0.50), 6) AS p50_exact,
             round(quantile_cont(n_chars, 0.95), 6) AS p95_exact
           FROM documents GROUP BY source)"""

  private lazy val bpeTrainSql: String = {
    val unions = (1 to 5).map { i =>
      s"SELECT CAST($i AS BIGINT) AS merge_iter, a AS left_sym, b AS right_sym, pair_freq FROM t$i"
    }.mkString(" UNION ALL ")
    s"""WITH $bpeTrainCtes
         SELECT * FROM ($unions) ORDER BY merge_iter"""
  }

  private lazy val bpeEncodeSql: String = s"""
         WITH $bpeEncodeCtes
         SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
           CASE WHEN n_words > 0
             THEN round(CAST(coalesce(n_tokens, 0) AS DOUBLE) / n_words, 6)
           END AS fertility
         FROM enc ORDER BY doc_id"""

  /** q126 oracle: the merge-budget sweep — all-word freqs (NO length
    * filter, unlike the trainer's w0), the progressive replace chain
    * r0..r5 via lateral column aliases, per-budget length sums, six
    * rows via UNION ALL.
    */
  private lazy val bpeSweepSql: String = {
    val S = "\u0001"; val SS = S + S
    val repDefs = (1 to 5).map { i =>
      s"""CASE WHEN t$i.a IS NULL THEN r${i - 1}
         ELSE replace(r${i - 1}, '$S' || t$i.a || '$SS' || t$i.b || '$S',
                      '$S' || t$i.a || t$i.b || '$S') END AS r$i"""
        .replaceAll("\\n\\s*", " ")
    }.mkString(",\n         ")
    val lens = (0 to 5).map(k =>
      s"len(list_filter(string_split(r$k, '$SS'), x -> x <> '')) AS l$k")
      .mkString(", ")
    val sums = (0 to 5).map(k => s"SUM(freq * l$k) AS t$k").mkString(", ")
    val rows = (0 to 5).map(k =>
      s"""SELECT CAST($k AS BIGINT) AS n_merges, CAST(t$k AS BIGINT) AS corpus_tokens,
         round(CAST(t$k AS DOUBLE) / n_words, 6) AS tokens_per_word FROM tot"""
        .replaceAll("\\n\\s*", " "))
      .mkString(" UNION ALL ")
    s"""WITH $bpeTrainCtes,
         aw AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
           FROM (SELECT unnest(${duckToks("text")}) AS word FROM documents) u
           GROUP BY 1),
         ch AS (SELECT freq,
             '$SS' || regexp_replace(word, '(.)', '\\1$SS', 'g') AS r0,
             $repDefs
           FROM aw LEFT JOIN t1 ON TRUE LEFT JOIN t2 ON TRUE LEFT JOIN t3 ON TRUE
             LEFT JOIN t4 ON TRUE LEFT JOIN t5 ON TRUE),
         ln AS (SELECT freq, $lens FROM ch),
         tot AS (SELECT SUM(freq) AS n_words, $sums FROM ln)
         SELECT * FROM ($rows) ORDER BY n_merges"""
  }

  /** The q90 window-hash terms: plain polynomial sum over the trailing
    * 8 chars, every term BIGINT (31^7 * max code point ~ 3e16 — exact
    * in int64, NOT in a double, so the powers are inlined as integer
    * literals rather than `31 ** k`).
    */
  private val cdcHashTerms: String = (1 to 8).map { k =>
    s"ascii(substr(txt, i - 8 + $k, 1))::BIGINT * ${math.pow(31, 8 - k).toLong}"
  }.mkString(" + ")

  val oracleSql: Map[String, String] = Map(
    "q93_bpe_merge" -> s"""
         WITH w AS (SELECT unnest(${duckToks("text")}) AS word FROM documents),
         f AS (SELECT word, COUNT(*) AS freq FROM w
           WHERE len(word) >= 2 GROUP BY 1),
         p AS (SELECT substr(word, i, 2) AS pair, freq
           FROM (SELECT word, freq,
               unnest(generate_series(1, len(word) - 1)) AS i FROM f)),
         a AS (SELECT pair, SUM(freq) AS pair_freq FROM p GROUP BY 1),
         r AS (SELECT pair, pair_freq,
             ROW_NUMBER() OVER (ORDER BY pair_freq DESC, pair) AS merge_rank
           FROM a)
         SELECT CAST(merge_rank AS BIGINT) AS merge_rank, pair,
           CAST(pair_freq AS BIGINT) AS pair_freq
         FROM r WHERE merge_rank <= 20 ORDER BY merge_rank""",
    "q96_bpe_train" -> bpeTrainSql,
    "q122_bpe_encode" -> bpeEncodeSql,
    "q126_bpe_merge_sweep" -> bpeSweepSql,
    "q98_boilerplate" -> s"""
         WITH t AS (SELECT doc_id, source, ${duckToks("text")} AS toks FROM documents),
         n AS (SELECT doc_id, source, toks,
             CAST(ceil(len(toks) / 8.0) AS BIGINT) AS n_spans FROM t),
         sp AS (SELECT doc_id, source, i AS span_idx,
             array_to_string(toks[i*8+1 : i*8+8], ' ') AS span
           FROM (SELECT doc_id, source, toks,
               unnest(generate_series(0, n_spans - 1)) AS i
             FROM n WHERE n_spans >= 1)),
         sk AS (SELECT doc_id, source, span_idx, span,
             substr(md5(span), 1, 16) AS key FROM sp),
         st AS (SELECT source, key, COUNT(DISTINCT doc_id) AS n_docs
           FROM sk GROUP BY 1, 2),
         r AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
             string_agg(span, ' ' ORDER BY span_idx) AS clean_text
           FROM sk JOIN st USING (source, key) WHERE st.n_docs < 2
           GROUP BY doc_id)
         SELECT n.doc_id, n.n_spans, COALESCE(r.n_kept, 0) AS n_kept,
           COALESCE(r.clean_text, '') AS clean_text
         FROM n LEFT JOIN r USING (doc_id) ORDER BY n.doc_id""",
    "q99_ccnet_buckets" -> """
         WITH t AS (SELECT doc_id, lower(text) AS txt FROM documents),
         bg AS (SELECT doc_id, substr(txt, i, 1) AS c1, substr(txt, i + 1, 1) AS c2
           FROM t, LATERAL unnest(generate_series(1, len(txt) - 1)) AS u(i)
           WHERE len(txt) >= 2),
         model AS (SELECT c1, c2, count(*) AS cnt FROM bg GROUP BY 1, 2),
         ctx AS (SELECT c1, sum(cnt) AS tot FROM model GROUP BY 1),
         v AS (SELECT count(DISTINCT c2) AS vsize FROM model),
         scored AS (SELECT b.doc_id, round(avg(ln((m.cnt + 1.0) / (x.tot + v.vsize))), 6) AS lm_score
           FROM bg b JOIN model m ON b.c1 = m.c1 AND b.c2 = m.c2
           JOIN ctx x ON b.c1 = x.c1 CROSS JOIN v GROUP BY b.doc_id),
         sl AS (SELECT s.doc_id, d.lang, s.lm_score
           FROM scored s JOIN documents d USING (doc_id)),
         grp AS (SELECT lang, lm_score, COUNT(*) AS cnt FROM sl GROUP BY 1, 2),
         cuts AS (SELECT lang, lm_score,
             COALESCE(SUM(cnt) OVER (PARTITION BY lang ORDER BY lm_score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before,
             SUM(cnt) OVER (PARTITION BY lang) AS n_lang
           FROM grp)
         SELECT sl.doc_id, sl.lang, sl.lm_score,
           CASE WHEN c.cum_before * 3 < c.n_lang THEN 'head'
                WHEN c.cum_before * 3 < c.n_lang * 2 THEN 'middle'
                ELSE 'tail' END AS bucket
         FROM sl JOIN cuts c ON sl.lang = c.lang AND sl.lm_score = c.lm_score
         ORDER BY sl.doc_id""",
    "q100_gopher_rules" -> s"""
         WITH t AS (SELECT doc_id, text, ${duckToks("text")} AS toks,
             ${duckToks("lower(text)")} AS ltoks FROM documents),
         m AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_words,
             round(${duckMeanWordLen("toks")}, 6) AS mean_word_len,
             round(${duckStopRatio("ltoks")}, 6) AS stopword_ratio,
             round(1.0 - CAST(len(list_distinct(ltoks)) AS DOUBLE)
               / CAST(len(ltoks) AS DOUBLE), 6) AS dup_frac
           FROM t)
         SELECT doc_id, n_words, mean_word_len, stopword_ratio, dup_frac,
           CAST(n_words >= 50 AND n_words <= 100000 AS BIGINT) AS r_nwords,
           CAST(mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS BIGINT) AS r_wordlen,
           CAST(stopword_ratio >= 0.02 AS BIGINT) AS r_stop,
           CAST(dup_frac <= 0.9 AS BIGINT) AS r_dup,
           CAST(n_words >= 50 AND n_words <= 100000
             AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
             AND stopword_ratio >= 0.02 AND dup_frac <= 0.9 AS BIGINT) AS keep
         FROM m ORDER BY doc_id""",
    "q90_cdc_chunks" -> s"""
         WITH t AS (SELECT doc_id, text AS txt FROM documents WHERE len(text) > 0),
         pos AS (SELECT doc_id, txt, unnest(generate_series(8, len(txt))) AS i
           FROM t WHERE len(txt) >= 8),
         h AS (SELECT doc_id, i, $cdcHashTerms AS hv FROM pos),
         cuts AS (SELECT doc_id, list(i ORDER BY i) AS cs FROM h
           WHERE hv % 64 = 0 GROUP BY doc_id),
         tc AS (SELECT t.doc_id, t.txt, COALESCE(c.cs, []) AS cs
           FROM t LEFT JOIN cuts c USING (doc_id)),
         parts AS (SELECT doc_id, txt,
             list_prepend(1, list_transform(cs, x -> x + 1)) AS starts,
             list_append(cs, len(txt)) AS ends FROM tc),
         ch AS (SELECT doc_id, unnest(generate_series(1, len(starts))) AS j,
             starts, ends, txt FROM parts)
         SELECT doc_id, CAST(j - 1 AS BIGINT) AS chunk_idx,
           substr(txt, starts[j], ends[j] - starts[j] + 1) AS chunk
         FROM ch WHERE starts[j] <= ends[j]
         ORDER BY doc_id, chunk_idx""",
    "q87_bigram_lm" -> """
         WITH t AS (SELECT doc_id, lower(text) AS txt FROM documents),
         bg AS (SELECT doc_id, substr(txt, i, 1) AS c1, substr(txt, i + 1, 1) AS c2
           FROM t, LATERAL unnest(generate_series(1, len(txt) - 1)) AS u(i)
           WHERE len(txt) >= 2),
         model AS (SELECT c1, c2, count(*) AS cnt FROM bg GROUP BY 1, 2),
         ctx AS (SELECT c1, sum(cnt) AS tot FROM model GROUP BY 1),
         v AS (SELECT count(DISTINCT c2) AS vsize FROM model),
         scored AS (SELECT b.doc_id, ln((m.cnt + 1.0) / (x.tot + v.vsize)) AS lp
           FROM bg b JOIN model m ON b.c1 = m.c1 AND b.c2 = m.c2
           JOIN ctx x ON b.c1 = x.c1 CROSS JOIN v)
         SELECT doc_id, round(avg(lp), 6) AS lm_score,
           count(*) AS n_bigrams
         FROM scored GROUP BY 1 ORDER BY doc_id""",
    "q88_oov_rate" -> s"""
         WITH t AS (SELECT doc_id, unnest(${duckToks("text")}) AS term FROM documents),
         f AS (SELECT term, COUNT(*) AS freq FROM t GROUP BY 1),
         v AS (SELECT term FROM f ORDER BY freq DESC, term LIMIT 20)
         SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           round(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)::DOUBLE
             / COUNT(*), 6) AS oov_rate
         FROM t LEFT JOIN v ON t.term = v.term
         GROUP BY t.doc_id ORDER BY t.doc_id""",
    "q26_langid" -> s"""
         WITH t AS (SELECT doc_id, ${duckToks("text")} AS toks FROM documents),
         sc AS (SELECT doc_id,
           len(list_filter(toks, t -> list_contains(['the','and','of','is','with'], t))) AS en,
           len(list_filter(toks, t -> list_contains(['le','la','les','et','des'], t))) AS fr,
           len(list_filter(toks, t -> list_contains(['der','die','und','ist','von'], t))) AS de,
           len(list_filter(toks, t -> list_contains(['el','los','las','y','es'], t))) AS es
           FROM t)
         SELECT doc_id,
           CASE WHEN en = greatest(en, fr, de, es) AND en > 0 THEN 'en'
                WHEN fr = greatest(en, fr, de, es) AND fr > 0 THEN 'fr'
                WHEN de = greatest(en, fr, de, es) AND de > 0 THEN 'de'
                WHEN es = greatest(en, fr, de, es) AND es > 0 THEN 'es'
                ELSE 'und' END AS lang_guess,
           CAST(en AS BIGINT) AS en_score
         FROM sc ORDER BY doc_id""",
    "q27_quality" -> s"""
         WITH t AS (SELECT doc_id, text, ${duckToks("text")} AS toks,
           len(${duckToks("text")}) AS nw FROM documents)
         SELECT doc_id, CAST(nw AS BIGINT) AS n_words,
           round(CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE)
             / CAST(nw AS DOUBLE), 6) AS mean_word_len,
           round($duckPunctRatio, 6) AS punct_ratio,
           round(${duckStopRatio("toks")}, 6) AS stopword_ratio
         FROM t ORDER BY doc_id""",
    "q28_token_count" -> s"""
         SELECT doc_id, CAST(len(${duckToks("text")}) AS BIGINT) AS n_ws_tokens,
           greatest(CAST(ceil(len(text) / 4) AS BIGINT),
             CAST(len(${duckToks("text")}) AS BIGINT)) AS subword_est
         FROM documents ORDER BY doc_id""",
    "q29_fingerprint" ->
      """SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(generate_series(1, len(text)),
               i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
           (a, b) -> (a * 31 + b) % 1000000007) AS rolling_hash
         FROM documents ORDER BY doc_id""",
    "q30_sessionize" ->
      """WITH g AS (SELECT user_id, event_id, ts,
           epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap
           FROM events),
         f AS (SELECT user_id, event_id, ts,
           CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END AS new_sess
           FROM g),
         s AS (SELECT user_id, ts,
           CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
           FROM f)
         SELECT user_id, session_id, COUNT(*) AS n_events,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end
         FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""",
    "q82_chunk_docs" ->
      """WITH c AS (SELECT doc_id, text,
           unnest(range(0, greatest(len(text), 1), 400)) AS chunk_start
         FROM documents)
         SELECT doc_id, CAST(chunk_start AS BIGINT) AS chunk_start,
           substr(text, CAST(chunk_start + 1 AS INTEGER), 500) AS chunk,
           CAST(len(substr(text, CAST(chunk_start + 1 AS INTEGER), 500)) AS BIGINT) AS n_chars
         FROM c ORDER BY doc_id, chunk_start""",
    "q47_pii_redact" ->
      """WITH raw AS (SELECT doc_id,
           substr(text, 1, 40) || ' contact user' || CAST(doc_id AS VARCHAR)
             || '@mail.example.com or +33 6 '
             || lpad(CAST((doc_id * 7919) % 100000000 AS VARCHAR), 8, '0') AS raw
           FROM documents)
         SELECT doc_id,
           regexp_replace(
             regexp_replace(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
               '<EMAIL>', 'g'),
             '\+[0-9][0-9 ]{6,}[0-9]', '<PHONE>', 'g') AS redacted,
           CAST(len(regexp_extract_all(raw,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(raw,
             '\+[0-9][0-9 ]{6,}[0-9]')) AS BIGINT) AS n_phones
         FROM raw ORDER BY doc_id""",
    "q48_tfidf" -> s"""
         WITH toks AS (SELECT doc_id, unnest(${duckToks("text")}) AS term FROM documents),
         tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
         dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
         sc AS (SELECT doc_id, term,
             round(tf * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 6) AS tfidf
           FROM tf JOIN dfreq USING (term), n),
         r AS (SELECT doc_id, term, tfidf,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
           FROM sc)
         SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tfidf
         FROM r WHERE rank <= 3 ORDER BY doc_id, rank""",
    "q63_vocab" -> s"""
         WITH t AS (SELECT unnest(${duckToks("text")}) AS term FROM documents),
         f AS (SELECT term, COUNT(*) AS freq FROM t GROUP BY 1),
         r AS (SELECT term, freq,
           ROW_NUMBER() OVER (ORDER BY freq DESC, term) AS vocab_id FROM f)
         SELECT CAST(vocab_id AS BIGINT) AS vocab_id, term,
           CAST(freq AS BIGINT) AS freq
         FROM r WHERE vocab_id <= 1000 ORDER BY vocab_id""",
    "q62_dup_text_frac" -> s"""
         WITH w AS (SELECT doc_id, $duckNormWords AS words FROM documents),
         gp AS (${gramPosSql("w")}),
         g AS (SELECT DISTINCT doc_id,
             $duckGramHash AS gh
           FROM gp),
         dupg AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(*) >= 2),
         tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM g GROUP BY doc_id),
         dup AS (SELECT doc_id, COUNT(*) AS n_dup_grams
           FROM g JOIN dupg USING (gh) GROUP BY doc_id)
         SELECT d.doc_id,
           CAST(COALESCE(t.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(COALESCE(p.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
           CASE WHEN COALESCE(t.n_grams, 0) = 0 THEN 0.0 ELSE
             round(CAST(COALESCE(p.n_dup_grams, 0) AS DOUBLE)
               / CAST(t.n_grams AS DOUBLE), 6) END AS dup_frac
         FROM documents d
         LEFT JOIN tot t USING (doc_id) LEFT JOIN dup p USING (doc_id)
         ORDER BY doc_id""",
    "q60_repeated_ngrams" -> s"""
         WITH w AS (SELECT doc_id, $duckNormWords AS words FROM documents),
         g AS (SELECT doc_id,
             list_transform(generate_series(1, len(words) - 1),
               i -> array_to_string(words[i:i+1], ' ')) AS g2,
             list_transform(generate_series(1, len(words) - 2),
               i -> array_to_string(words[i:i+2], ' ')) AS g3
           FROM w),
         m AS (SELECT doc_id,
             CAST(len(g2) AS BIGINT) AS n_2grams,
             CASE WHEN len(g2) = 0 THEN 0.0 ELSE
               round(CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE)
                 / CAST(len(g2) AS DOUBLE), 6) END AS dup2_frac,
             CASE WHEN len(g3) = 0 THEN 0.0 ELSE
               round(CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE)
                 / CAST(len(g3) AS DOUBLE), 6) END AS dup3_frac
           FROM g)
         SELECT doc_id, n_2grams, dup2_frac, dup3_frac,
           CAST(CASE WHEN dup2_frac > 0.2 THEN 1 ELSE 0 END AS BIGINT)
             AS is_repetitive
         FROM m ORDER BY doc_id""",
    "q31_multimodal" ->
      """WITH m AS (SELECT doc_id, octet_length(encode(text)) AS n_bytes FROM documents),
         d AS (SELECT doc_id, n_bytes,
           CAST(32 + n_bytes % 224 AS BIGINT) AS width,
           CAST(32 + (n_bytes * 7) % 224 AS BIGINT) AS height,
           CAST(1 + n_bytes % 16 AS BIGINT) AS n_frames
           FROM m)
         SELECT doc_id, CAST(n_bytes AS BIGINT) AS n_bytes, width, height, n_frames,
           array_to_string(list_transform(generate_series(0, n_frames - 1),
             i -> i * (n_bytes // n_frames)), ',') AS frame_offsets
         FROM d ORDER BY doc_id""",
    "q108_quality_classifier" -> s"""
         WITH $duckQualityCtes
         SELECT doc_id, quality_score,
           CASE WHEN quality_score >= 0.5 THEN 1 ELSE 0 END AS keep
         FROM sc ORDER BY doc_id""",
    "q110_source_coverage" ->
      """WITH s AS (SELECT source, COUNT(*) AS n_docs, SUM(n_chars) AS n_chars
           FROM documents GROUP BY 1),
         c AS (SELECT source, n_docs, n_chars,
             SUM(n_docs) OVER () AS total,
             SUM(n_docs) OVER (ORDER BY n_docs DESC, source) AS cum
           FROM s)
         SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_chars AS BIGINT) AS n_chars,
           round(CAST(n_docs AS DOUBLE) / total, 6) AS share,
           round(CAST(cum AS DOUBLE) / total, 6) AS cum_share,
           CASE WHEN round(CAST(cum - n_docs AS DOUBLE) / total, 6) < 0.9
             THEN 1 ELSE 0 END AS in_head90
         FROM c ORDER BY source""",
    "q116_classifier_auc" -> s"""
         WITH t AS (SELECT doc_id, text, ${duckToks("text")} AS toks,
             ${duckToks("lower(text)")} AS ltoks FROM documents),
         f AS (SELECT doc_id,
             CAST(len(toks) AS DOUBLE) AS n_words,
             CAST(len(toks) AS BIGINT) AS n_words_l,
             ${duckMeanWordLen("toks")} AS mwl,
             $duckPunctRatio AS punct,
             ${duckStopRatio("toks")} AS stop,
             round(1.0 - CAST(len(list_distinct(ltoks)) AS DOUBLE)
               / CAST(len(ltoks) AS DOUBLE), 6) AS dup_frac
           FROM t),
         scored AS (SELECT
             round(1.0 / (1.0 + exp(-(0.5 + 4.0 * stop - 6.0 * punct
               - 0.4 * abs(mwl - 5.0) + 0.15 * ln(1.0 + n_words)))), 6) AS score,
             CAST(n_words_l >= 50 AND n_words_l <= 100000
               AND round(mwl, 6) >= 3.0 AND round(mwl, 6) <= 10.0
               AND round(stop, 6) >= 0.02 AND dup_frac <= 0.9 AS BIGINT) AS label
           FROM f),
         gs AS (SELECT score, COUNT(*) AS n, SUM(label) AS n_pos
           FROM scored GROUP BY 1),
         r AS (SELECT score, n, n_pos,
             COALESCE(SUM(n) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
           FROM gs)
         SELECT CAST(SUM(n_pos) AS BIGINT) AS n_pos,
           CAST(SUM(n - n_pos) AS BIGINT) AS n_neg,
           round((SUM(CAST(n_pos AS DOUBLE) * (cumb + (n + 1.0) / 2.0))
             - CAST(SUM(n_pos) AS DOUBLE) * (CAST(SUM(n_pos) AS DOUBLE) + 1.0) / 2.0)
             / NULLIF(CAST(SUM(n_pos) AS DOUBLE) * CAST(SUM(n - n_pos) AS DOUBLE), 0),
             6) AS auc
         FROM r""",
    "q145_vocab_drift" -> s"""
         WITH t AS (SELECT doc_id, unnest(${duckToks("text")}) AS term
           FROM documents),
         sd AS (SELECT doc_id,
             CASE WHEN ${duckDelta("doc_id")} THEN 'delta' ELSE 'base' END AS side
           FROM documents),
         f AS (SELECT term, COUNT(*) AS freq FROM t JOIN sd USING (doc_id)
           WHERE sd.side = 'base' GROUP BY 1),
         v AS (SELECT term FROM f ORDER BY freq DESC, term LIMIT 20)
         SELECT sd.side, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           round(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)::DOUBLE
             / COUNT(*), 6) AS oov_rate
         FROM t JOIN sd USING (doc_id) LEFT JOIN v ON t.term = v.term
         GROUP BY sd.side ORDER BY sd.side""",
    "q151_classifier_calibration" -> s"""
         WITH t AS (SELECT doc_id, text, ${duckToks("text")} AS toks,
             ${duckToks("lower(text)")} AS ltoks FROM documents),
         f AS (SELECT doc_id,
             CAST(len(toks) AS DOUBLE) AS n_words,
             CAST(len(toks) AS BIGINT) AS n_words_l,
             ${duckMeanWordLen("toks")} AS mwl,
             $duckPunctRatio AS punct,
             ${duckStopRatio("toks")} AS stop,
             round(1.0 - CAST(len(list_distinct(ltoks)) AS DOUBLE)
               / CAST(len(ltoks) AS DOUBLE), 6) AS dup_frac
           FROM t),
         scored AS (SELECT
             round(1.0 / (1.0 + exp(-(0.5 + 4.0 * stop - 6.0 * punct
               - 0.4 * abs(mwl - 5.0) + 0.15 * ln(1.0 + n_words)))), 6) AS score,
             CAST(n_words_l >= 50 AND n_words_l <= 100000
               AND round(mwl, 6) >= 3.0 AND round(mwl, 6) <= 10.0
               AND round(stop, 6) >= 0.02 AND dup_frac <= 0.9 AS BIGINT) AS label
           FROM f),
         b AS (SELECT least(CAST(floor(score * 10) AS BIGINT), 9) AS bin,
             score, label FROM scored),
         g AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
             round(AVG(score), 6) AS mean_score,
             round(AVG(CAST(label AS DOUBLE)), 6) AS pos_rate
           FROM b GROUP BY 1)
         SELECT bin, n, mean_score, pos_rate,
           round(abs(mean_score - pos_rate), 6) AS gap
         FROM g ORDER BY bin""",
    "q153_corpus_quantiles" -> """
         SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           round(quantile_cont(n_chars, 0.25), 6) AS p25,
           round(quantile_cont(n_chars, 0.50), 6) AS p50,
           round(quantile_cont(n_chars, 0.75), 6) AS p75,
           round(quantile_cont(n_chars, 0.95), 6) AS p95
         FROM documents GROUP BY source ORDER BY source""",
    "q157_source_fertility" -> s"""
         WITH $bpeEncodeCtes,
         g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_words) AS BIGINT) AS n_words,
             CAST(SUM(coalesce(n_tokens, 0)) AS BIGINT) AS n_tokens
           FROM enc GROUP BY 1),
         t AS (SELECT SUM(n_tokens) AS tot FROM g)
         SELECT source, n_docs, n_words, n_tokens,
           round(CAST(n_tokens AS DOUBLE) / n_words, 6) AS fertility,
           round(CAST(n_tokens AS DOUBLE) / tot, 6) AS token_share
         FROM g CROSS JOIN t ORDER BY source""",
    "q159_length_trim" -> """
         WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             round(quantile_cont(n_chars, 0.05), 6) AS lo_cut,
             round(quantile_cont(n_chars, 0.95), 6) AS hi_cut
           FROM documents GROUP BY 1)
         SELECT d.source, c.n_docs,
           CAST(SUM(CASE WHEN d.n_chars >= c.lo_cut AND d.n_chars <= c.hi_cut
             THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           round(SUM(CASE WHEN d.n_chars >= c.lo_cut AND d.n_chars <= c.hi_cut
             THEN 1 ELSE 0 END)::DOUBLE / c.n_docs, 6) AS keep_frac,
           c.lo_cut, c.hi_cut
         FROM documents d JOIN c USING (source)
         GROUP BY d.source, c.n_docs, c.lo_cut, c.hi_cut
         ORDER BY d.source""",
    // histogram sketch: integer-exact bin ids, uniform-within-bin
    // estimate at the R-7 rank, exact quantiles via quantile_cont
    "q187_hist_quantiles" -> s"""
         WITH ${histSqlCtes("hq", "TRUE")}
         SELECT x.source, x.n_docs, x.p50_exact, h.p50_hist,
           floor(abs(x.p50_exact - h.p50_hist) * 1000000) / 1000000
             AS p50_err,
           x.p95_exact, h.p95_hist,
           floor(abs(x.p95_exact - h.p95_hist) * 1000000) / 1000000
             AS p95_err
         FROM hqx x JOIN hqi h USING (source) ORDER BY x.source""",
    // streaming histogram: the merged sketch must land the identical
    // report a full rebuild under the base-slice boundaries lands —
    // same CTE builder as q187, boundary slice = base docs
    "q189_stream_histogram" -> s"""
         WITH ${histSqlCtes("sh",
           duckBase("doc_id"))}
         SELECT x.source, x.n_docs, x.p50_exact, h.p50_hist,
           floor(abs(x.p50_exact - h.p50_hist) * 1000000) / 1000000
             AS p50_err,
           x.p95_exact, h.p95_hist,
           floor(abs(x.p95_exact - h.p95_hist) * 1000000) / 1000000
             AS p95_err
         FROM shx x JOIN shi h USING (source) ORDER BY x.source""",
    // PSI drift: 16-bin base-boundary histograms on both slices,
    // add-1-smoothed shares, sum of (pd - pb) * ln(pd / pb)
    "q191_psi_drift" -> s"""
         WITH pbd AS (SELECT source, MIN(n_chars) AS lo, MAX(n_chars) AS hi
           FROM documents
           WHERE ${duckBase("doc_id")}
           GROUP BY source),
         pbin AS (SELECT d.source,
             CASE WHEN ${duckDelta("d.doc_id")} THEN 'delta' ELSE 'base' END AS side,
             CASE WHEN e.hi = e.lo THEN 0
               ELSE greatest(
                 least(((d.n_chars - e.lo) * 16) // (e.hi - e.lo), 15), 0)
             END AS bin
           FROM documents d JOIN pbd e USING (source)),
         pcnt AS (SELECT source, side, bin, CAST(COUNT(*) AS BIGINT) AS cnt
           FROM pbin GROUP BY 1, 2, 3),
         pspine AS (SELECT source, unnest(generate_series(0, 15)) AS bin
           FROM (SELECT DISTINCT source FROM documents)),
         pj AS (SELECT s.source, s.bin,
             COALESCE(b.cnt, 0) AS cb, COALESCE(d.cnt, 0) AS cd
           FROM pspine s
           LEFT JOIN pcnt b ON b.source = s.source AND b.bin = s.bin
             AND b.side = 'base'
           LEFT JOIN pcnt d ON d.source = s.source AND d.bin = s.bin
             AND d.side = 'delta'),
         pn AS (SELECT source, bin, cb, cd,
             SUM(cb) OVER (PARTITION BY source) AS nb,
             SUM(cd) OVER (PARTITION BY source) AS nd
           FROM pj)
         SELECT source, CAST(MAX(nb) AS BIGINT) AS n_base,
           CAST(MAX(nd) AS BIGINT) AS n_delta,
           round(SUM(((cd + 1.0) / (nd + 16.0) - (cb + 1.0) / (nb + 16.0))
             * ln(((cd + 1.0) / (nd + 16.0)) / ((cb + 1.0) / (nb + 16.0)))),
             6) AS psi
         FROM pn GROUP BY source ORDER BY source""",
    "q163_lang_quantiles" -> s"""
         WITH $duckLangCtes
         SELECT source, lang_guess, CAST(COUNT(*) AS BIGINT) AS n_docs,
           round(quantile_cont(n_chars, 0.25), 6) AS p25,
           round(quantile_cont(n_chars, 0.50), 6) AS p50,
           round(quantile_cont(n_chars, 0.75), 6) AS p75,
           round(quantile_cont(n_chars, 0.95), 6) AS p95
         FROM lg GROUP BY 1, 2 ORDER BY 1, 2""",
    "q164_lang_fertility" -> s"""
         WITH $bpeEncodeCtes,
         $duckLangCtes,
         lgg AS (SELECT e.source, lg.lang_guess,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(e.n_words) AS BIGINT) AS n_words,
             CAST(SUM(coalesce(e.n_tokens, 0)) AS BIGINT) AS n_tokens
           FROM enc e JOIN lg ON lg.doc_id = e.doc_id GROUP BY 1, 2),
         ttot AS (SELECT SUM(n_tokens) AS tot FROM lgg)
         SELECT source, lang_guess, n_docs, n_words, n_tokens,
           round(CAST(n_tokens AS DOUBLE) / n_words, 6) AS fertility,
           round(CAST(n_tokens AS DOUBLE) / tot, 6) AS token_share
         FROM lgg CROSS JOIN ttot ORDER BY source, lang_guess""",
    "q166_token_temperature" -> s"""
         WITH $bpeEncodeCtes,
         dl AS (SELECT d.doc_id, d.lang, coalesce(e.n_tokens, 0) AS n_tokens
           FROM documents d JOIN enc e ON e.doc_id = d.doc_id),
         n AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS tk FROM dl GROUP BY 1),
         t AS (SELECT SUM(tk) AS tot, SUM(pow(tk, 0.7)) AS z07 FROM n),
         p AS (SELECT lang, n_docs, tk,
             pow(tk, 0.7) / z07 * tot / 2.0 AS want FROM n CROSS JOIN t),
         pl AS (SELECT lang, n_docs, tk, want,
             round(least(1.0, want / tk), 6) AS sample_frac,
             CAST(ceil(round(want / tk, 6)) AS BIGINT) AS epochs FROM p),
         uu AS (SELECT doc_id, lang, n_tokens,
             round(CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)
               AS BIGINT) AS DOUBLE) / 16777215.0, 6) AS u FROM dl),
         k AS (SELECT uu.lang,
             CAST(SUM(CASE WHEN u < sample_frac THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
             CAST(SUM(CASE WHEN u < sample_frac THEN uu.n_tokens ELSE 0 END)
               AS BIGINT) AS kept_tokens
           FROM uu JOIN pl ON uu.lang = pl.lang GROUP BY 1)
         SELECT pl.lang, pl.n_docs, pl.tk AS n_tokens,
           round(want, 6) AS target_tokens, sample_frac, epochs,
           n_kept, kept_tokens
         FROM pl JOIN k ON pl.lang = k.lang ORDER BY pl.lang""",
    // the shared trained-merge encode CTEs split by the md5 ingest
    // rule, pivoted per source, ratio of the ROUNDED fertilities
    "q220_fertility_trigger" -> s"""
         WITH $bpeEncodeCtes,
         fsd AS (SELECT source, n_words, COALESCE(n_tokens, 0) AS n_tokens,
             CASE WHEN ${duckDelta("doc_id")} THEN 'delta' ELSE 'base' END AS side
           FROM enc),
         fpv AS (SELECT source,
             SUM(CASE WHEN side = 'base' THEN n_words END) AS bw,
             SUM(CASE WHEN side = 'base' THEN n_tokens END) AS bt,
             SUM(CASE WHEN side = 'delta' THEN n_words END) AS dw,
             SUM(CASE WHEN side = 'delta' THEN n_tokens END) AS dt
           FROM fsd GROUP BY 1),
         fr AS (SELECT source,
             round(CAST(bt AS DOUBLE) / bw, 6) AS base_fertility,
             round(CAST(dt AS DOUBLE) / dw, 6) AS delta_fertility
           FROM fpv)
         SELECT source, base_fertility, delta_fertility,
           round(delta_fertility / base_fertility, 6) AS fert_ratio,
           CAST(COALESCE(
             abs(round(delta_fertility / base_fertility, 6) - 1.0) > 0.02,
             FALSE) AS BIGINT) AS flagged
         FROM fr ORDER BY source""")
}
