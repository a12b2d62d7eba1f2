package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.TextOps

/** Text analysis for training-data curation: token counting, quality
  * scoring, language-ID heuristics, document fingerprinting. All pure
  * Column algebra (codegen'd, map-side only — embarrassingly parallel at
  * any scale; zero shuffles).
  */
object TextAnalysis {

  val Stopwords = Seq("the", "a", "of", "and", "to", "in", "is")

  /** Whitespace + BPE-ish token counts per document. The "BPE-ish" regex
    * splits letter runs, digit runs, and single punctuation marks — a
    * deterministic stand-in for a real tokenizer's pre-tokenization.
    */
  def tokenStats(docs: DataFrame): DataFrame = {
    // Both counts come from the one-pass TextKernel natives: the regex
    // alternation scan was ~2/3 of q45's wall at the 100× corpus. The
    // whitespace-token count is lowering-invariant (no case mapping
    // produces or removes whitespace), so the shared feature struct's
    // n_words is exactly size(split(trim(text), "\s+")).
    docs.select(col("doc_id"),
      graft.functions.NativeTextOps.textFeatures(col("text"))
        .getField("n_words").as("n_ws_tokens"),
      graft.functions.NativeTextOps.bpeCount(col("text")).as("n_bpe_tokens"))
  }

  /** Appends the quality feature columns, keeping the input's (so
    * pipelines can chain more per-row stages without a join — see
    * [[curate]]).
    */
  def withQualityFeatures(docs: DataFrame): DataFrame = {
    // All five counts come from ONE TextKernel scan (the declarative
    // form was a regex split + a regexp_replace + three interpreted
    // HOF passes per row — the top of the sf10 board). Identical
    // columns/types; equivalence is property-pinned in TextKernelSpec.
    val tf = graft.functions.NativeTextOps.textFeatures(col("text"))
    docs
      .withColumn("n_chars_m", tf.getField("n_chars"))
      .withColumn("n_words", tf.getField("n_words"))
      .withColumn("n_punct", tf.getField("n_punct"))
      .withColumn("n_stop", tf.getField("n_stop"))
      .withColumn("sum_word_len", tf.getField("sum_word_len"))
      // TOTAL ratios: an empty document divides 0/0, which Spark renders
      // NULL but DuckDB (IEEE) renders NaN — NULL scores would silently
      // fall out of percentile sketches and windows while NaN sorts last,
      // so the two engines would disagree on every downstream rank. Zero
      // denominators are pinned to 0.0 (an empty doc scores the floor),
      // mirrored in every oracle via CASE WHEN.
      .withColumn("punct_ratio",
        when(col("n_chars_m") > 0, col("n_punct").cast(DoubleType) / col("n_chars_m"))
          .otherwise(0.0))
      .withColumn("stop_ratio",
        when(col("n_words") > 0, col("n_stop").cast(DoubleType) / col("n_words"))
          .otherwise(0.0))
      .withColumn("avg_word_len",
        when(col("n_words") > 0, col("sum_word_len").cast(DoubleType) / col("n_words"))
          .otherwise(0.0))
      .withColumn("quality_score",
        col("stop_ratio") * 0.4 +
          when(col("n_words").between(50, 200), 1.0).otherwise(0.0) * 0.3 +
          (lit(1.0) - col("punct_ratio")) * 0.3)
  }

  /** Quality features + a composite score. All ratios are single double
    * divisions of exact integers (engine-reproducible).
    */
  def qualityScore(docs: DataFrame): DataFrame =
    withQualityFeatures(docs)
      .select("doc_id", "n_chars_m", "n_words", "n_punct", "n_stop",
        "punct_ratio", "stop_ratio", "avg_word_len", "quality_score")

  /** Gopher quality rules (Rae et al. 2021, App. A "quality filtering"
    * — the published heuristic gate most large text pipelines start
    * from), in the board's INTEGER-EXACT form: every ratio threshold is
    * a cross-multiplied integer comparison (10·n_sym ≤ n_words instead
    * of n_sym/n_words ≤ 0.1), so the verdict table hash-matches the
    * oracle with no float anywhere. Line-grain rules are adapted to
    * word grain (the fixture corpus is single-line); the thresholds:
    *   wordcount   50 ≤ n_words ≤ 100 000
    *   meanlen     3 ≤ char_mass/n_words ≤ 10
    *   alpha       ≥ 80% of words contain an ASCII letter
    *   stopwords   ≥ 2 distinct members of the 8-word required list
    *   ellipsis    ≤ 10% of words end in "..."
    *   symbol      ≤ 10% of words contain '#'
    * keep = all six. Pure map-side column algebra — one scan, no
    * shuffle beyond the caller's sort.
    */
  def gopherRules(docs: DataFrame): DataFrame = {
    val ws = TextOps.words(col("text"))
    val stops = array(Seq("the", "be", "to", "of", "and", "that", "have", "with").map(lit): _*)
    val flags = Seq("r_wordcount", "r_meanlen", "r_alpha", "r_stop", "r_ellipsis", "r_symbol")
    docs
      .withColumn("n_words", size(ws).cast(LongType))
      .withColumn("char_mass",
        aggregate(transform(ws, w => length(w).cast(LongType)), lit(0L), (a, x) => a + x))
      .withColumn("n_alpha",
        size(filter(ws, w => w.rlike("[a-zA-Z]"))).cast(LongType))
      .withColumn("n_stop_kinds",
        size(array_intersect(array_distinct(ws), stops)).cast(LongType))
      .withColumn("n_ellipsis",
        size(filter(ws, w => w.endsWith("..."))).cast(LongType))
      .withColumn("n_symbol",
        size(filter(ws, w => w.contains("#"))).cast(LongType))
      .withColumn("r_wordcount",
        (col("n_words") >= 50 && col("n_words") <= 100000).cast(IntegerType))
      .withColumn("r_meanlen",
        (col("char_mass") >= col("n_words") * 3 &&
          col("char_mass") <= col("n_words") * 10).cast(IntegerType))
      .withColumn("r_alpha", (col("n_alpha") * 5 >= col("n_words") * 4).cast(IntegerType))
      .withColumn("r_stop", (col("n_stop_kinds") >= 2).cast(IntegerType))
      .withColumn("r_ellipsis", (col("n_ellipsis") * 10 <= col("n_words")).cast(IntegerType))
      .withColumn("r_symbol", (col("n_symbol") * 10 <= col("n_words")).cast(IntegerType))
      .withColumn("keep", flags.map(col).reduce(_ * _))
      .select(Seq("doc_id", "n_words", "char_mass", "n_alpha", "n_stop_kinds",
        "n_ellipsis", "n_symbol").map(col) ++ flags.map(col) :+ col("keep"): _*)
  }

  /** Heuristic language ID: CJK codepoints ⇒ zh; else English stopword
    * density ⇒ en / unknown. (The fixture corpus is synthetic English-like
    * text with random `lang` labels, so accuracy is meaningless — the
    * operator shape and determinism are what is exercised.)
    */
  /** Appends `predicted_lang` (+ `en_score`) to the input — chainable. */
  def withLangId(docs: DataFrame): DataFrame = {
    // n_words/n_en/has_cjk from the same one-pass TextKernel struct the
    // quality gate uses — when chained (curate/curationFunnel), codegen
    // subexpression elimination evaluates the kernel once per row.
    val tf = graft.functions.NativeTextOps.textFeatures(col("text"))
    docs
      .withColumn("n_words", tf.getField("n_words"))
      .withColumn("n_en", tf.getField("n_en"))
      // total for wordless docs (same NULL-vs-NaN hazard as the quality ratios)
      .withColumn("en_score",
        when(col("n_words") > 0, col("n_en").cast(DoubleType) / col("n_words"))
          .otherwise(0.0))
      .withColumn("predicted_lang",
        when(tf.getField("has_cjk"), "zh")
          .when(col("en_score") >= 0.03, "en")
          .otherwise("unknown"))
  }

  def langId(docs: DataFrame): DataFrame =
    withLangId(docs)
      .withColumn("label_match", (col("predicted_lang") === col("lang")).cast(IntegerType))
      .select("doc_id", "lang", "predicted_lang", "en_score", "label_match")

  /** TF-IDF term scoring with a LOG-FREE idf, (N+1)/(df+1): a log's last
    * bits are libm-specific (JVM Math.log vs DuckDB's), while the plain
    * ratio is one exact division — cross-engine exact, and for a fixed tf
    * the ranking is identical (log is monotone in the ratio). Top-k terms
    * per document by (score, term).
    *
    * Shuffle shape at scale: one shuffle to (doc, term) counts, one to the
    * term dim (df), a keyed join back, and the per-doc window — the
    * document-frequency table is the only global state and it's
    * term-keyed, so 1000 executors shard it naturally.
    */
  def tfidfTopK(docs: DataFrame, k: Int): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(TextOps.words(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // df as a window count over the single tf stream — the r4 shape joined
    // tf against tf.groupBy(term), tokenizing and term-shuffling the corpus
    // twice. One term-keyed exchange replaces the self-join; no persist.
    val wTerm = org.apache.spark.sql.expressions.Window.partitionBy("term")
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .withColumn("df", count(lit(1)).over(wTerm))
      .crossJoin(broadcast(n))
      .withColumn("score",
        col("tf").cast(DoubleType) *
          ((col("n_docs").cast(DoubleType) + 1.0) / (col("df").cast(DoubleType) + 1.0)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select("doc_id", "term", "tf", "df", "score", "rk")
  }

  /** Repetition signals (the Gopher-style quality filters): duplicate-word
    * fraction and most-frequent-bigram fraction. High values flag the
    * boilerplate/spam documents a training pipeline drops. Two keyed
    * aggregations per signal, no global state.
    */
  def repetition(docs: DataFrame): DataFrame = {
    // Measured note (r5): a single-tokenize rewrite (posexplode + lead
    // window for the bigrams, shared doc_id exchange) was built and timed
    // at 1.31 s vs this shape's 0.90 s at sf0.1 — Catalyst prunes the
    // unused window from the word-stats branch (so tokenization still ran
    // twice) and the per-doc sort the lead window needs costs more than
    // the tokenize it was meant to save. The two-scan diamond below is the
    // cheaper plan; both passes are keyed shuffles that shard at scale.
    val words = docs
      .select(col("doc_id"), explode(TextOps.words(col("text"))).as("w"))
    val wordStats = words.groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), countDistinct(col("w")).as("n_distinct"))
      .withColumn("dup_word_ratio",
        lit(1.0) - col("n_distinct").cast(DoubleType) / col("n_words"))
    val bigramCounts = docs
      .withColumn("ws", TextOps.words(col("text")))
      .select(col("doc_id"), explode(TextOps.bigrams("ws")).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
    val bigramStats = bigramCounts.groupBy("doc_id")
      .agg(max(col("c")).as("top_bigram"), sum(col("c")).as("n_bigrams"))
      .withColumn("top_bigram_frac",
        col("top_bigram").cast(DoubleType) / col("n_bigrams"))
    wordStats.join(bigramStats, Seq("doc_id"))
      .select("doc_id", "n_words", "n_distinct", "dup_word_ratio",
        "top_bigram", "n_bigrams", "top_bigram_frac")
  }

  /** The end-to-end curation pipeline a training corpus runs: quality
    * gate → language filter → near-exact dedup, composed as ONE DataFrame
    * chain. The per-row feature stages fuse into a single codegen'd pass
    * over the scan (no joins between stages), the gates run BEFORE the
    * dedup so only survivors shuffle, and the dedup's fingerprint window
    * is the pipeline's single exchange.
    */
  def curate(docs: DataFrame, minQuality: Double, keepLang: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("fp")
    withLangId(withQualityFeatures(docs))
      .filter(col("quality_score") >= minQuality &&
        col("predicted_lang") === keepLang)
      .withColumn("fp", md5(TextOps.normalized(col("text"))))
      .withColumn("canonical_id", min(col("doc_id")).over(w))
      .filter(col("doc_id") === col("canonical_id"))
      .select("doc_id", "lang", "n_words", "quality_score")
  }

  /** Robots-style URL prefix filtering: drop documents whose URL path
    * starts with any disallowed prefix. The rule set is broadcast (a
    * robots/blockrule dim is tiny next to the corpus) and the prefix
    * match is a non-equi semi-join against it — deliberately a
    * broadcast nested-loop of |corpus| × |rules| string prefix tests,
    * which is the right shape while rules stay in the thousands; a
    * million-rule set would trade up to a trie/longest-prefix dim.
    * Output: the surviving documents with their normalized paths.
    */
  def robotsFilter(urls: DataFrame, disallow: DataFrame): DataFrame = {
    val withPath = urls.withColumn("path",
      regexp_replace(regexp_replace(col("url"), "[?#].*$", ""), "^https?://[^/]*", ""))
    withPath
      .join(broadcast(disallow), col("path").startsWith(col("prefix")), "left_anti")
      .select("doc_id", "path")
  }

  /** Stage-by-stage survival counts of the [[curate]] pipeline — the
    * funnel report a production curation run publishes beside its
    * output. ONE fused projection computes every per-doc verdict (the
    * same flags curate filters on), the fingerprint window marks the
    * canonical survivor among quality+lang passers (min doc_id, exactly
    * curate's dedup), and a single global aggregation counts the
    * cumulative funnel; stages emit as rows so adding a stage never
    * changes the schema.
    */
  def curationFunnel(docs: DataFrame, minQuality: Double, keepLang: String): DataFrame = {
    val flags = withLangId(withQualityFeatures(docs))
      .withColumn("pass_q", col("quality_score") >= minQuality)
      .withColumn("pass_l", col("pass_q") && col("predicted_lang") === keepLang)
      .withColumn("fp", md5(TextOps.normalized(col("text"))))
    // The dedup stage only needs COUNTS, so the canonical-survivor
    // window the per-doc operators use (curate) is overkill here: per
    // fingerprint, exactly one doc is "pass_l AND the canonical min" iff
    // ANY member passes language — sum(pass_d) == count of fps with any
    // pass_l member. A slim fp-grain aggregation says the same thing
    // with a map-side-combined exchange of (fp, 3 longs) instead of a
    // corpus-grain window sort that carried text + every feature column
    // (~2 KB/row at the 100× corpus) through the shuffle.
    val perFp = flags.select(col("pass_q"), col("pass_l"), col("fp"))
      .groupBy("fp").agg(
        count(lit(1)).as("n"),
        sum(when(col("pass_q"), 1L).otherwise(0L)).as("nq"),
        sum(when(col("pass_l"), 1L).otherwise(0L)).as("nl"))
    val agg = perFp.agg(
      sum(col("n")).as("total"),
      sum(col("nq")).as("s_q"),
      sum(col("nl")).as("s_l"),
      sum(when(col("nl") > 0L, 1L).otherwise(0L)).as("s_d"))
    agg.select(explode(array(
      struct(lit("1_total").as("stage"), col("total").as("docs_in"), col("total").as("docs_out")),
      struct(lit("2_quality").as("stage"), col("total").as("docs_in"), col("s_q").as("docs_out")),
      struct(lit("3_language").as("stage"), col("s_q").as("docs_in"), col("s_l").as("docs_out")),
      struct(lit("4_exact_dedup").as("stage"), col("s_l").as("docs_in"), col("s_d").as("docs_out"))))
      .as("st"))
      .select(col("st.stage").as("stage"), col("st.docs_in").as("docs_in"),
        col("st.docs_out").as("docs_out"),
        (col("st.docs_in") - col("st.docs_out")).as("dropped"))
  }

  /** Cross-document duplicated-SPAN removal — the exact-substring dedup
    * step of modern training pipelines (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better"): any word 3-gram
    * appearing in ≥ `minDocs` distinct documents is boilerplate, and
    * every token it covers is cut from every document, preserving the
    * order of what survives. Distinct from doc-level dedup (q30/q73 keep
    * one COPY; this removes the repeated SPAN everywhere) and from
    * contamination (which only flags).
    *
    * Shuffle shape at scale: shingles partial-aggregate to a
    * shingle-keyed frequency dim (the only global state — sharded like
    * contamination's train dim, never broadcast by force), covered
    * positions come from one shingle-keyed join + a 3-way position
    * explode, and the surviving tokens re-assemble per document with one
    * doc-keyed aggregation. Everything is integer/string arithmetic —
    * engine-exact, no tolerance needed.
    */
  /** Corpus-calibrated span document-frequency threshold for
    * [[dropFrequentSpans]]/[[repeatedIntervals]] — the r12 verdict's one
    * superlinear board member (q83: 11.2×/decade at sf100) and the same
    * defect class the LSH geometry (r9), shingle df-cap (r10) and block
    * width cap (r10) calibrations already closed: a FIXED ≥k at a growing
    * corpus changes meaning every decade. "Appears in ≥5 of 5k documents"
    * is 0.1%-of-corpus boilerplate; at 5M documents the same k=5 tags
    * noise-grade shingles as boilerplate, and the covered-position output
    * (df mass over the threshold) grows superlinearly. Public span-dedup
    * practice scales the threshold with corpus size (Lee et al.'s dup
    * criterion is corpus-relative); here k stays the CALLER'S k below
    * `floorDocs` (20k — 4× the largest test SF's 5k docs, so every pinned
    * oracle hash is unchanged by construction) and above it holds the
    * FRACTION k/floorDocs constant: k_eff = ⌈k·n/floor⌉ (125 at 500k
    * docs, 1250 at 5M for k=5). `calibrate = false` restores fixed-k.
    */
  def calibrateSpanMinDocs(nDocs: Long, minDocs: Long, floorDocs: Long = 20000L): Long =
    if (nDocs <= floorDocs) minDocs
    else math.ceil(minDocs.toDouble * nDocs.toDouble / floorDocs.toDouble).toLong

  def dropFrequentSpans(docs: DataFrame, minDocs: Long,
                        calibrate: Boolean = true): DataFrame = {
    val k = if (calibrate) calibrateSpanMinDocs(docs.count(), minDocs) else minDocs
    val withWs = docs.withColumn("ws", TextOps.words(col("text")))
    // sh feeds BOTH the document-frequency aggregation and the coverage
    // join — persisted so tokenize+shingle+posexplode runs once, not
    // twice (the Dedup.containmentPairs / SequencePack idiom)
    // Shingles travel as xxhash64 images (the q86 containment grain):
    // no shingle string reaches the output, so the df exchange and the
    // coverage join carry (doc_id, 8-byte long) instead of ~30-byte
    // strings. A collision (≈2⁻⁶⁴/pair) could merge two shingles' df;
    // the oracle computes df on STRINGS and hash-matches, pinning zero
    // collisions on the test corpora. The hashes come from the one-pass
    // TextKernel native (bit-identical to xxhash64 of the materialized
    // shingle string — TextKernelSpec), so no shingle string or word
    // array is ever built on this branch.
    val sh = docs.select(col("doc_id"),
      posexplode(graft.functions.NativeTextOps.shingleHashes(col("text")))
        .as(Seq("sp0", "shingle")))
      .select(col("doc_id"), (col("sp0") + 1).as("sp"), col("shingle"))
      .persist()
    val frequent = sh.groupBy("shingle")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= k)
      .select("shingle")
    // Round 16 (guide §2.3/§2.4, the q109 rewrite's sibling): the cut
    // set used to travel at TOKEN grain — a 3×-exploded covered-position
    // distinct exchange, a (doc_id, pos) anti-join that re-exchanged
    // every token, and a doc-keyed re-aggregation of the kept tokens.
    // The start positions determine the covered set exactly
    // (covered = ∪ [sp, sp+2]), so ship ONE row per frequent-shingle hit
    // into a doc-keyed collect_set, merge the starts into maximal
    // covered intervals in-stage (two starts s < s' share a run iff
    // s' ≤ s+3 — see repeatedIntervals), and rebuild the cleaned text by
    // FILTERING each doc's own words array against its interval list —
    // no token row ever exists, and the corpus text crosses exactly one
    // doc-keyed exchange instead of two token-grain ones. Kept words
    // stay in position order (array filter preserves order), so
    // concat_ws(" ", kept) is the same single-space rebuild as the old
    // sorted collect_list.
    val ivs = sh.join(frequent, Seq("shingle"))
      .groupBy("doc_id")
      .agg(array_sort(collect_set(col("sp"))).as("ps"))
      .select(col("doc_id"), expr(
        "zip_with(" +
          "filter(ps, (x, i) -> i = 0 OR element_at(ps, i) < x - 3), " +
          "filter(ps, (x, i) -> i = size(ps) - 1 OR element_at(ps, i + 2) > x + 3), " +
          "(s, e) -> named_struct('s', s, 'e', e + 2))").as("ivs"))
    withWs.select(col("doc_id"), col("ws"))
      .join(ivs, Seq("doc_id"), "left_outer")
      .withColumn("kws", when(col("ivs").isNull, col("ws")).otherwise(expr(
        "filter(ws, (w, i) -> NOT exists(ivs, iv -> i + 1 >= iv.s AND i + 1 <= iv.e))")))
      .select(col("doc_id"), size(col("ws")).cast(LongType).as("n_words"),
        size(col("kws")).cast(LongType).as("n_kept"),
        (size(col("ws")) - size(col("kws"))).cast(LongType).as("n_dropped"),
        concat_ws(" ", col("kws")).as("cleaned_text"))
  }

  /** Maximal repeated-interval extraction — the REPORTING side of
    * exact-substring dedup (Lee et al. report the repeated spans before
    * cutting them): positions covered by any cross-document-frequent
    * 3-gram (≥ `minDocs` docs), merged into maximal contiguous intervals
    * per document via gaps-and-islands (pos − row_number is constant on a
    * run). Any repeated substring of length ≥ 3 is covered by some
    * frequent 3-gram, so its tokens land inside a reported interval.
    *
    * Shuffle shape at scale: identical to [[dropFrequentSpans]] up to the
    * covered-position set (shingle-keyed dim + join, never a corpus
    * broadcast); the islands window partitions by doc_id — per-doc state,
    * sharded like every other doc-keyed window here.
    */
  def repeatedIntervals(docs: DataFrame, minDocs: Long,
                        calibrate: Boolean = true): DataFrame = {
    val k = if (calibrate) calibrateSpanMinDocs(docs.count(), minDocs) else minDocs
    // xxhash64 shingle images via the one-pass TextKernel native, same
    // rationale/adjudication as [[dropFrequentSpans]] (positions only —
    // no string ever surfaces).
    val sh = docs.select(col("doc_id"),
      posexplode(graft.functions.NativeTextOps.shingleHashes(col("text")))
        .as(Seq("sp0", "shingle")))
      .select(col("doc_id"), (col("sp0") + 1).as("sp"), col("shingle"))
      .persist()
    val frequent = sh.groupBy("shingle")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= k)
      .select("shingle")
    // Islands ride ONE doc-keyed exchange (round 15), and the exchange
    // carries SPAN STARTS, not exploded positions (round 16, guide §2.3:
    // shuffle fewer bytes): each frequent-shingle hit used to fan out to
    // 3 covered-position rows BEFORE the groupBy(doc_id), so the
    // exchange moved 3× the rows and the per-doc collect_set held the
    // full covered-position set. The start set determines the covered
    // set exactly (covered = ∪ [sp, sp+2]), so ship one row per hit and
    // merge intervals from the SORTED distinct start array in-stage:
    // two consecutive starts s < s' lie in the same maximal covered run
    // iff s' ≤ s+3 ([s,s+2] and [s',s'+2] touch or overlap exactly when
    // the gap s'−s is ≤ 3 — at s' = s+3, position s+2 is adjacent to
    // s+3). Hence a start opens an interval where the predecessor is
    // < x−3, closes one where the successor is > x+3, and the covered
    // run is [first_start, last_start+2] — identical rows to the former
    // exploded-position islands (per-doc start counts are bounded by
    // document length, so the per-doc set is always small).
    val covered = sh.join(frequent, Seq("shingle"))
      .select(col("doc_id"), col("sp"))
    covered
      .groupBy("doc_id")
      .agg(array_sort(collect_set(col("sp"))).as("ps"))
      .select(col("doc_id"), explode(expr(
        "zip_with(" +
          "filter(ps, (x, i) -> i = 0 OR element_at(ps, i) < x - 3), " +
          "filter(ps, (x, i) -> i = size(ps) - 1 OR element_at(ps, i + 2) > x + 3), " +
          "(s, e) -> named_struct('s', s, 'e', e))")).as("iv"))
      .select(col("doc_id"), col("iv.s").as("start_pos"),
        (col("iv.e") + 2).as("end_pos"),
        (col("iv.e") + lit(2) - col("iv.s") + 1).cast(LongType).as("span_len"))
  }

  /** Train/eval contamination detection — the decontamination pass every
    * training pipeline runs before reporting benchmark numbers: an eval
    * document sharing word-shingles with the train split has leaked. The
    * split is the q53 deterministic hash split (never random()), overlap
    * is a shingle-keyed LEFT SEMI join against the distinct train-shingle
    * dim — both sides shuffle once on the shingle key with map-side
    * partial aggregation, so 1000 executors shard the train vocabulary
    * naturally; no broadcast of anything corpus-sized. One row per eval
    * doc with ≥1 shingle: shared/total shingle counts, the contamination
    * ratio, and the flag.
    */
  def contamination(docs: DataFrame, trainPct: Int = 90): DataFrame = {
    val sh = Dedup.shingles(docs)
      .withColumn("split",
        when(TextOps.hash32(col("doc_id").cast(StringType)) % 100 < trainPct, "train")
          .otherwise("val"))
    val trainShingles = sh.filter(col("split") === "train")
      .select("shingle").distinct()
    val evalShingles = sh.filter(col("split") === "val").select("doc_id", "shingle")
    val totals = evalShingles.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val shared = evalShingles.join(trainShingles, Seq("shingle"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    totals.join(shared, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)).cast(DoubleType) / col("n_shingles"))
          .as("contamination"),
        (coalesce(col("n_shared"), lit(0L)) > 0).cast(IntegerType).as("is_contaminated"))
  }

  /** Curriculum quality deciles, the SCALE form (q71's exact global
    * `ntile` is the small-SF correctness twin, like brute-force ANN beside
    * LSH): decile cutpoints come from ONE `percentile_approx` aggregation
    * — a GK sketch that partial-aggregates map-side, so the only exchange
    * is sketch-sized — broadcast back as a 9-element array, then a single
    * codegen'd pass assigns `decile = buckets − #{cutpoints below score}`.
    * No global sort, no single-partition window, corpus never re-shuffles.
    *
    * Exactness contract: with `accuracy ≥ n` the sketch retains every
    * sample (compression needs g_i+g_{i+1}+δ < 2·n/accuracy < 2, and every
    * g ≥ 1), so each cutpoint is exactly the order statistic at ascending
    * rank `ceil(p·n)` — measured against Spark 4.1 and reproduced by the
    * q72 oracle. At 100 TB, accuracy bounds the cutpoint rank error to
    * n/accuracy rows — the deciles stay correct to a vanishing fraction.
    */
  def qualityDecilesApprox(docs: DataFrame, buckets: Int = 10,
                           accuracy: Int = 1000000): DataFrame = {
    // both the cutpoint aggregation and the assignment pass consume the
    // scores — persist the (doc_id, score) projection (16 bytes/row, two
    // longs next to the corpus) so the regex-heavy feature extraction
    // scans the documents ONCE, not once per branch
    val scored = qualityScore(docs).select("doc_id", "quality_score").persist()
    val ps = (1 until buckets).map(_.toDouble / buckets)
    val cuts = scored.agg(percentile_approx(col("quality_score"),
      typedLit(ps.toArray), lit(accuracy)).as("cuts"))
    val below = (0 until buckets - 1)
      .map(i => when(col("quality_score") > col("cuts").getItem(i), 1).otherwise(0))
      .reduce(_ + _)
    scored.crossJoin(broadcast(cuts))
      .withColumn("decile", (lit(buckets) - below).cast(IntegerType))
      .select("doc_id", "quality_score", "decile")
  }

  /** Corpus-LM likelihood proxy — the CCNet-style "does this read like
    * the corpus" quality signal: score each document by how much corpus
    * bigram mass its own bigrams carry, against a bigram model built from
    * the corpus itself. Per doc: Σ c(w1 w2) / Σ c(w1 ·) over its bigram
    * OCCURRENCES (with multiplicity) — both sums are INTEGER (exact,
    * associative, engine-reproducible) with one double division at the
    * end; a per-bigram averaged probability would sum doubles in
    * partition order and lose cross-engine exactness.
    *
    * Shuffle shape at scale: the bigram-count and context-count dims are
    * bigram-/word-keyed (they shard over executors like the TF-IDF df
    * table); doc bigrams join them by key and reduce per doc. Nothing
    * corpus-sized broadcasts.
    */
  def bigramLikelihood(docs: DataFrame): DataFrame = {
    // three consumers (bigram counts, context counts, the final join)
    // derive from this projection — persisted so the regex tokenization
    // scans the document text once, not three times. Bigrams and their
    // context words travel as xxhash64 IMAGES from here on (the q83
    // span-dedup grain, round 14 — q104 measured 29×/decade at sf100):
    // the count dims and both joins carry 8-byte longs instead of
    // ~15-byte strings, and no string reaches any exchange. Counts key
    // on hashes, so a collision (≈2⁻⁶⁴/pair) could merge two bigrams'
    // counts; the oracle computes on STRINGS and hash-matches, pinning
    // zero collisions on the test corpora (the q83 adjudication).
    // Collision margin at scale (the r14 verdict asked for the number):
    // with n distinct bigrams the birthday bound gives
    // P(any collision) <= n^2 / 2^65 — at the sf100-zipf corpus's ~1e9
    // distinct bigrams that is ~1e18/3.7e19 ~= 2.7% per run, and one
    // collision perturbs only the two merged bigrams' counts (an
    // O(1/n_bigrams) shift in the affected documents' likelihood sums),
    // never a crash or row loss. At a true 100 TB corpus (~1e11 bigrams)
    // the bound saturates; the right form there is the same pipeline
    // with a 128-bit image (two independent hash columns as the key) —
    // same plan shape, 16 B keys, collision odds back below 1e-4.
    // w1 hashes once at the persisted grain — the string form computed
    // substring_index twice (context dim + final join).
    val bg = docs
      .withColumn("ws", TextOps.words(col("text")))
      .select(col("doc_id"), explode(TextOps.bigrams("ws")).as("bg0"))
      .select(col("doc_id"), xxhash64(col("bg0")).as("bg"),
        xxhash64(substring_index(col("bg0"), " ", 1)).as("w1"))
      .persist()
    val bgCounts = bg.groupBy("bg").agg(count(lit(1)).as("c_bg"))
    val ctxCounts = bg.groupBy("w1").agg(count(lit(1)).as("c_ctx"))
    bg.join(bgCounts, Seq("bg"))
      .join(ctxCounts, Seq("w1"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("c_bg")).as("sum_bigram_count"),
        sum(col("c_ctx")).as("sum_context_count"))
      .withColumn("likelihood",
        col("sum_bigram_count").cast(DoubleType) / col("sum_context_count"))
  }

  /** Jelinek-Mercer interpolated bigram⊕unigram likelihood — the smoothed
    * LM the plain [[bigramLikelihood]] proxy approximates from below:
    * λ·(bigram mass ratio) + (1−λ)·(unigram mass ratio), the standard
    * fix for unseen-context brittleness in n-gram scoring. Cross-engine
    * exactness is preserved the q78 way: every aggregate is an INTEGER
    * sum (bigram, context, and second-word unigram counts; corpus token
    * total), and the interpolation is a fixed sequence of IEEE ops on
    * those exact integers — never a float sum across rows.
    *
    * Shuffle shape at scale: adds one word-keyed unigram dim beside q78's
    * bigram/context dims (sharded the same way) and a one-row broadcast
    * token total; the per-doc reduction is unchanged.
    */
  def interpolatedLikelihood(docs: DataFrame, lambda: Double = 0.7): DataFrame = {
    val toks = docs
      .withColumn("ws", TextOps.words(col("text")))
      .select(col("doc_id"), col("ws"))
      .persist()
    val bg = toks
      .select(col("doc_id"), explode(TextOps.bigrams("ws")).as("bg"))
      .persist()
    val uni = toks.select(explode(col("ws")).as("w"))
    val uniCounts = uni.groupBy("w").agg(count(lit(1)).as("c_w"))
    val nTotal = uni.agg(count(lit(1)).as("n_total"))
    val bgCounts = bg.groupBy("bg").agg(count(lit(1)).as("c_bg"))
    val ctxCounts = bg
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .groupBy("w1").agg(count(lit(1)).as("c_ctx"))
    bg.join(bgCounts, Seq("bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
      .join(ctxCounts, Seq("w1"))
      .join(uniCounts.withColumnRenamed("w", "w2"), Seq("w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("c_bg")).as("sum_bigram_count"),
        sum(col("c_ctx")).as("sum_context_count"),
        sum(col("c_w")).as("sum_unigram_count"))
      .crossJoin(broadcast(nTotal))
      .withColumn("likelihood",
        lit(lambda) * (col("sum_bigram_count").cast(DoubleType) / col("sum_context_count"))
          + lit(1.0 - lambda) *
            (col("sum_unigram_count").cast(DoubleType) /
              (col("n_bigrams").cast(DoubleType) * col("n_total"))))
      .select("doc_id", "n_bigrams", "sum_bigram_count", "sum_context_count",
        "sum_unigram_count", "n_total", "likelihood")
  }

  /** CCNet-style per-language likelihood bucketing (Wenzek et al.,
    * "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
    * Data"): each language's documents split into head/middle/tail by
    * likelihood terciles under the corpus LM ([[bigramLikelihood]] here;
    * KenLM perplexity in the paper — same partition semantics, most
    * model-like third = head). Downstream pipelines train on head+middle
    * and drop or subsample tail.
    *
    * Shuffle shape at scale: the likelihood pass is q78's (bigram-keyed
    * dims, doc-keyed agg); cutpoints are ONE grouped percentile_approx
    * whose exchange carries a sketch per language (q77's contract), then
    * broadcast back — no global sort, no per-language window over the
    * corpus. Tercile convention matches q72: bucket_id = 3 − #cutpoints
    * strictly below, so 1 = head.
    */
  def ccnetBuckets(docs: DataFrame, accuracy: Int = 1000000): DataFrame = {
    val lik = bigramLikelihood(docs).select("doc_id", "likelihood")
    val joined = lik.join(docs.select("doc_id", "lang"), Seq("doc_id"))
    val cuts = joined.groupBy("lang")
      .agg(percentile_approx(col("likelihood"),
        typedLit(Array(1.0 / 3, 2.0 / 3)), lit(accuracy)).as("cs"))
    joined.join(broadcast(cuts), Seq("lang"))
      .withColumn("bucket_id",
        lit(3) - (col("likelihood") > col("cs").getItem(0)).cast(IntegerType)
               - (col("likelihood") > col("cs").getItem(1)).cast(IntegerType))
      .withColumn("bucket",
        when(col("bucket_id") === 1, "head")
          .when(col("bucket_id") === 2, "middle").otherwise("tail"))
      .select("doc_id", "lang", "likelihood", "bucket_id", "bucket")
  }

  /** Per-group quality quantile cutoffs — the per-domain/per-language
    * curation thresholds a corpus pipeline applies ("keep the top quartile
    * of each language", not one global bar that empties low-scoring
    * domains). One `percentile_approx` aggregation GROUPED by the key:
    * sketches partial-aggregate map-side and merge per group, so the
    * exchange carries one sketch per group, never rows. Same exactness
    * contract as [[qualityDecilesApprox]]: at accuracy ≥ max group size
    * each cutoff is the group's order statistic at asc rank ceil(p·n_g).
    */
  def groupedQuantiles(docs: DataFrame, groupCol: String, probs: Seq[Double],
                       accuracy: Int = 1000000): DataFrame = {
    val scored = withQualityFeatures(docs).select(col(groupCol), col("quality_score"))
    scored.groupBy(groupCol)
      .agg(count(lit(1)).as("n_docs"),
        percentile_approx(col("quality_score"),
          typedLit(probs.toArray), lit(accuracy)).as("cuts"))
      .select(col(groupCol) +: col("n_docs") +:
        probs.zipWithIndex.map { case (p, i) =>
          col("cuts").getItem(i).as(s"p${(p * 100).round}")
        }: _*)
  }

  /** Rolling polynomial fingerprint over normalized words:
    * h := (h*31 + md5_32(w) mod p) mod p, p = 1e9+7. Order-sensitive (true
    * rolling hash), left fold — reproduced exactly by the oracle's
    * list_reduce.
    */
  def fingerprint(docs: DataFrame): DataFrame = {
    val p = 1000000007L
    docs
      .withColumn("ws", TextOps.words(col("text")))
      .withColumn("hs", transform(col("ws"), w => TextOps.hash32(w) % p))
      .withColumn("rolling_hash",
        aggregate(col("hs"), lit(0L), (acc, x) => (acc * 31L + x) % p))
      .select("doc_id", "rolling_hash")
  }

  /** Overlapping token-window chunking — the embedding-pipeline splitter
    * (each chunk rides to an encoder; stride < window keeps context
    * across cuts). Chunk i of a doc covers tokens [i·stride, i·stride +
    * window); chunks start while they still reach past the previous
    * window's end, so every token lands in ≥1 chunk and the final chunk
    * may run short. Entirely map-side — tokenize, one `sequence` +
    * `explode`, slice — no shuffle at any scale; output order is
    * (doc_id, chunk_id) by construction of the explode.
    */
  def chunk(docs: DataFrame, window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window)
    val toks = split(trim(col("text")), "\\s+") // q75's token convention
    docs
      .withColumn("toks", toks)
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("chunk_id", explode(sequence(lit(0L),
        greatest(lit(0L),
          ceil((col("n_tokens") - window) / lit(stride.toDouble)).cast("long")))))
      .select(col("doc_id"), col("chunk_id"),
        least(lit(window.toLong), col("n_tokens") - col("chunk_id") * stride)
          .as("n_chunk_tokens"),
        concat_ws(" ",
          slice(col("toks"), (col("chunk_id") * stride + 1).cast("int"), lit(window)))
          .as("chunk_text"))
  }

  /** Per-language token-budget selection — corpus budgeting: each
    * language contributes its highest-priority documents until its token
    * budget is spent (priority = longest-first, doc_id tie-break; any
    * deterministic ORDER BY slots in). A document is kept if it STARTS
    * within budget, so the last kept doc may overrun — the convention
    * that never emits an empty language for budget < its shortest doc.
    *
    * The running sum is a (lang)-keyed window — each language sorts on
    * its own executors, never one global sort. A language so large its
    * own token stream won't sort on one task gets the [[SequencePack]]
    * two-phase prefix-sum treatment (bucket by priority-rank ranges);
    * at that point the sort IS the selection and must happen somewhere.
    */
  def tokenBudget(docs: DataFrame, budgetPerLang: Long): DataFrame = {
    val toks = docs.select(col("doc_id"), col("lang"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
    val w = Window.partitionBy("lang")
      .orderBy(col("n_tokens").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    toks.withColumn("running_tokens", sum("n_tokens").over(w))
      .filter(col("running_tokens") - col("n_tokens") < budgetPerLang)
      .select("doc_id", "lang", "n_tokens", "running_tokens")
  }

  /** C4-style URL curation (Raffel et al. 2020's cleaning steps, public):
    * normalize each document URL (strip query + fragment — the crawl-dup
    * axis), extract the lowercased host, drop blocklisted domains
    * (broadcast anti-join — a real blocklist is millions of rows, never
    * an IN-list), and keep ONE survivor per normalized URL (min doc_id)
    * with the duplicate count. One shuffle (the URL group-by); the
    * blocklist join is map-side.
    */
  def urlCurate(urls: DataFrame, blocklist: DataFrame): DataFrame = {
    val norm = urls
      .withColumn("norm_url", regexp_replace(col("url"), "[?#].*$", ""))
      .withColumn("domain", lower(regexp_extract(col("norm_url"), "^https?://([^/]+)", 1)))
    norm.join(broadcast(blocklist), Seq("domain"), "left_anti")
      .groupBy("norm_url", "domain")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_dups"))
  }

  /** PII patterns shared by the operator and its oracle twin — restricted
    * to the regex subset Java and RE2/DuckDB interpret identically (no
    * lookaround, no backreferences, explicit character classes).
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  /** PII redaction for training corpora: emails, IPv4 literals and
    * phone-shaped numbers replaced with typed placeholders, with per-class
    * match counts (counted BEFORE replacement). Replacement order is part
    * of the contract — email first (so a mail host's dotted quad can't be
    * half-eaten by the IP pattern), then IP, then phone. Pure map-side
    * Column algebra: zero shuffles at any scale, codegen'd regex.
    */
  def redactPii(docs: DataFrame, textCol: String = "text"): DataFrame = {
    // One-pass native battery (r12 verdict #9 stretch): the declarative
    // form below runs SIX regex passes per document (3 regexp_count + 3
    // chained regexp_replace) and measured 6.2 s at sf10 — pure map-side
    // regex, the exact class the TextKernel family exists for. The
    // kernel's byte-grain matchers are engine-exact for these ASCII-only
    // patterns (incl. \b and the email backtracking order) and
    // property-pinned against this twin in TextKernelSpec.
    val pii = graft.functions.NativeTextOps.piiRedact(col(textCol))
    docs.select(col("doc_id"),
      pii.getField("n_emails").as("n_emails"),
      pii.getField("n_ips").as("n_ips"),
      pii.getField("n_phones").as("n_phones"),
      pii.getField("redacted").as("redacted"))
  }

  /** The regexp_* composition [[redactPii]] replaced — kept as the
    * kernel's property-test reference (TextKernelSpec).
    */
  private[graft] def redactPiiDeclarative(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"),
      regexp_count(col(textCol), lit(EmailRe)).cast(LongType).as("n_emails"),
      regexp_count(col(textCol), lit(Ipv4Re)).cast(LongType).as("n_ips"),
      regexp_count(col(textCol), lit(PhoneRe)).cast(LongType).as("n_phones"),
      regexp_replace(
        regexp_replace(
          regexp_replace(col(textCol), EmailRe, "<EMAIL>"),
          Ipv4Re, "<IP>"),
        PhoneRe, "<PHONE>").as("redacted"))

  /** Train/val DISTRIBUTION DRIFT per language: total-variation distance
    * ½·Σ_t |p_train(t) − p_val(t)| between the two splits' unigram
    * distributions (split = the q53 hash rule). TVD rather than KL: it
    * needs no log on the cross-engine path (ln is not bit-pinned across
    * engines) and no smoothing for one-sided tokens (|p − 0| is just p).
    * Per-term contributions quantize to round_even(|Δp|·2⁴⁰) longs — the
    * q79 fixed-point contract, Σ|Δp| ≤ 2 bounds the sum at 2⁴¹ so it can
    * never overflow at any corpus size — making the drift number exact
    * across partitionings and engines. Shapes: one (lang, token)-keyed
    * aggregation over the corpus, a tiny per-lang totals dim broadcast
    * back, one per-lang reduce. The monitoring op that catches a skewed
    * split or a drifted re-crawl before training does.
    */
  def distributionDrift(docs: DataFrame): DataFrame = {
    val Fp = 1099511627776L // 2^40
    val toks = docs
      .select(col("lang"), col("doc_id"), explode(TextOps.words(col("text"))).as("token"))
      .withColumn("is_train",
        TextOps.hash32(col("doc_id").cast("string")) % 100 < 90)
    val counts = toks.groupBy("lang", "token")
      .agg(sum(when(col("is_train"), 1L).otherwise(0L)).as("c_t"),
        sum(when(col("is_train"), 0L).otherwise(1L)).as("c_v"))
    val totals = counts.groupBy("lang")
      .agg(sum("c_t").as("n_train_tokens"), sum("c_v").as("n_val_tokens"),
        count(lit(1)).as("vocab"))
      .filter(col("n_train_tokens") > 0 && col("n_val_tokens") > 0)
    counts.join(broadcast(totals), Seq("lang"))
      .withColumn("q", bround(abs(
        col("c_t") / col("n_train_tokens") - col("c_v") / col("n_val_tokens"))
        * lit(Fp.toDouble), 0).cast(LongType))
      .groupBy("lang")
      .agg(max("n_train_tokens").as("n_train_tokens"),
        max("n_val_tokens").as("n_val_tokens"),
        max("vocab").as("vocab"), sum("q").as("qs"))
      .select(col("lang"), col("n_train_tokens"), col("n_val_tokens"), col("vocab"),
        (col("qs").cast(DoubleType) / lit(Fp.toDouble) / lit(2.0)).as("tvd"))
  }

  /** HTML → text normalization (the C4/CCNet extraction step): drop
    * tags, decode the common entities, collapse whitespace. Tag and
    * entity counts come from the RAW markup (before any rewriting) —
    * the boilerplate-density signals a cleaning pipeline filters on.
    * Decode order is part of the contract: named/numeric entities first,
    * `&amp;` LAST so `&amp;lt;` decodes to the literal text `&lt;`, not
    * to `<` (the standard double-escape rule). Pure map-side Column
    * algebra — zero shuffles, codegen'd regex (Java ∩ RE2 subset, as
    * the q91 battery).
    */
  def normalizeHtml(docs: DataFrame, textCol: String = "html"): DataFrame = {
    val tagRe = "<[^>]*>"
    val entRe = "&(amp|lt|gt|quot|nbsp|#39);"
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ")
      .foldLeft(regexp_replace(col(textCol), tagRe, " ")) {
        case (acc, (ent, ch)) => regexp_replace(acc, ent, ch)
      }
    docs.select(col("doc_id"),
      regexp_count(col(textCol), lit(tagRe)).cast(LongType).as("n_tags"),
      regexp_count(col(textCol), lit(entRe)).cast(LongType).as("n_entities"),
      trim(regexp_replace(regexp_replace(decoded, "&amp;", "&"), "\\s+", " "))
        .as("text_clean"))
  }

  /** Frequency-weighted adjacent character pairs over the distinct-word
    * vocabulary — iteration zero of BPE training. The corpus-sized work
    * is ONE word-count aggregation; pair statistics then run on the
    * vocabulary (Heaps-law small). Output: top `k` pairs, count-desc with
    * a lexicographic tie-break (the argmax a BPE trainer would merge
    * first is row 1).
    */
  def bpePairCounts(docs: DataFrame, k: Int): DataFrame = {
    val vocab = docs
      .select(explode(TextOps.words(col("text"))).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("freq"))
    val pairs = vocab.select(col("freq"), explode(
      expr("transform(sequence(1, length(w) - 1), " +
        "i -> concat(substring(w, i, 1), ' ', substring(w, i + 1, 1)))")).as("pair"))
      .groupBy("pair").agg(sum("freq").as("cnt"))
    val w = Window.partitionBy(lit(1)).orderBy(col("cnt").desc, col("pair"))
    pairs.orderBy(col("cnt").desc, col("pair")).limit(k)
      .withColumn("rk", row_number().over(w).cast(IntegerType))
      .select("pair", "cnt", "rk")
  }

  /** BPE merge-rule learning (Sennrich et al. 2016, public), returning
    * the ordered merge rules as driver data (they are model state —
    * `nMerges` rows — never corpus-sized). Delegates to the HYBRID
    * [[bpeTrainState]]: the corpus-scale word count always runs
    * distributed; the merge loop runs driver-side only while the
    * distinct-word vocabulary is bounded by [[TrainDriverVocabCap]]
    * (the Heaps-law clean-corpus case) and falls back to the fully
    * distributed per-round aggregation above it — web-scale corpora
    * push distinct "words" (URLs, hashes, typos) to 10⁸⁺, where an
    * uncapped driver collect would OOM. Both paths compute the same
    * (count-max, then UTF-8-byte-order-least) argmax, so the learned
    * rules are path-invariant (spec-pinned).
    */
  def bpeLearn(docs: DataFrame, nMerges: Int,
      driverVocabCap: Long = TrainDriverVocabCap): Seq[(String, String)] =
    bpeTrainState(docs, nMerges, driverVocabCap)._1
      .map { case (_, lhs, rhs, _) => (lhs, rhs) }

  /** One merge rule applied left-to-right over a symbol sequence. */
  private def applyMerge(syms: Array[String], rule: (String, String)): Array[String] = {
    val merged = rule._1 + rule._2
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == rule._1 && syms(i + 1) == rule._2) {
        out += merged; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result().toArray
  }

  /** Segment one word with an ordered merge-rule list (the BPE encode
    * step): characters, then each rule applied in learning order.
    */
  def segmentWord(w: String, merges: Seq[(String, String)]): Array[String] =
    merges.foldLeft(w.split("").filter(_.nonEmpty))(applyMerge)

  /** Apply learned BPE merges to the corpus. The segmentation is a pure
    * function of the WORD, so it computes once per distinct word (the
    * Heaps-law-small vocabulary, as a typed map over the distinct set)
    * and broadcast-joins back to the corpus explode — the corpus-scale
    * pass never runs the sequential merge loop. Output per document:
    * whitespace word count and the BPE token count after merging.
    */
  def bpeApply(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val exploded = docs.select(col("doc_id"), explode(TextOps.words(col("text"))).as("w"))
    val seg = exploded.select("w").distinct().as[String]
      .map(w => (w, segmentWord(w, merges).length.toLong))
      .toDF("w", "n_subtokens")
    exploded.join(broadcast(seg), Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("n_subtokens").as("n_bpe_tokens"))
  }

  /** Paragraph-level exact dedup (the CCNet/C4 step BETWEEN document
    * dedup and span dedup): repeated paragraphs are dropped corpus-wide,
    * keeping the first occurrence in (doc_id, paragraph) order, and each
    * document reassembles from its kept paragraphs. Catches boilerplate
    * (headers, license blocks, navigation) that document-level
    * fingerprints miss and span-level n-gram dedup over-fragments.
    * "Paragraphs" are [[chunk]]'s non-overlapping `window`-token blocks
    * (the corpus carries no newlines — same fixture convention as q119's
    * synthesized markup; a newline-delimited corpus would swap the
    * splitter only).
    *
    * Scale shape: the first-occurrence verdict is a row_number over the
    * 16-byte md5 fingerprint (fp-keyed exchange), the rebuild one
    * doc-keyed agg with an ordered in-group sort_array — two corpus
    * exchanges, which is the floor: one to see duplicates across
    * documents, one to put documents back together. No global sort, no
    * driver state.
    */
  def paragraphDedup(docs: DataFrame, window: Int): DataFrame = {
    val paras = chunk(docs, window, window)
      .select(col("doc_id"), col("chunk_id"), col("chunk_text"),
        md5(col("chunk_text")).as("fp"))
    val w = Window.partitionBy("fp").orderBy(col("doc_id"), col("chunk_id"))
    paras
      .withColumn("kept",
        when(row_number().over(w) === 1, lit(1L)).otherwise(lit(0L)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_paras"), sum("kept").as("n_kept"),
        expr("array_join(transform(filter(" +
          "sort_array(collect_list(struct(chunk_id, kept, chunk_text))), " +
          "s -> s.kept = 1), s -> s.chunk_text), ' ')").as("text_dedup"))
  }

  /** One greedy left-to-right merge pass over a token array, as a Column
    * fold (`aggregate`): the accumulator carries the emitted prefix plus
    * one pending token; `(pend == a, t == b)` emits the merged symbol and
    * clears pending, so an equal-pair chain (`a a a` under merge (a,a))
    * pairs from the left exactly like [[applyMerge]]. The
    * `array_contains` prefilter skips the fold for the (vast) majority of
    * words a given round leaves untouched — pure optimization, since the
    * fold is the identity on non-matching words.
    */
  private def mergePairCol(toks: Column, a: String, b: String): Column = {
    val A = lit(a); val B = lit(b); val AB = lit(a + b)
    val zero = struct(
      expr("cast(array() as array<string>)").as("acc"),
      lit(null).cast(StringType).as("pend"))
    def emitted(s: Column) = s.getField("acc")
    def pend(s: Column)    = s.getField("pend")
    val folded = aggregate(toks, zero,
      (s, t) =>
        when(pend(s) === A && t === B,
          struct(concat(emitted(s), array(AB)).as("acc"),
            lit(null).cast(StringType).as("pend")))
        .when(pend(s).isNull, struct(emitted(s).as("acc"), t.as("pend")))
        .otherwise(struct(concat(emitted(s), array(pend(s))).as("acc"),
          t.as("pend"))),
      s => when(pend(s).isNull, emitted(s))
        .otherwise(concat(emitted(s), array(pend(s)))))
    val touches =
      if (a == b) array_contains(toks, a)
      else array_contains(toks, a) && array_contains(toks, b)
    when(touches, folded).otherwise(toks)
  }

  /** Distinct-word cap under which tokenizer training runs its merge
    * loop driver-side (the q73 connected-components hybrid convention).
    * Heaps' law keeps a curated corpus's vocabulary near 10⁵–10⁶, so
    * real tokenizer training fits comfortably; a raw multilingual
    * crawl's junk-heavy word dim (10⁸⁺ typos/URLs/code tokens) exceeds
    * the cap and takes the fully-distributed loop instead. Both paths
    * compute the SAME argmax (count/score max, then
    * lexicographically-least pair in unsigned UTF-8 byte order — the
    * collation Spark's string sort and DuckDB's BINARY both use) and
    * the same greedy left-to-right rewrite, so the trained model is
    * path-invariant (spec-pinned).
    */
  val TrainDriverVocabCap = 1000000L

  /** Unsigned UTF-8 byte order — Spark's UTF8String sort order and
    * DuckDB's default BINARY collation. Java's String.compareTo
    * (UTF-16 code units) diverges for supplementary-plane characters,
    * so the driver-side argmax must not use it.
    */
  private def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** The shared training input: the distinct-word dim with corpus
    * frequencies (the only corpus-scale pass either training path makes).
    */
  private def trainWordDim(docs: DataFrame): DataFrame =
    docs.select(explode(TextOps.words(col("text"))).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("freq"))

  private def charToks(w: String): Array[String] = w.split("").filter(_.nonEmpty)

  /** Driver-side BPE merge loop over the collected word dim — exact
    * twin of the distributed rounds below (overlap-counting pair
    * aggregation, (cnt desc, lhs, rhs) argmax in UTF-8 byte order,
    * greedy left-to-right rewrite).
    */
  private def bpeDriverLoop(vocab0: Array[(String, Array[String], Long)], nMerges: Int)
      : (Seq[(Int, String, String, Long)], Array[(String, Array[String], Long)]) = {
    var words = vocab0
    val merges = Vector.newBuilder[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= nMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (_, syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          counts.update(p, counts.getOrElse(p, 0L) + f)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        var best: ((String, String), Long) = null
        counts.foreach { kv =>
          if (best == null || kv._2 > best._2 ||
            (kv._2 == best._2 && (utf8Lt(kv._1._1, best._1._1) ||
              (kv._1._1 == best._1._1 && utf8Lt(kv._1._2, best._1._2)))))
            best = kv
        }
        val (a, b) = best._1
        merges += ((r, a, b, best._2))
        words = words.map { case (w, syms, f) => (w, applyMerge(syms, (a, b)), f) }
        r += 1
      }
    }
    (merges.result(), words)
  }

  private def segFromDriver(docs: DataFrame,
      words: Array[(String, Array[String], Long)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    spark.createDataset(words.toSeq.map { case (w, t, f) => (w, t.toSeq, f) })
      .toDF("w", "toks", "freq")
  }

  /** Segmentation state after `nMerges` rounds of BPE training, plus
    * the learned merge table — HYBRID (see [[TrainDriverVocabCap]]):
    * the corpus-scale word count always runs distributed; the merge
    * loop runs driver-side while the vocabulary is bounded (how every
    * public BPE trainer structures it) and falls back to the
    * fully-distributed rounds when it is not. In the distributed form
    * each round is ONE pair-count aggregation over the distributed word
    * dim (exchange keyed on the pair), a ONE-ROW argmax collect (the
    * bounded model state, exactly KMeans' per-round centroid rows), and
    * a map-side `aggregate` fold re-segmenting in place — no corpus
    * pass after the seed word count. Rounds persist-chain with the
    * previous round evicted once the next materializes; a production
    * run at vocab scale would snapshot the segmentation every ~50
    * rounds (the connectedComponents pattern) to truncate lineage.
    *
    * Returns (merge table rows (rk, lhs, rhs, cnt), final segmentation
    * (w, toks, freq) — the trained tokenizer state [[bpeApply]]-style
    * encoding joins against).
    */
  def bpeTrainState(docs: DataFrame, nMerges: Int,
      driverVocabCap: Long = TrainDriverVocabCap)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    val wordDim = trainWordDim(docs).persist()
    if (wordDim.count() <= driverVocabCap) {
      val vocab0 = wordDim.collect()
        .map(r => (r.getString(0), charToks(r.getString(0)), r.getLong(1)))
      wordDim.unpersist()
      val (merges, words) = bpeDriverLoop(vocab0, nMerges)
      return (merges, segFromDriver(docs, words))
    }
    var seg = wordDim
      .select(col("w"),
        expr("filter(split(w, ''), x -> x <> '')").as("toks"), col("freq"))
      .persist()
    var prev: DataFrame = null
    val merges = Vector.newBuilder[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= nMerges && !exhausted) {
      // guard size >= 2: fully-merged single-token words pair nothing
      // (and Spark's sequence(1, 0) counts DOWN, so the guard is
      // correctness, not style — the bigrams()/shingles3() lesson)
      val best = seg
        .select(col("freq"), explode(expr(
          "CASE WHEN size(toks) >= 2 THEN transform(sequence(1, size(toks) - 1), " +
            "i -> struct(toks[i-1] AS lhs, toks[i] AS rhs)) " +
            "ELSE array() END")).as("p"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("lhs"), col("rhs"))
        .limit(1).collect()
      // that job materialized seg's cache; the round before it is dead
      if (prev != null) { prev.unpersist(); prev = null }
      if (best.isEmpty) exhausted = true
      else {
        val a = best(0).getString(0); val b = best(0).getString(1)
        merges += ((r, a, b, best(0).getLong(2)))
        val next = seg
          .select(col("w"), mergePairCol(col("toks"), a, b).as("toks"), col("freq"))
          .persist()
        prev = seg; seg = next
        r += 1
      }
    }
    // materialize the final state before evicting its parent, or a later
    // reader would recompute the whole persist-chain from the raw corpus
    if (prev != null) { seg.count(); prev.unpersist() }
    wordDim.unpersist()
    (merges.result(), seg)
  }

  /** The learned merge table of [[bpeTrainState]] as a DataFrame —
    * the trained tokenizer model (rk, lhs, rhs, cnt), rk in learning
    * order, cnt the pair's corpus frequency at merge time.
    */
  def bpeLearnDistributed(docs: DataFrame, nMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeTrainState(docs, nMerges)._1.toDF("rk", "lhs", "rhs", "cnt")
  }

  /** WordPiece training state: the SAME hybrid merge loop as
    * [[bpeTrainState]] (driver-side while the word dim is bounded by
    * [[TrainDriverVocabCap]], else the distributed rounds: word-dim
    * segmentation, one-row argmax collect per round, map-side greedy
    * re-segment) but ranked by the WordPiece
    * LIKELIHOOD score `cnt(pair) / (cnt(lhs)·cnt(rhs))` instead of raw
    * pair count — the Schuster/Nakajima criterion that prefers pairs
    * whose parts rarely occur apart over pairs that are merely frequent.
    * The score is ONE IEEE division of exact BIGINTs (cnt ≤ corpus
    * tokens, cl·cr ≤ (corpus tokens)² < 2^53 at any tested SF), so the
    * argmax is engine-exact; ties break (lhs, rhs) lexicographic.
    *
    * Token counts come from the CURRENT segmentation (one extra
    * vocab-dim agg per round vs BPE — both map-side combinable, both
    * broadcast into the pair frame). Merged symbols are plain
    * concatenations; the continuation-marking (`##`) convention lives in
    * [[wordpieceApply]]'s greedy matcher, not the training state.
    */
  /** Driver-side WordPiece merge loop — exact twin of the distributed
    * rounds (overlap-counting pair aggregation, current-segmentation
    * token counts, score `cnt / (cl·cr)` as ONE IEEE division of the
    * exact Long product, argmax (score desc, lhs, rhs) in UTF-8 byte
    * order, greedy left-to-right rewrite).
    */
  private def wordpieceDriverLoop(vocab0: Array[(String, Array[String], Long)],
      nMerges: Int)
      : (Seq[(Int, String, String, Long, Double)], Array[(String, Array[String], Long)]) = {
    var words = vocab0
    val merges = Vector.newBuilder[(Int, String, String, Long, Double)]
    var r = 1
    var exhausted = false
    while (r <= nMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      val tc = scala.collection.mutable.HashMap.empty[String, Long]
      words.foreach { case (_, syms, f) =>
        var i = 0
        while (i < syms.length) {
          tc.update(syms(i), tc.getOrElse(syms(i), 0L) + f)
          if (i < syms.length - 1) {
            val p = (syms(i), syms(i + 1))
            counts.update(p, counts.getOrElse(p, 0L) + f)
          }
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        var bestPair: (String, String) = null
        var bestCnt = 0L
        var bestScore = 0.0
        counts.foreach { case (p, cnt) =>
          val score = cnt.toDouble / (tc(p._1) * tc(p._2)).toDouble
          if (bestPair == null || score > bestScore ||
            (score == bestScore && (utf8Lt(p._1, bestPair._1) ||
              (p._1 == bestPair._1 && utf8Lt(p._2, bestPair._2))))) {
            bestPair = p; bestCnt = cnt; bestScore = score
          }
        }
        val (a, b) = bestPair
        merges += ((r, a, b, bestCnt, bestScore))
        words = words.map { case (w, syms, f) => (w, applyMerge(syms, (a, b)), f) }
        r += 1
      }
    }
    (merges.result(), words)
  }

  def wordpieceTrainState(docs: DataFrame, nMerges: Int,
      driverVocabCap: Long = TrainDriverVocabCap)
      : (Seq[(Int, String, String, Long, Double)], DataFrame) = {
    val wordDim = trainWordDim(docs).persist()
    if (wordDim.count() <= driverVocabCap) {
      val vocab0 = wordDim.collect()
        .map(r => (r.getString(0), charToks(r.getString(0)), r.getLong(1)))
      wordDim.unpersist()
      val (merges, words) = wordpieceDriverLoop(vocab0, nMerges)
      return (merges, segFromDriver(docs, words))
    }
    var seg = wordDim
      .select(col("w"),
        expr("filter(split(w, ''), x -> x <> '')").as("toks"), col("freq"))
      .persist()
    var prev: DataFrame = null
    val merges = Vector.newBuilder[(Int, String, String, Long, Double)]
    var r = 1
    var exhausted = false
    while (r <= nMerges && !exhausted) {
      val pairs = seg
        .select(col("freq"), explode(expr(
          "CASE WHEN size(toks) >= 2 THEN transform(sequence(1, size(toks) - 1), " +
            "i -> struct(toks[i-1] AS lhs, toks[i] AS rhs)) " +
            "ELSE array() END")).as("p"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum("freq").as("cnt"))
      val tc = seg.select(explode(col("toks")).as("tok"), col("freq"))
        .groupBy("tok").agg(sum("freq").as("c"))
      val best = pairs
        .join(broadcast(tc.select(col("tok").as("lhs"), col("c").as("cl"))), Seq("lhs"))
        .join(broadcast(tc.select(col("tok").as("rhs"), col("c").as("cr"))), Seq("rhs"))
        .select(col("lhs"), col("rhs"), col("cnt"),
          (col("cnt").cast(DoubleType) /
            (col("cl") * col("cr")).cast(DoubleType)).as("score"))
        .orderBy(col("score").desc, col("lhs"), col("rhs"))
        .limit(1).collect()
      if (prev != null) { prev.unpersist(); prev = null }
      if (best.isEmpty) exhausted = true
      else {
        val a = best(0).getString(0); val b = best(0).getString(1)
        merges += ((r, a, b, best(0).getLong(2), best(0).getDouble(3)))
        val next = seg
          .select(col("w"), mergePairCol(col("toks"), a, b).as("toks"), col("freq"))
          .persist()
        prev = seg; seg = next
        r += 1
      }
    }
    if (prev != null) { seg.count(); prev.unpersist() }
    wordDim.unpersist()
    (merges.result(), seg)
  }

  def wordpieceLearnDistributed(docs: DataFrame, nMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    wordpieceTrainState(docs, nMerges)._1.toDF("rk", "lhs", "rhs", "cnt", "score")
  }

  /** The bounded WordPiece vocabulary: the training alphabet plus every
    * learned merge product. Driver-sized by construction (≤ charset +
    * nMerges entries). Takes the trained word-dim state
    * ([[wordpieceTrainState]]'s second result) — its `w` column is
    * exactly the distinct trained words, so the alphabet comes from the
    * vocabulary-sized frame with no corpus re-scan.
    */
  def wordpieceVocab(seg: DataFrame,
      merges: Seq[(Int, String, String, Long, Double)]): Seq[String] = {
    val alphabet = seg
      .select(explode(expr("filter(split(w, ''), x -> x <> '')")).as("ch"))
      .distinct().collect().map(_.getString(0)).toSeq
    (alphabet ++ merges.map(m => m._2 + m._3)).distinct
  }

  /** WordPiece INFERENCE: greedy longest-match-first segmentation of
    * each word against the trained vocabulary — the standard serving
    * tokenizer, which can segment differently from the merge-derived
    * training state (that difference is exactly why it gets its own
    * operator). A position with no vocab match emits one `[UNK]` per
    * char (the alphabet covers training chars, so UNKs mark apply-time
    * novelty). Continuation pieces match the same plain-concatenation
    * vocab the trainer built — the `##`-marked duplicate vocabulary of
    * BERT's released files is a serialization convention this operator
    * does not replicate.
    *
    * Scale shape: the vocab rides the closure (bounded), matching runs
    * on the DISTINCT word dim, and the corpus pass is one broadcast
    * join + doc-keyed agg — [[bpeApply]]'s exact shape.
    */
  def wordpieceApply(docs: DataFrame, vocab: Seq[String]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val vs = vocab.toSet
    val maxLen = if (vocab.isEmpty) 1 else vocab.map(_.length).max
    val exploded = docs.select(col("doc_id"),
      explode(TextOps.words(col("text"))).as("w"))
    val seg = exploded.select("w").distinct().as[String]
      .map { w =>
        var pos = 0; var nTok = 0L; var nUnk = 0L
        while (pos < w.length) {
          var l = math.min(maxLen, w.length - pos)
          while (l >= 1 && !vs.contains(w.substring(pos, pos + l))) l -= 1
          if (l >= 1) { pos += l; nTok += 1L }
          else { pos += 1; nTok += 1L; nUnk += 1L }
        }
        (w, nTok, nUnk)
      }.toDF("w", "n_subtokens", "n_unk")
    exploded.join(broadcast(seg), Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("n_subtokens").as("n_wp_tokens"),
        sum("n_unk").as("n_unk"))
  }

  /** Content-defined chunking parameters — aliases of the one source of
    * truth in [[graft.functions.CdcBoundaries]] (the native expression
    * and the q131 oracle SQL are generated from the same constants).
    */
  val CdcWindow: Int = graft.functions.CdcBoundaries.Window
  val CdcMod: Long = graft.functions.CdcBoundaries.Mod
  val CdcDivisor: Int = graft.functions.CdcBoundaries.Divisor
  val CdcPows: IndexedSeq[Long] = graft.functions.CdcBoundaries.Pows

  /** Content-defined chunking dedup (the Rabin-fingerprint boundary
    * idea storage dedup systems use, applied to corpus text): a chunk
    * boundary falls after char `i` wherever the polynomial hash of the
    * trailing [[CdcWindow]] chars is ≡ 0 mod [[CdcDivisor]]. Boundaries
    * depend only on LOCAL content, so an insertion near the head of a
    * document re-synchronizes at the next boundary and every later
    * chunk still matches — the property fixed-size chunking (q88's
    * window/stride) fundamentally lacks (one shift breaks every
    * subsequent chunk). First-occurrence-wins chunk dedup then follows
    * the q125 contract in (doc_id, position) order.
    *
    * Everything is integer arithmetic on char codes (the q52 `ascii`
    * contract — the corpus is ASCII; supplementary-plane cross-engine
    * behavior is unpinned), so the whole operator is oracle-exact. The
    * hash at every position is computed as [[CdcWindow]] shifted
    * `zip_with` slices over the code array — single-level lambdas only,
    * one map-side projection; the only corpus exchanges are the
    * fingerprint window and the per-doc agg (the q125 floor). Output
    * per doc: `(doc_id, n_chunks, n_dup_chunks, n_kept_chars)`.
    */
  def cdcDedup(docs: DataFrame): DataFrame = {
    val n = length(col("text"))
    // boundary scan = the native rolling-hash expression (codegen'd
    // O(n); the declarative HOF form was interpreted W·n lambda evals —
    // 2.3 s vs 0.6 s at sf0.1). The boundary array is then bound ONCE
    // as a lambda variable (transform over a 1-element array) because
    // it feeds both starts and ends: projections collapse and inline
    // every alias use, and CodegenFallback subtrees get no CSE — an
    // unbound reference would run the scan twice.
    val chunksExpr = element_at(transform(
      array(graft.functions.NativeTextOps.cdcBoundaries(col("text"))), bs =>
        zip_with(
          concat(array(lit(1)), transform(bs, b => b + 1)),
          concat(bs, array(n)),
          (s, e) => col("text").substr(s, e - s + lit(1)))), 1)
    val chunked = docs
      .select(col("doc_id"), posexplode(chunksExpr).as(Seq("chunk_idx", "chunk")))
    val w = Window.partitionBy(md5(col("chunk"))).orderBy(col("doc_id"), col("chunk_idx"))
    chunked
      .withColumn("kept", when(row_number().over(w) === 1, lit(1L)).otherwise(lit(0L)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(lit(1L) - col("kept")).as("n_dup_chunks"),
        sum(col("kept") * length(col("chunk")).cast(LongType)).as("n_kept_chars"))
  }

  /** Compressibility quality signal: per-document DEFLATE ratio
    * (compressed bytes / raw UTF-8 bytes). Low ratio = repetitive,
    * boilerplate-heavy text; near-/above-1 = high-entropy (random or
    * already-compressed) — the compression-based heuristic public
    * curation stacks use beside repetition counts (q62) to drop
    * machine-generated and template spam.
    *
    * Map-side only (one mapPartitions pass, a single `Deflater` reused
    * per partition with raw-deflate/no-header, fixed level and default
    * strategy — embarrassingly parallel at any scale). DEFLATE output
    * is deterministic for a fixed zlib build, so the signal is
    * partition- and run-stable on a given JVM, but it is NOT pinned
    * across zlib versions — hence rows-only verification (q129) with
    * the behavioral contract in TextAnalysisSpec, and ratio thresholds
    * should be calibrated per environment, not hard-coded.
    */
  def compressibility(docs: DataFrame, level: Int = 6): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val deflater = new java.util.zip.Deflater(level, true)
        // release the native zlib state when the task finishes (the
        // iterator is consumed lazily, so a try/finally here can't)
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => deflater.end()))
        val buf = new Array[Byte](8192)
        it.map { case (id, t) =>
          val in = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          deflater.reset()
          deflater.setInput(in)
          deflater.finish()
          var out = 0L
          while (!deflater.finished()) out += deflater.deflate(buf)
          val ratio = if (in.length > 0) out.toDouble / in.length else 0.0
          (id, in.length.toLong, out, ratio)
        }
      }
      .toDF("doc_id", "n_bytes", "deflate_bytes", "compress_ratio")
  }
}
