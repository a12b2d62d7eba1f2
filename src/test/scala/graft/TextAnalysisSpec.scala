package graft

import org.apache.spark.sql.functions._
import graft.functions.TextOps
import graft.operators.{Multimodal, TextAnalysis}

/** Text-analysis + multimodal plumbing invariants. */
class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("tokenStats: whitespace vs BPE-ish counts on a known sentence") {
    val docs = Seq((1L, "Hello, world! abc123 x")).toDF("doc_id", "text")
    val (ws, bpe) = TextAnalysis.tokenStats(docs)
      .select("n_ws_tokens", "n_bpe_tokens").as[(Long, Long)].head()
    assert(ws == 4)
    // Hello , world ! abc 123 x → 7 BPE-ish tokens
    assert(bpe == 7)
  }

  test("degenerate docs (empty / wordless) score TOTAL values, never NULL or NaN") {
    // empty text divides 0/0 — Spark would render NULL (silently dropped
    // by sketches/windows) while DuckDB renders NaN (sorts last), so the
    // ratios pin zero denominators to 0.0 in both engines
    val docs = Seq(
      (1L, "", "en"), (2L, "!!!", "en"), (3L, "the cat sat on the mat", "en"))
      .toDF("doc_id", "text", "lang")
    val q = TextAnalysis.qualityScore(docs)
      .select("doc_id", "punct_ratio", "stop_ratio", "avg_word_len", "quality_score")
      .collect()
    q.foreach { r =>
      (1 until 5).foreach(i => assert(!r.isNullAt(i), s"NULL in row $r"))
      assert(!r.getDouble(4).isNaN)
    }
    // empty doc: all ratios 0 → score = 0.4*0 + 0.3*0 + 0.3*(1-0) = 0.3
    assert(q.find(_.getLong(0) == 1L).get.getDouble(4) == 0.3)
    val lang = TextAnalysis.langId(docs).select("doc_id", "en_score", "predicted_lang")
      .collect()
    lang.foreach(r => assert(!r.isNullAt(1) && !r.getDouble(1).isNaN))
    assert(lang.find(_.getLong(0) == 1L).get.getString(2) == "unknown")
    // and the decile assignment stays total (every doc lands in a bucket)
    val dec = TextAnalysis.qualityDecilesApprox(docs).collect()
    assert(dec.length == 3)
    dec.foreach(r => assert(!r.isNullAt(2)))
  }

  test("qualityScore: ratios are exact fractions of counted features") {
    val docs = Seq((1L, "the cat sat")).toDF("doc_id", "text")
    val r = TextAnalysis.qualityScore(docs).head()
    assert(r.getAs[Long]("n_words") == 3)
    assert(r.getAs[Long]("n_stop") == 1)
    assert(r.getAs[Double]("stop_ratio") == 1.0 / 3.0)
    assert(r.getAs[Long]("n_punct") == 0)
    assert(r.getAs[Double]("avg_word_len") == 9.0 / 3.0)
  }

  test("langId: CJK beats stopword heuristic; English text detected") {
    val docs = Seq(
      (1L, "the cat and the dog of the house", "en"),
      (2L, "你好世界 the the the", "zh"),
      (3L, "zzz qqq vvv www", "en")
    ).toDF("doc_id", "text", "lang")
    val got = TextAnalysis.langId(docs)
      .select("doc_id", "predicted_lang").as[(Long, String)].collect().toMap
    assert(got(1L) == "en" && got(2L) == "zh" && got(3L) == "unknown")
  }

  test("fingerprint: order-sensitive rolling hash") {
    val a = Seq((1L, "alpha beta gamma"), (2L, "gamma beta alpha")).toDF("doc_id", "text")
    val h = TextAnalysis.fingerprint(a).as[(Long, Long)].collect().toMap
    assert(h(1L) != h(2L))
    val p = 1000000007L
    assert(h.values.forall(v => v >= 0 && v < p))
  }

  test("tfidf: rare terms outrank common ones; log-free idf ratio exact") {
    val docs = Seq(
      (1L, "apple apple banana shared"),
      (2L, "banana cherry shared"),
      (3L, "cherry date shared")).toDF("doc_id", "text")
    val top = TextAnalysis.tfidfTopK(docs, 2)
      .select("doc_id", "term", "score", "rk")
      .as[(Long, String, Double, Int)].collect()
    val byDoc = top.groupBy(_._1).view.mapValues(_.sortBy(_._4).map(_._2).toSeq).toMap
    // doc 1: apple tf=2 df=1 → score 2*(4/2)=4 beats everything
    assert(byDoc(1L).head == "apple")
    val appleScore = top.find(t => t._1 == 1L && t._2 == "apple").get._3
    assert(appleScore == 4.0)
    // 'shared' has df=3 → idf ratio 1.0, never a top term over rarer ones
    assert(!byDoc(1L).contains("shared"))
  }

  test("repetition: duplicate-word and top-bigram fractions") {
    val docs = Seq(
      (1L, "spam spam spam spam"),          // all duplicates, one bigram
      (2L, "all words here are unique")).toDF("doc_id", "text")
    val r = TextAnalysis.repetition(docs)
      .select("doc_id", "dup_word_ratio", "top_bigram_frac")
      .as[(Long, Double, Double)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(r(1L) == ((0.75, 1.0)))  // 1 - 1/4; "spam spam" is every bigram
    assert(r(2L) == ((0.0, 0.25))) // 5 unique words; 4 unique bigrams
  }

  test("normalized strips punctuation and collapses whitespace") {
    val got = Seq(1).toDF("x")
      .select(TextOps.normalized(lit("  Hello,   WORLD!! 42  ")).as("r"))
      .as[String].head()
    assert(got == "hello world 42")
  }

  test("multimodal: binary attach → stub decode roundtrips byte length; frame sampling strides") {
    val docs = Seq((1L, "hello world", 11L), (2L, "ab", 2L))
      .toDF("doc_id", "text", "n_chars")
    val media = Multimodal.attachBinary(docs)
    assert(media.schema("bytes").dataType.typeName == "binary")
    val dec = Multimodal.decodeStub(media)
      .select("media_id", "byte_len", "first_byte").as[(Long, Long, Int)].collect()
      .map { case (id, len, fb) => id -> ((len, fb)) }.toMap
    assert(dec(1L) == ((11L, 'h'.toInt)))
    assert(dec(2L) == ((2L, 'a'.toInt)))
    val frames = Multimodal.frameSample(media, stride = 3)
      .select("media_id", "frame_idx").as[(Long, Int)].collect()
    // doc 1: frame_count = 11 % 30 = 11 → frames 0,3,6,9
    assert(frames.filter(_._1 == 1L).map(_._2).sorted.toSeq == Seq(0, 3, 6, 9))
  }

  test("chunk: windows cover every token, overlap by window-stride, tail runs short") {
    val text10 = (1 to 10).map(i => s"w$i").mkString(" ") // 10 tokens
    val docs = Seq((1L, text10), (2L, "a b c"), (3L, "solo")).toDF("doc_id", "text")
    val out = TextAnalysis.chunk(docs, window = 4, stride = 3)
      .select("doc_id", "chunk_id", "n_chunk_tokens", "chunk_text")
      .as[(Long, Long, Long, String)].collect().sortBy(r => (r._1, r._2))
    // doc 1: chunks at offsets 0,3,6 → [w1..w4],[w4..w7],[w7..w10]
    val d1 = out.filter(_._1 == 1L)
    assert(d1.map(_._4).toSeq == Seq("w1 w2 w3 w4", "w4 w5 w6 w7", "w7 w8 w9 w10"))
    assert(d1.map(_._3).toSeq == Seq(4L, 4L, 4L))
    // every token appears in at least one chunk
    val covered = d1.flatMap(_._4.split(" ")).toSet
    assert(covered == (1 to 10).map(i => s"w$i").toSet)
    // shorter than window → exactly one chunk holding the whole doc
    assert(out.filter(_._1 == 2L).toSeq == Seq((2L, 0L, 3L, "a b c")))
    assert(out.filter(_._1 == 3L).toSeq == Seq((3L, 0L, 1L, "solo")))
  }

  test("tokenBudget: keeps longest-first until the budget is entered, per language") {
    val docs = Seq(
      (1L, "a b c d e f g h", "en"),     // 8 tokens
      (2L, "a b c d e", "en"),           // 5
      (3L, "a b", "en"),                 // 2
      (4L, "x y z", "zh"),               // 3 — under zh budget entirely
      (5L, (1 to 40).map(_ => "t").mkString(" "), "de")) // 40 > budget alone
      .toDF("doc_id", "text", "lang")
    val kept = TextAnalysis.tokenBudget(docs, budgetPerLang = 10L)
      .select("doc_id", "running_tokens").as[(Long, Long)].collect().toMap
    // en: 8 kept (starts at 0), 5 kept (starts at 8 < 10, overruns to 13),
    //     2 dropped (starts at 13 ≥ 10)
    assert(kept.keySet == Set(1L, 2L, 4L, 5L))
    assert(kept(2L) == 13L, "the last kept doc may overrun the budget")
    // a doc larger than the whole budget still enters at 0 — a language
    // is never emptied by a budget smaller than its shortest doc
    assert(kept(5L) == 40L)
  }

  test("redactPii: counts before replacement, email→IP→phone order, typed placeholders") {
    val docs = Seq(
      (1L, "mail a.b+c@ex-1.co.uk or 192.168.0.1 call 555-123-4567 end"),
      (2L, "no pii here at all"),
      (3L, "two mails x@y.io z@w.ai one ip 8.8.8.8")).toDF("doc_id", "text")
    val out = TextAnalysis.redactPii(docs).orderBy("doc_id")
      .as[(Long, Long, Long, Long, String)].collect()
    assert(out(0) == ((1L, 1L, 1L, 1L,
      "mail <EMAIL> or <IP> call <PHONE> end")))
    assert(out(1) == ((2L, 0L, 0L, 0L, "no pii here at all")))
    assert(out(2) == ((3L, 2L, 1L, 0L, "two mails <EMAIL> <EMAIL> one ip <IP>")))
  }

  test("bpeLearn: merge sequence on the hand-computed fixture; pair counts agree") {
    // "aaab"×3, "aab"×2 → (a,a)=8 merges first; then (a,b)=3 beats
    // (aa,a)=3 lexicographically; then (aa,ab)=3
    val docs = Seq((1L, "aaab aaab aab"), (2L, "aaab aab")).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeLearn(docs, nMerges = 3)
    assert(merges == Seq(("a", "a"), ("a", "b"), ("aa", "ab")))
    // iteration zero of the trainer IS the q93 pair query: same argmax
    val top = TextAnalysis.bpePairCounts(docs, 3)
      .as[(String, Long, Int)].collect()
    assert(top.head == (("a a", 8L, 1)))
    assert(top(1) == (("a b", 5L, 2)))
    // merge loop terminates early once words are fully merged
    assert(TextAnalysis.bpeLearn(docs, nMerges = 100).length < 100)
  }

  test("paragraphDedup: first occurrence wins corpus-wide, docs reassemble in order, fully-duplicated doc empties") {
    // window=2 paragraphs; doc2 repeats doc1's first paragraph, doc3 is
    // doc1 verbatim (every paragraph drops), doc4 is clean
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "a b x y"),
      (3L, "a b c d e f"),
      (4L, "p q r s")).toDF("doc_id", "text")
    val got = TextAnalysis.paragraphDedup(docs, window = 2).orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(got == Seq(
      (1L, 3L, 3L, "a b c d e f"),
      (2L, 2L, 1L, "x y"),
      (3L, 3L, 0L, ""),
      (4L, 2L, 2L, "p q r s")))
    // partitioning must not change verdicts or reassembly
    val got32 = TextAnalysis.paragraphDedup(docs.repartition(32), window = 2)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(got32 == got)
  }

  test("bpeLearnDistributed ≡ bpeLearn merge-for-merge; partition-invariant; final state segments like the driver rules") {
    // equal-pair chains ("aaaa"/"aaa") force the greedy-overlap rule
    // through the Column fold; banana exercises multi-char merges
    val docs = Seq((1L, "low low low lower lowest aaaa"),
      (2L, "newest newest widest aaa banana bananas"),
      (3L, "abcabc abcabc xyz")).toDF("doc_id", "text")
    val driver = TextAnalysis.bpeLearn(docs, nMerges = 6)
    val (dist, seg) = TextAnalysis.bpeTrainState(docs, nMerges = 6)
    assert(dist.map(m => (m._2, m._3)) == driver)
    // merge-time pair counts are positive and non-increasing is NOT
    // guaranteed (later merges can beat earlier leftovers), but each cnt
    // must equal the driver loop's count at that round — recompute it
    val vocab: Map[String, Long] = docs.as[(Long, String)].collect()
      .flatMap(_._2.split("\\s+")).filter(_.length >= 2)
      .groupBy(identity).map { case (w, g) => (w, g.length.toLong) }
    val expected = driver.zipWithIndex.map { case ((a, b), idx) =>
      vocab.map { case (w, f) =>
        val syms = TextAnalysis.segmentWord(w, driver.take(idx))
        f * syms.sliding(2).count(p => p.length == 2 && p(0) == a && p(1) == b)
      }.sum
    }
    assert(dist.map(_._4) == expected)
    // the trained state re-segments every vocab word exactly like the
    // driver rule list applied via segmentWord
    val segGot = seg.select("w", "toks").as[(String, Seq[String])].collect().toMap
    segGot.foreach { case (w, toks) =>
      assert(toks == TextAnalysis.segmentWord(w, driver).toSeq, s"word $w")
    }
    // partitioning must not change the learned model (1 vs 32)
    val dist32 = TextAnalysis.bpeTrainState(
      docs.repartition(32), nMerges = 6)._1
    assert(dist32 == dist)
  }

  test("tokenizer training: driver path ≡ forced-distributed path, model and state") {
    // equal-pair chains + ties exercise the argmax tie-break and the
    // greedy-overlap rule on both paths; driverVocabCap = -1 forces the
    // distributed rounds on the same input.
    val docs = Seq((1L, "low low low lower lowest aaaa"),
      (2L, "newest newest widest aaa banana bananas"),
      (3L, "abcabc abcabc xyz ab ab ba xy xy")).toDF("doc_id", "text")
    val (bpeD, bpeSegD) = TextAnalysis.bpeTrainState(docs, nMerges = 6)
    val (bpeX, bpeSegX) = TextAnalysis.bpeTrainState(docs, nMerges = 6,
      driverVocabCap = -1L)
    assert(bpeD == bpeX)
    assert(bpeSegD.select("w", "toks", "freq").as[(String, Seq[String], Long)]
      .collect().map(t => t._1 -> ((t._2, t._3))).toMap ===
      bpeSegX.select("w", "toks", "freq").as[(String, Seq[String], Long)]
        .collect().map(t => t._1 -> ((t._2, t._3))).toMap)
    val (wpD, wpSegD) = TextAnalysis.wordpieceTrainState(docs, nMerges = 6)
    val (wpX, wpSegX) = TextAnalysis.wordpieceTrainState(docs, nMerges = 6,
      driverVocabCap = -1L)
    assert(wpD == wpX) // includes the exact Double scores
    assert(wpSegD.select("w", "toks").as[(String, Seq[String])].collect().toMap ===
      wpSegX.select("w", "toks").as[(String, Seq[String])].collect().toMap)
  }

  test("bpe segment + apply: merges rewrite in learning order, token counts per doc") {
    val merges = Seq(("a", "a"), ("a", "b"), ("aa", "ab"))
    // full rule list collapses the training word; a prefix stops mid-way
    assert(TextAnalysis.segmentWord("aaab", merges).toSeq == Seq("aaab"))
    assert(TextAnalysis.segmentWord("aaab", merges.take(2)).toSeq == Seq("aa", "ab"))
    assert(TextAnalysis.segmentWord("aab", merges).toSeq == Seq("aa", "b"))
    // segmentation always reconstructs the word
    assert(TextAnalysis.segmentWord("banana", merges).mkString == "banana")
    val docs = Seq((1L, "aaab aab xyz"), (2L, "aaab aaab")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeApply(docs, merges).orderBy("doc_id")
      .as[(Long, Long, Long)].collect().toSeq
    // doc1: aaab→1, aab→2, xyz→3 tokens = 6 over 3 words
    // doc2: aaab→1 ×2 = 2 over 2 words
    assert(got == Seq((1L, 3L, 6L), (2L, 2L, 2L)))
  }

  test("wordpiece: likelihood argmax diverges from BPE count argmax; exhausts; scores exact") {
    // counts: (a,b)=4, (b,a)=4, (x,y)=2 — BPE merges (a,b) first; token
    // counts a=8,b=8,x=2,y=2 make score(x,y)=2/4 beat score(a,b)=4/64,
    // so WordPiece merges (x,y) first
    val docs = Seq((1L, "ab ab ab ab ba ba ba ba xy xy")).toDF("doc_id", "text")
    val (merges, seg) = TextAnalysis.wordpieceTrainState(docs, nMerges = 10)
    assert(merges.map(m => (m._2, m._3)) == Seq(("x", "y"), ("a", "b"), ("b", "a")))
    assert(merges.map(_._5) == Seq(0.5, 4.0 / 64, 4.0 / 16))
    assert(TextAnalysis.bpeLearn(docs, nMerges = 1).head == (("a", "b")))
    // trainer stops once nothing pairs; final state fully merged
    val segs = seg.select("w", "toks").as[(String, Seq[String])].collect().toMap
    assert(segs("ab") == Seq("ab") && segs("ba") == Seq("ba") && segs("xy") == Seq("xy"))
  }

  test("wordpieceApply: greedy longest match against the trained vocab; UNK per unseen char") {
    val trainDocs = Seq((1L, "ab ab ab ab ba ba ba ba xy xy")).toDF("doc_id", "text")
    val (merges, trainSeg) = TextAnalysis.wordpieceTrainState(trainDocs, nMerges = 10)
    val vocab = TextAnalysis.wordpieceVocab(trainSeg, merges)
    assert(vocab.toSet == Set("a", "b", "x", "y", "ab", "ba", "xy"))
    val applyDocs = Seq((1L, "abab bab axby"), (2L, "aqb")).toDF("doc_id", "text")
    val got = TextAnalysis.wordpieceApply(applyDocs, vocab).orderBy("doc_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // abab → ab|ab, bab → ba|b (longest-first grabs "ba", not b|ab),
    // axby → a|x|b|y: 8 subtokens, 0 UNK; aqb → a|[UNK q]|b: 3, 1 UNK
    assert(got == Seq((1L, 3L, 8L, 0L), (2L, 1L, 3L, 1L)))
  }

  test("repeatedIntervals covers exactly dropFrequentSpans' dropped tokens; intervals are maximal") {
    // 6 docs share the run "x y z w"; doc 6 also repeats a disjoint "p q r"
    val boiler = "x y z w"
    val docs = ((1L to 5L).map(i => (i, s"u$i $boiler v$i")) :+
      ((6L, s"$boiler a b c p q r")) :+ ((7L, "p q r only here once plus more")))
      .toDF("doc_id", "text")
    val intervals = TextAnalysis.repeatedIntervals(docs, 5L)
      .orderBy("doc_id", "start_pos")
      .select("doc_id", "start_pos", "end_pos", "span_len")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // the shared 4-token run is one maximal interval per doc, at its
    // actual position (2..5 in docs 1-5, 1..4 in doc 6); "p q r" appears
    // in only 2 docs — below minDocs, no interval
    assert(intervals.count(_._1 <= 5) == 5)
    intervals.filter(_._1 <= 5).foreach { case (_, s, e, l) =>
      assert(s == 2 && e == 5 && l == 4)
    }
    assert(intervals.filter(_._1 == 6L) == Seq((6L, 1L, 4L, 4L)))
    assert(!intervals.exists(_._1 == 7L))
    // invariant vs the cutting operator: per-doc covered mass == n_dropped
    val dropped = TextAnalysis.dropFrequentSpans(docs, 5L)
      .select("doc_id", "n_dropped").as[(Long, Long)].collect().toMap
    val coveredByDoc = intervals.groupBy(_._1).view.mapValues(_.map(_._4).sum).toMap
    dropped.foreach { case (d, n) =>
      assert(coveredByDoc.getOrElse(d, 0L) == n, s"doc $d coverage != dropped")
    }
  }

  test("dropFrequentSpans in-stage rebuild: full-coverage, no-coverage and split docs (round-16 rewrite)") {
    // Round 16 rebuilds cleaned_text by filtering the doc's words array
    // against merged covered intervals (no token explode). Pin the three
    // shapes that could diverge from the old token anti-join: a doc cut
    // to nothing (empty-string rebuild), a doc with no frequent shingle
    // (ivs NULL branch keeps everything), and a doc whose two frequent
    // runs sit 4 apart (an over-merged interval would wrongly cut the
    // word between them).
    val docs = ((1L to 5L).map(i => (i, "x y z")) :+
      ((6L, "a6 b6 c6 d6")) :+ ((7L, "p7 x y z q7 x y z"))).toDF("doc_id", "text")
    val got = TextAnalysis.dropFrequentSpans(docs, 5L)
      .select("doc_id", "n_words", "n_kept", "n_dropped", "cleaned_text")
      .as[(Long, Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    (1L to 5L).foreach { d =>
      assert(got(d.toInt - 1) == ((d, 3L, 0L, 3L, "")), s"doc $d: ${got(d.toInt - 1)}")
    }
    assert(got(5) == ((6L, 4L, 4L, 0L, "a6 b6 c6 d6")))
    assert(got(6) == ((7L, 8L, 2L, 6L, "p7 q7")))
  }

  test("repeatedIntervals start-merge: gap-3 starts fuse, gap-4 starts split (round-16 rewrite)") {
    // Round 16 ships start positions (not exploded covered positions)
    // through the doc-keyed exchange; the in-stage merge must treat
    // starts s, s+3 as ONE covered run ([s,s+2] and [s+3,s+5] are
    // adjacent) and starts s, s+4 as TWO (position s+3 is uncovered).
    // doc 1 has the two frequent shingles ADJACENT (starts 1 and 4 —
    // the gap-3 fuse case the old ±1 position-islands logic never saw
    // as a start pattern); docs 2-5 have them separated by one unique
    // word (starts 2 and 6 — gap 4, two intervals).
    val docs = ((2L to 5L).map(i => (i, s"f$i x y z g$i p q r h$i")) :+
      ((1L, "x y z p q r"))).toDF("doc_id", "text")
    val got = TextAnalysis.repeatedIntervals(docs, 5L)
      .orderBy("doc_id", "start_pos")
      .select("doc_id", "start_pos", "end_pos", "span_len")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got.filter(_._1 == 1L) == Seq((1L, 1L, 6L, 6L)),
      s"gap-3 starts must fuse into one interval, got ${got.filter(_._1 == 1L)}")
    (2L to 5L).foreach { d =>
      assert(got.filter(_._1 == d) == Seq((d, 2L, 4L, 3L), (d, 6L, 8L, 3L)),
        s"gap-4 starts must stay two intervals, got ${got.filter(_._1 == d)}")
    }
  }

  test("distributionDrift: identical dists → 0, disjoint vocabs → 1, partition-invariant") {
    import org.apache.spark.sql.functions.col
    val ids = (0L until 300L).toSeq
    val h = ids.toDF("doc_id")
      .select(col("doc_id"),
        (graft.functions.TextOps.hash32(col("doc_id").cast("string")) % 100).as("h"))
      .as[(Long, Long)].collect().toMap
    // identical unigram distributions on both sides of the split
    val same = ids.map(i => (i, "alpha beta beta", "en")).toDF("doc_id", "text", "lang")
    val tvd0 = TextAnalysis.distributionDrift(same).head().getDouble(4)
    assert(tvd0 == 0.0, s"identical dists must give 0, got $tvd0")
    // disjoint vocabularies: TVD = 1 (up to the 2^-40 quantization)
    val disjoint = ids.map { i =>
      val t = if (h(i) < 90) "aa bb cc" else "xx yy zz"
      (i, t, "en")
    }.toDF("doc_id", "text", "lang")
    val tvd1 = TextAnalysis.distributionDrift(disjoint).head().getDouble(4)
    assert(math.abs(tvd1 - 1.0) < 1e-9, s"disjoint vocabs must give 1, got $tvd1")
    // the fixed-point contract: bit-identical across partitionings
    val mixed = ids.map { i =>
      (i, s"tok${i % 17} tok${i % 5} shared common", if (i % 2 == 0) "en" else "de")
    }
    def drift(parts: Int) = TextAnalysis.distributionDrift(
      spark.createDataFrame(spark.sparkContext.parallelize(mixed, parts))
        .toDF("doc_id", "text", "lang"))
      .orderBy("lang").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toSeq
    assert(drift(1) == drift(32), "TVD must be partition-invariant")
  }

  test("normalizeHtml: tags drop, entities decode with &amp; last, whitespace collapses") {
    val docs = Seq(
      (1L, """<html><body><p class="x">a &amp; b</p>  <br/>c</body></html>"""),
      // double-escape: &amp;lt; must become the literal text &lt;, not <
      (2L, "x &amp;lt;y&amp;gt; z"),
      // entity-encoded angle brackets are TEXT, not tags — they survive
      (3L, "keep &lt;b&gt;bold&lt;/b&gt; here"),
      (4L, "&quot;q&quot; &#39;a&#39;&nbsp;end")).toDF("doc_id", "html")
    val got = TextAnalysis.normalizeHtml(docs).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got(0) == ((1L, 7L, 1L, "a & b c")))
    assert(got(1) == ((2L, 0L, 2L, "x &lt;y&gt; z")))
    assert(got(2) == ((3L, 0L, 4L, "keep <b>bold</b> here")))
    assert(got(3) == ((4L, 0L, 5L, "\"q\" 'a' end")))
  }

  test("CDC dedup: insertions re-synchronize; fixed-window chunking does not") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val wordsPool = Vector.tabulate(64)(k => f"w$k%02d${('a' + k % 26).toChar}")
    val base = Seq.fill(400)(wordsPool(rng.nextInt(wordsPool.size))).mkString(" ")
    val shifted = "xy " + base // 3-char insertion at the head
    val docs = Seq((1L, base), (2L, shifted)).toDF("doc_id", "text")
    val got = TextAnalysis.cdcDedup(docs)
      .select("doc_id", "n_chunks", "n_dup_chunks")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val (n1, d1) = got(1L); val (n2, d2) = got(2L)
    assert(d1 <= n1 / 4, s"unexpected within-doc duplication: $d1 of $n1")
    assert(n1 > 10, s"expected many chunks, got $n1") // ~2k chars / ~64
    // the head insertion disturbs only the chunks before the first
    // post-insertion boundary: almost everything re-synchronizes
    assert(d2 >= n2 - 3, s"CDC failed to re-synchronize: $d2 of $n2 dup")
    // the contrast: fixed 16-token windows shift and NOTHING matches
    val fixedDup = TextAnalysis.paragraphDedup(docs, 16)
      .select("doc_id", "n_kept").as[(Long, Long)].collect().toMap
    assert(fixedDup(2L) > 3, "fixed windows should fail to dedup the shifted doc")
  }

  test("native CDC boundary scan matches a direct per-position recompute") {
    import graft.functions.CdcBoundaries._
    val rng = new scala.util.Random(3)
    val fixtures = Seq("", "a", "short", "a" * 7, "b" * 8,
      Seq.fill(500)((' ' + rng.nextInt(95)).toChar).mkString,
      "ascii with ünïcøde BMP chars €µ§ mixed in " * 12)
    fixtures.foreach { s =>
      // reference: hash each position independently from the definition
      val want = (Window to s.length).filter { i =>
        val h = (0 until Window).map(j => s.charAt(i - 1 - j).toLong * Pows(j) % Mod)
          .sum % Mod
        h % Divisor == 0 && i < s.length
      }
      assert(boundaries(s).toSeq == want, s"len=${s.length}")
    }
    // and through the SQL expression path (codegen) on a DataFrame
    import spark.implicits._
    val got = fixtures.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("doc_id", "text")
      .select(col("doc_id"), graft.functions.NativeTextOps.cdcBoundaries(col("text")).as("bs"))
      .as[(Long, Seq[Int])].collect().toMap
    fixtures.zipWithIndex.foreach { case (s, i) =>
      assert(got(i.toLong) == boundaries(s).toSeq, s"codegen path, fixture $i")
    }
  }

  test("CDC dedup: determinism, partition invariance, exact duplicate collapse") {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    val t = Seq.fill(300)(('a' + rng.nextInt(26)).toChar).mkString
    val docs = Seq((1L, t), (2L, t), (3L, "")).toDF("doc_id", "text")
    val a = TextAnalysis.cdcDedup(docs.repartition(1)).orderBy("doc_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    val b = TextAnalysis.cdcDedup(docs.repartition(32)).orderBy("doc_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(a == b, "partition-count changed the result")
    val m = a.map(r => r._1 -> r).toMap
    // doc 2 is byte-identical to doc 1: every chunk is a duplicate
    assert(m(2L)._3 == m(2L)._2 && m(2L)._4 == 0)
    // chunks reassemble the full text: kept chars of doc1 = its length
    assert(m(1L)._4 == t.length && m(1L)._3 == 0)
    // empty doc: one empty chunk, zero kept chars
    assert(m(3L)._2 == 1 && m(3L)._4 == 0)
  }

  test("compressibility: entropy ordering, partition invariance, sublinear self-concat") {
    import spark.implicits._
    val rep = ("spam " * 200).trim
    val prose = "the quick brown fox jumps over the lazy dog and then " +
      "wanders into a field of wild flowers looking for something new to chase " +
      "while the lazy dog sleeps under the old oak tree dreaming of chasing " +
      "the quick brown fox across the field of wild flowers once again and " +
      "the farmer watches them both from the porch wondering about the fox " +
      "and the dog and the field and the flowers and the old oak tree"
    val rng = new scala.util.Random(42)
    val noise = Seq.fill(400)((' ' + rng.nextInt(94)).toChar).mkString
    val docs = Seq((1L, rep), (2L, prose), (3L, noise), (4L, rep + " " + rep))
      .toDF("doc_id", "text")
    val got = TextAnalysis.compressibility(docs)
      .select("doc_id", "n_bytes", "deflate_bytes", "compress_ratio")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    // raw sizes are exact UTF-8 lengths
    assert(got(1L)._2 == rep.length && got(3L)._2 == 400)
    // entropy ordering: repetition << prose < uniform-random letters
    assert(got(1L)._4 < got(2L)._4 && got(2L)._4 < got(3L)._4)
    assert(got(1L)._4 < 0.1 && got(3L)._4 > 0.5)
    // doubling a repetitive doc grows compressed size sublinearly
    assert(got(4L)._3 < 2 * got(1L)._3)
    // partition-count invariance (fixed zlib build, one deflate stream per doc)
    val p1 = TextAnalysis.compressibility(docs.repartition(1))
      .select("doc_id", "deflate_bytes").as[(Long, Long)].collect().sortBy(_._1).toSeq
    val p32 = TextAnalysis.compressibility(docs.repartition(32))
      .select("doc_id", "deflate_bytes").as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(p1 == p32)
    // empty doc pins ratio to 0.0 (the withQualityFeatures convention)
    val e = TextAnalysis.compressibility(Seq((9L, "")).toDF("doc_id", "text"))
      .select("compress_ratio").as[Double].head()
    assert(e == 0.0)
  }

  test("gopherRules: each rule fails on exactly its planted violation, clean doc keeps") {
    val good = ("the quick brown fox jumps to over a lazy dog again and " * 5).trim
    val docs = Seq(
      1L -> good,                                       // passes all six
      2L -> "the of and short",                         // < 50 words
      3L -> (Seq.fill(60)("a").mkString(" ") + " the of"), // mean word len < 3
      4L -> (Seq.fill(60)("12345").mkString(" ") + " the of"), // <80% alphabetic
      5L -> ("zork " * 60).trim,                        // < 2 distinct stopwords
      6L -> (("the of " + "word... ") * 30).trim,       // >10% ellipsis words
      7L -> (("the of " + "tag#x ") * 30).trim          // >10% '#' words
    ).toDF("doc_id", "text")
    val got = TextAnalysis.gopherRules(docs)
      .select("doc_id", "r_wordcount", "r_meanlen", "r_alpha", "r_stop",
        "r_ellipsis", "r_symbol", "keep")
      .as[(Long, Int, Int, Int, Int, Int, Int, Int)].collect()
      .map(t => t._1 -> t).toMap
    assert(got(1L) == ((1L, 1, 1, 1, 1, 1, 1, 1)), s"clean doc: ${got(1L)}")
    assert(got(2L)._2 == 0 && got(2L)._8 == 0, "wordcount rule")
    assert(got(3L)._3 == 0, "mean-length rule")
    assert(got(4L)._4 == 0, "alpha rule")
    assert(got(5L)._5 == 0, "stopword rule")
    assert(got(6L)._6 == 0, "ellipsis rule")
    assert(got(7L)._7 == 0, "symbol rule")
  }

  test("calibrateSpanMinDocs: caller's k below the floor, constant corpus fraction above") {
    // below the floor the threshold is EXACTLY the caller's k — every
    // test-SF oracle hash is unchanged by construction
    assert(TextAnalysis.calibrateSpanMinDocs(5000L, 5L) == 5L)
    assert(TextAnalysis.calibrateSpanMinDocs(20000L, 5L) == 5L)
    // above it the FRACTION k/floor is held: 0.025% of the corpus
    assert(TextAnalysis.calibrateSpanMinDocs(500000L, 5L) == 125L)
    assert(TextAnalysis.calibrateSpanMinDocs(5000000L, 5L) == 1250L)
    // monotone and never below the caller's k
    assert(TextAnalysis.calibrateSpanMinDocs(20001L, 5L) >= 5L)
  }
}
