package graft.queries

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.{NativeVectorOps, TextOps, VectorOps}

/** Training-data pipeline operators beyond dedup/similarity: deterministic
  * dataset splits, text×embedding enrichment, vocabulary building. Each is
  * the shape used at corpus scale — hash-based splits need no global
  * state, the enrichment join is a plain keyed join AQE can size, and the
  * vocab top-k partial-aggregates before one shuffle.
  */
object TrainingQueries {

  /** Shared CTE prefix for the classifier-family oracles (q112–q115):
    * the closed-form integer model (w = clamp(len(token)−4, −2, 5)) over
    * the corpus vocabulary, per-doc integer margins, and lang='en'
    * ground truth.
    */
  private val scoredCte =
    """WITH toks AS (SELECT doc_id,
      |                     unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
      |              FROM documents),
      |wt AS (SELECT token,
      |              CAST(LEAST(GREATEST(LENGTH(token) - 4, -2), 5) AS BIGINT) AS weight
      |       FROM (SELECT DISTINCT token FROM toks)),
      |c AS (SELECT doc_id, token, COUNT(*) AS cnt FROM toks GROUP BY 1, 2),
      |scored AS (SELECT c.doc_id, CAST(SUM(c.cnt * wt.weight) AS BIGINT) AS score,
      |                  MAX(CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END) AS label
      |           FROM c JOIN wt USING (token) JOIN documents d ON c.doc_id = d.doc_id
      |           GROUP BY c.doc_id)""".stripMargin

  /** Spark twin of [[scoredCte]]: (doc_id, score, label). The vocab
    * (weight dim) derivation makes the corpus tokenize twice — that is a
    * TEST-FIXTURE shape, not the production one: in production the dim is
    * the trained bounded model (QualityClassifier.train), so scoring
    * tokenizes once by construction. Persisting the exploded token frame
    * to share the pass measured SLOWER than recomputing (caching a
    * corpus-token-sized stream dominates the second tokenize — the q61
    * persist lesson applies to AGGREGATED frames, not raw exploded ones).
    */
  private def scoredDocs(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val docs = Tables.documents(s, dir)
    val weights = docs
      .select(explode(TextOps.words(col("text"))).as("token")).distinct()
      .select(col("token"),
        least(greatest(length(col("token")) - 4, lit(-2)), lit(5))
          .cast("long").as("weight"))
    graft.operators.QualityClassifier.scoreLinear(docs, weights)
      .select(col("doc_id"), col("margin").as("score"))
      .join(docs.select(col("doc_id"),
        when(col("lang") === "en", 1).otherwise(0).as("label")), Seq("doc_id"))
  }

  val defs: Seq[QueryDef] = Seq(

    // Sequence packing: chunk the doc_id-ordered token stream into
    // 2048-token training sequences via the TWO-PHASE prefix sum
    // (per-bucket totals -> tiny offset dim -> within-bucket cumsum) —
    // no corpus-sized single-partition window. The oracle is the naive
    // global-window formulation: identical integer arithmetic.
    QueryDef("q75_sequence_packing",
      """WITH t AS (SELECT doc_id,
        |                  CAST(length(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |           FROM documents),
        |r AS (SELECT doc_id, n_tokens,
        |             CAST(SUM(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS running_tokens
        |      FROM t)
        |SELECT doc_id, n_tokens, running_tokens,
        |       (running_tokens - 1) // 2048 AS seq_id
        |FROM r ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.operators.SequencePack.pack(Tables.documents(s, dir), 2048L)
        .orderBy("doc_id")
    },

    // Packing manifest — the loader-side metadata over q75's sequences:
    // per packed sequence its document span, token mass, and cumulative
    // end position. This is what a training data-loader actually reads
    // (which docs to fetch per sequence, where the pack boundary falls);
    // seq-dim-sized output from one agg over the q75 frame.
    QueryDef("q186_packing_manifest",
      """WITH t AS (SELECT doc_id,
        |                  CAST(length(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |           FROM documents),
        |r AS (SELECT doc_id, n_tokens,
        |             CAST(SUM(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS running_tokens
        |      FROM t),
        |s AS (SELECT doc_id, n_tokens, running_tokens,
        |             (running_tokens - 1) // 2048 AS seq_id
        |      FROM r)
        |SELECT seq_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(MIN(doc_id) AS BIGINT) AS first_doc,
        |       CAST(MAX(doc_id) AS BIGINT) AS last_doc,
        |       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
        |       CAST(MAX(running_tokens) AS BIGINT) AS end_running
        |FROM s GROUP BY seq_id ORDER BY seq_id""".stripMargin) { (s, dir) =>
      graft.operators.SequencePack.pack(Tables.documents(s, dir), 2048L)
        .groupBy("seq_id")
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"),
          sum(col("n_tokens")).as("sum_tokens"),
          max(col("running_tokens")).as("end_running"))
        .orderBy("seq_id")
    },

    // Deterministic train/val split: bucket = md5-hash of the KEY (never
    // random()), so membership is stable across runs, engines, and
    // re-partitioning — the property that makes a 100 TB split reproducible.
    QueryDef("q53_hash_split",
      s"""SELECT doc_id,
        |       CASE WHEN (${TextOps.hash32Sql("CAST(doc_id AS VARCHAR)")} % 100) < 90
        |            THEN 'train' ELSE 'val' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          when(TextOps.hash32(col("doc_id").cast("string")) % 100 < 90, "train")
            .otherwise("val").as("split"))
        .orderBy("doc_id")
    },

    // Deterministic stratified sampling: per-language keep rates (basis
    // points) over a hash of the KEY — sampleBy minus the RNG, so the
    // downsample is reproducible and oracle-verifiable at any scale.
    QueryDef("q63_stratified_sample",
      s"""SELECT doc_id, lang
        |FROM documents
        |WHERE (${TextOps.hash32Sql("CAST(doc_id AS VARCHAR)")} % 10000) <
        |      (CASE lang WHEN 'en' THEN 9000 WHEN 'zh' THEN 5000 ELSE 2500 END)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.operators.Sampling.stratified(
        Tables.documents(s, dir).select("doc_id", "lang"),
        keyCol = col("doc_id"), groupCol = col("lang"),
        ratesBp = Map("en" -> 9000, "zh" -> 5000), defaultBp = 2500)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },

    // Weighted (importance) sampling: keep-probability ramps with length
    // (short docs downsampled), membership a pure function of the key —
    // the deterministic analogue of rand() < weight.
    QueryDef("q84_weighted_sample",
      s"""SELECT doc_id, lang, source, n_chars
        |FROM documents
        |WHERE (${TextOps.hash32Sql("CAST(doc_id AS VARCHAR)")} % 10000) <
        |      least(1.0, n_chars / 400.0) * 10000
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.operators.Sampling.weighted(
        Tables.documents(s, dir).select("doc_id", "lang", "source", "n_chars"),
        keyCol = col("doc_id"),
        weight = least(lit(1.0), col("n_chars") / lit(400.0)))
        .orderBy("doc_id")
    },

    // Data-mixture rebalancing to target language proportions: the
    // scarcest group binds the total (fr keeps all rows), quotas are
    // floor(share·T), membership exact via per-group (hash, key) rank.
    QueryDef("q85_lang_mixture",
      s"""WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
        |s AS (SELECT * FROM (VALUES ('en', CAST(0.4 AS DOUBLE)), ('de', CAST(0.15 AS DOUBLE)),
        |                            ('es', CAST(0.15 AS DOUBLE)), ('fr', CAST(0.15 AS DOUBLE)),
        |                            ('zh', CAST(0.15 AS DOUBLE))) t(lang, share)),
        |t AS (SELECT MIN(n / share) AS total FROM c JOIN s USING (lang)),
        |q AS (SELECT c.lang, CAST(least(c.n, floor(s.share * t.total + 1e-9)) AS BIGINT) AS quota
        |      FROM c JOIN s USING (lang), t),
        |r AS (SELECT d.doc_id, d.lang, d.source, d.n_chars,
        |             row_number() OVER (PARTITION BY d.lang
        |                 ORDER BY ${TextOps.hash32Sql("CAST(d.doc_id AS VARCHAR)")} % 10000,
        |                          d.doc_id) AS rk
        |      FROM documents d)
        |SELECT r.doc_id, r.lang, r.source, r.n_chars
        |FROM r JOIN q USING (lang) WHERE r.rk <= q.quota
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.operators.Sampling.mixture(
        Tables.documents(s, dir).select("doc_id", "lang", "source", "n_chars"),
        keyCol = col("doc_id"), groupCol = col("lang"),
        targetShares = Map("en" -> 0.4, "de" -> 0.15, "es" -> 0.15,
          "fr" -> 0.15, "zh" -> 0.15))
        .orderBy("doc_id")
    },

    // Deterministic upsampling (the epochs side of data mixing): weights
    // in basis points — zh 2.4 epochs, de 1.5, en 1.0, default 0.5.
    // Whole copies = bp div 10000; the fractional copy goes to rows with
    // hash(key) < bp mod 10000 — expected multiplicity exactly bp/10000,
    // membership a pure function of the key. Map-side broadcast + explode.
    QueryDef("q116_upsample_epochs",
      s"""WITH w AS (SELECT * FROM (VALUES ('zh', 24000), ('de', 15000),
        |                                  ('en', 10000)) t(lang, bp)),
        |d AS (SELECT doc_id, documents.lang, COALESCE(w.bp, 5000) AS bp
        |      FROM documents LEFT JOIN w ON documents.lang = w.lang),
        |n AS (SELECT doc_id, lang,
        |             CAST(bp // 10000 AS BIGINT) +
        |             CASE WHEN (${TextOps.hash32Sql("CAST(doc_id AS VARCHAR)")} % 10000)
        |                       < bp % 10000 THEN 1 ELSE 0 END AS n_copies
        |      FROM d)
        |SELECT doc_id, lang, CAST(u.c AS BIGINT) AS copy
        |FROM n, UNNEST(range(1, n_copies + 1)) AS u(c)
        |ORDER BY doc_id, copy""".stripMargin) { (s, dir) =>
      graft.operators.Sampling.upsample(
        Tables.documents(s, dir).select("doc_id", "lang"),
        keyCol = col("doc_id"), groupCol = col("lang"),
        weightsBp = Map("zh" -> 24000, "de" -> 15000, "en" -> 10000),
        defaultBp = 5000)
        .orderBy("doc_id", "copy")
    },

    // Text × embedding enrichment: token counts beside the vector norm
    // (via the native graft_dot expression) — the multimodal join every
    // curriculum/filtering stage starts from.
    QueryDef("q54_doc_embedding",
      s"""SELECT d.doc_id, e.label,
        |       CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT) AS n_ws_tokens,
        |       sqrt(${VectorOps.dotSql("emb", "emb", 64)}) AS emb_norm
        |FROM documents d
        |JOIN (SELECT vec_id, embedding::DOUBLE[] AS emb, label FROM embeddings) e
        |  ON d.doc_id = e.vec_id
        |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("n_ws_tokens"))
      val embs = Tables.embeddings(s, dir)
        .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("emb"), col("label"))
      docs.join(embs, col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("label"), col("n_ws_tokens"),
          sqrt(NativeVectorOps.dot(col("emb"), col("emb"))).as("emb_norm"))
        .orderBy("doc_id")
    },

    // Interval join — views within ±30 min of each purchase, per user,
    // via the bucketed RangeJoin (equi-join on (key, time-bin), never the
    // quadratic theta join the oracle is allowed to run at its SF).
    QueryDef("q56_interval_join",
      """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, ts FROM events WHERE event_type = 'view')
        |SELECT p.event_id, COUNT(v.ts) AS n_views_30m
        |FROM p LEFT JOIN v
        |  ON p.user_id = v.user_id
        | AND abs(epoch_us(p.ts) - epoch_us(v.ts)) <= 1800000000
        |GROUP BY p.event_id ORDER BY p.event_id""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val views = ev.filter(col("event_type") === "view").select("user_id", "ts")
      val counts = graft.operators.RangeJoin
        .within(purchases, views, "user_id", "ts", "ts", 1800000000L)
        .groupBy("event_id").agg(count(lit(1)).as("n_views_30m"))
      purchases.select("event_id").join(counts, Seq("event_id"), "left_outer")
        .select(col("event_id"), coalesce(col("n_views_30m"), lit(0L)).as("n_views_30m"))
        .orderBy("event_id")
    },

    // Vocabulary: global top-50 tokens by frequency, deterministic
    // tie-break on the token. Partial aggregation combines map-side; the
    // top-k is a TakeOrdered (per-partition heap + driver merge), not a
    // global sort.
    QueryDef("q55_vocab_topk",
      s"""SELECT w, COUNT(*) AS freq
        |FROM (SELECT unnest(${TextOps.wordsSql}) AS w FROM documents)
        |GROUP BY w
        |ORDER BY freq DESC, w
        |LIMIT 50""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(explode(TextOps.words(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("w"))
        .limit(50)
    },

    // Overlapping token-window chunking (window 32, stride 24): the
    // embedding-pipeline splitter. Pure map-side explode — no shuffle at
    // any scale; the oracle replays the same slice arithmetic in DuckDB.
    QueryDef("q88_chunking",
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |           FROM documents),
        |n AS (SELECT doc_id, toks, CAST(length(toks) AS BIGINT) AS n FROM t),
        |c AS (SELECT doc_id, toks, n,
        |             unnest(range(0, greatest(CAST(0 AS BIGINT),
        |                    CAST(ceil((n - 32) / 24.0) AS BIGINT)) + 1)) AS chunk_id
        |      FROM n)
        |SELECT doc_id, chunk_id,
        |       CAST(least(32, n - chunk_id * 24) AS BIGINT) AS n_chunk_tokens,
        |       array_to_string(list_slice(toks, chunk_id * 24 + 1, chunk_id * 24 + 32), ' ')
        |         AS chunk_text
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin) { (s, dir) =>
      graft.operators.TextAnalysis.chunk(Tables.documents(s, dir), window = 32, stride = 24)
        .orderBy("doc_id", "chunk_id")
    },

    // Per-language token-budget selection: longest-first priority, keep
    // while the doc STARTS within the language's budget. (lang)-keyed
    // running-sum window — no global sort.
    QueryDef("q89_token_budget",
      """WITH t AS (SELECT doc_id, lang,
        |                  CAST(length(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |                    AS n_tokens
        |           FROM documents),
        |r AS (SELECT doc_id, lang, n_tokens,
        |             CAST(SUM(n_tokens) OVER (PARTITION BY lang
        |                    ORDER BY n_tokens DESC, doc_id) AS BIGINT) AS running_tokens
        |      FROM t)
        |SELECT doc_id, lang, n_tokens, running_tokens
        |FROM r WHERE running_tokens - n_tokens < 5000
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.operators.TextAnalysis.tokenBudget(Tables.documents(s, dir), budgetPerLang = 5000L)
        .orderBy("doc_id")
    },

    // Linear quality-classifier inference (the fastText/DCLM curation
    // shape): margin = Σ cnt(token)·w(token) over a broadcast (token,
    // weight) dim, label = margin > 0. The dim here is a closed-form
    // integer model (w = clamp(len(token)−4, −2, 5)) derived from the
    // corpus vocabulary in BOTH engines, so the margins are exact
    // integer arithmetic and hash-match. In production the dim is the
    // bounded trained vocabulary from QualityClassifier.train — the
    // plumbing under test (explode → broadcast weight join → doc-keyed
    // sum) is identical.
    QueryDef("q112_classifier_score",
      """WITH toks AS (SELECT doc_id,
        |                     unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
        |              FROM documents),
        |wt AS (SELECT token,
        |              CAST(LEAST(GREATEST(LENGTH(token) - 4, -2), 5) AS BIGINT) AS weight
        |       FROM (SELECT DISTINCT token FROM toks)),
        |c AS (SELECT doc_id, token, COUNT(*) AS cnt FROM toks GROUP BY 1, 2)
        |SELECT c.doc_id, CAST(SUM(c.cnt * wt.weight) AS BIGINT) AS margin,
        |       CASE WHEN SUM(c.cnt * wt.weight) > 0 THEN 1 ELSE 0 END AS label
        |FROM c JOIN wt USING (token)
        |GROUP BY c.doc_id
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // the vocab derivation's second tokenize is fixture-only — see
      // scoredDocs; production scores against the trained bounded dim
      val docs = Tables.documents(s, dir)
      val weights = docs
        .select(explode(TextOps.words(col("text"))).as("token")).distinct()
        .select(col("token"),
          least(greatest(length(col("token")) - 4, lit(-2)), lit(5))
            .cast("long").as("weight"))
      graft.operators.QualityClassifier.scoreLinear(docs, weights)
        .orderBy("doc_id")
    },

    // Classifier evaluation: the precision/recall curve of q112's scorer
    // against lang='en' ground truth — one row per distinct margin,
    // confusion counts for "positive iff margin ≥ threshold". The corpus
    // collapses to the distinct-score dim BEFORE the cumulative window
    // (sketch-sized exchange); counts are exact BIGINTs and the
    // P/R/F1 ratios single divisions of them, so the curve hash-matches.
    QueryDef("q113_classifier_eval",
      scoredCte +
      """,
        |by_score AS (SELECT score AS threshold, COUNT(*) AS n,
        |                    CAST(SUM(label) AS BIGINT) AS n_pos
        |             FROM scored GROUP BY score),
        |cum AS (SELECT threshold,
        |               CAST(SUM(n_pos) OVER w AS BIGINT) AS tp,
        |               CAST(SUM(n - n_pos) OVER w AS BIGINT) AS fp,
        |               CAST((SELECT SUM(n_pos) FROM by_score) AS BIGINT) AS pos_total
        |        FROM by_score
        |        WINDOW w AS (ORDER BY threshold DESC
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT threshold, tp, fp, (pos_total - tp) AS fn,
        |       CAST(tp AS DOUBLE) / (tp + fp) AS precision,
        |       CAST(tp AS DOUBLE) / pos_total AS recall,
        |       (2.0 * tp) / (2.0 * tp + fp + (pos_total - tp)) AS f1
        |FROM cum ORDER BY threshold DESC""".stripMargin) { (s, dir) =>
      graft.operators.QualityClassifier.prCurve(scoredDocs(s, dir))
        .orderBy(col("threshold").desc)
    },

    // Exact ROC-AUC by the rank-sum identity: 2U = Σ_s n⁺(s)·(2·n⁻(<s) +
    // n⁻(s)) over the distinct-score dim — pure integer arithmetic, one
    // terminal division. No trapezoid float accumulation, so the AUC
    // hash-matches cross-engine. Same scored corpus as q113.
    QueryDef("q114_roc_auc",
      scoredCte +
      """,
        |by_score AS (SELECT score AS s, CAST(SUM(label) AS BIGINT) AS n_pos,
        |                    CAST(SUM(1 - label) AS BIGINT) AS n_neg
        |             FROM scored GROUP BY score),
        |cum AS (SELECT s, n_pos, n_neg,
        |               COALESCE(CAST(SUM(n_neg) OVER (ORDER BY s
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
        |                   0) AS neg_below
        |        FROM by_score),
        |agg AS (SELECT CAST(SUM(n_pos * (2 * neg_below + n_neg)) AS BIGINT) AS u2,
        |               CAST(SUM(n_pos) AS BIGINT) AS pos_total,
        |               CAST(SUM(n_neg) AS BIGINT) AS neg_total
        |        FROM cum)
        |SELECT CAST(u2 AS DOUBLE) / (2.0 * pos_total * neg_total) AS auc,
        |       pos_total, neg_total, u2
        |FROM agg""".stripMargin) { (s, dir) =>
      graft.operators.QualityClassifier.rocAuc(scoredDocs(s, dir))
    },

    // Score-band reliability (calibration) table: band = floor(margin /
    // 25), per band exact counts + one-division positive rate. Binning
    // the raw margin keeps exp() off the cross-engine path; pure keyed
    // aggregation, band count bounded by the margin range.
    QueryDef("q115_calibration",
      scoredCte +
      """
        |SELECT CAST(FLOOR(score / 25.0) AS BIGINT) AS band,
        |       CAST(FLOOR(score / 25.0) AS BIGINT) * 25 AS band_lo,
        |       COUNT(*) AS n,
        |       CAST(SUM(label) AS BIGINT) AS n_pos,
        |       CAST(SUM(label) AS DOUBLE) / COUNT(*) AS pos_rate
        |FROM scored GROUP BY 1 ORDER BY band""".stripMargin) { (s, dir) =>
      graft.operators.QualityClassifier.calibration(scoredDocs(s, dir), bandWidth = 25L)
        .orderBy("band")
    },

    // The DCLM selection step: keep the top 30% of each language by
    // classifier margin. Cutoff = per-lang order statistic at asc rank
    // ceil(0.7·n_g) (the q104/q77 exact-regime convention), keep =
    // strictly above (q72's tie rule). Every row emits its verdict —
    // the selection is auditable, and the cutoff stays integer.
    QueryDef("q121_select_top_frac",
      scoredCte +
      """,
        |l AS (SELECT s.doc_id, d.lang, s.score
        |      FROM scored s JOIN documents d USING (doc_id)),
        |r AS (SELECT lang, score,
        |             row_number() OVER (PARTITION BY lang ORDER BY score) AS rn,
        |             COUNT(*) OVER (PARTITION BY lang) AS n
        |      FROM l),
        |cuts AS (SELECT lang,
        |                CAST(min(CASE WHEN rn = CAST(ceil(0.7 * n) AS BIGINT)
        |                         THEN score END) AS BIGINT) AS cutoff
        |         FROM r GROUP BY lang)
        |SELECT l.doc_id, l.lang, l.score, c.cutoff, l.score > c.cutoff AS kept
        |FROM l JOIN cuts c USING (lang)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val scored = scoredDocs(s, dir)
        .join(Tables.documents(s, dir).select("doc_id", "lang"), Seq("doc_id"))
        .select("doc_id", "lang", "score")
      graft.operators.QualityClassifier.selectTopFraction(scored, "lang", frac = 0.3)
        .select("doc_id", "lang", "score", "cutoff", "kept")
        .orderBy("doc_id")
    },

    // Deterministic fixed-k reservoir per group (round 7): exactly 20
    // docs per language, drawn by (md5-hash, key) rank — the
    // "k eval examples per stratum" primitive q63's RATE-based sampling
    // cannot express on skewed strata. Membership is a pure function of
    // the keys (reproducible across engines/runs/partitionings), and rn
    // is the draw order, so any prefix rn <= j is itself the exact
    // k = j draw. Spark pushes rn <= k into a per-partition group-limit
    // before the shuffle (SamplingSpec pins the plan).
    QueryDef("q157_reservoir_k",
      """WITH r AS (
        |  SELECT lang, doc_id,
        |         CAST(row_number() OVER (PARTITION BY lang
        |              ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT,
        |                       doc_id) AS INT) AS rn
        |  FROM documents)
        |SELECT lang, doc_id, rn FROM r WHERE rn <= 20
        |ORDER BY lang, rn""".stripMargin) { (s, dir) =>
      graft.operators.Sampling.reservoirK(
        Tables.documents(s, dir).select("lang", "doc_id"),
        col("doc_id"), col("lang"), k = 20)
        .select("lang", "doc_id", "rn")
        .orderBy("lang", "rn")
    },

    // Curriculum schedule (Sampling.curriculum): three epochs annealing
    // from the top-3 quality deciles to the full corpus (caps 3/6/10),
    // deciles from q166's sketch boundaries (decile 1 = best — never a
    // corpus-wide rank sort), order shard-local per epoch so trainers
    // stream shards independently. Epoch membership is a map-side array
    // filter; everything hash-deterministic.
    QueryDef("q202_curriculum",
      s"""WITH vi AS (SELECT doc_id, GREATEST(CAST(n_chars AS BIGINT), 1) AS v
        |            FROM documents),
        |bnd AS (SELECT doc_id, v, LENGTH(BIN(v)) - 1 AS e FROM vi),
        |b AS (SELECT doc_id,
        |             CASE WHEN e <= 4 THEN v
        |                  ELSE CAST(e - 4 AS BIGINT) * 16 + (v >> (e - 4)) END AS bin
        |      FROM bnd),
        |h AS (SELECT bin, COUNT(*) AS cnt FROM b GROUP BY 1),
        |c AS (SELECT bin, SUM(cnt) OVER (ORDER BY bin) AS cum,
        |             SUM(cnt) OVER () AS n
        |      FROM h),
        |bound AS (SELECT k, MIN(CASE WHEN cum * 10 >= n * k THEN bin END) AS bk
        |          FROM c, (SELECT unnest(range(1, 10)) AS k) ks GROUP BY k),
        |bn AS (SELECT b.doc_id,
        |              CAST(SUM(CASE WHEN b.bin >= bound.bk THEN 1 ELSE 0 END)
        |                   AS INT) AS bin_id
        |       FROM b, bound GROUP BY b.doc_id),
        |d AS (SELECT doc_id AS key, 10 - bin_id AS decile,
        |             ${TextOps.hash32Sql("CAST(doc_id AS VARCHAR)")} AS hsh
        |      FROM bn),
        |ep AS (SELECT * FROM (VALUES (1, 3), (2, 6), (3, 10)) e(epoch, cap)),
        |x AS (SELECT ep.epoch, d.hsh % 4 AS shard, d.key, d.decile, d.hsh
        |      FROM d JOIN ep ON ep.cap >= d.decile)
        |SELECT epoch, shard,
        |       CAST(row_number() OVER (PARTITION BY epoch, shard
        |            ORDER BY hsh, key) AS BIGINT) AS seq,
        |       key, decile
        |FROM x ORDER BY epoch, shard, seq""".stripMargin) { (s, dir) =>
      graft.operators.Sampling.curriculum(
        Tables.documents(s, dir).select("doc_id", "n_chars"),
        col("doc_id"), col("n_chars"),
        epochCaps = Seq(3, 6, 10), nShards = 4)
        .orderBy("epoch", "shard", "seq")
    },

    // √-capped mixture (Sampling.sqrtCapped): each language keeps
    // min(n, 3·⌊√n⌋) docs — the multilingual temperature heuristic
    // (T = 2) in its exactly-verifiable form: IEEE sqrt is correctly
    // rounded in both engines (pow/exp are not), so quotas AND the
    // hash-rank membership are engine-exact.
    QueryDef("q203_sqrt_capped",
      s"""WITH r AS (SELECT doc_id, lang,
        |       CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS n,
        |       CAST(row_number() OVER (PARTITION BY lang
        |            ORDER BY ${TextOps.hash32Sql("CAST(doc_id AS VARCHAR)")}
        |              % ${graft.operators.Sampling.Modulus},
        |            doc_id) AS BIGINT) AS rn
        |       FROM documents)
        |SELECT doc_id, lang
        |FROM r
        |WHERE rn <= LEAST(n, 3 * CAST(FLOOR(SQRT(CAST(n AS DOUBLE))) AS BIGINT))
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.operators.Sampling.sqrtCapped(
        Tables.documents(s, dir).select("doc_id", "lang"),
        col("doc_id"), col("lang"), c = 3L)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },

    // Rendezvous re-sharding movement matrix (Storage.rendezvousShard):
    // every doc's HRW shard under n=8 vs n=9 — the minimal-movement
    // property is VISIBLE in the output: off-diagonal mass lands only
    // in the new shard 8 (≈1/9 of keys), where `hash mod n` would
    // scatter nearly everything. Pure per-row scalars, both engines
    // evaluate the same GREATEST-of-md5-scores expression.
    QueryDef("q205_rendezvous_shards",
      s"""WITH a AS (SELECT doc_id,
        |  ${graft.sources.Storage.rendezvousShardSql("CAST(doc_id AS VARCHAR)", 8)}
        |    AS old_shard,
        |  ${graft.sources.Storage.rendezvousShardSql("CAST(doc_id AS VARCHAR)", 9)}
        |    AS new_shard
        |  FROM documents)
        |SELECT old_shard, new_shard, CAST(COUNT(*) AS BIGINT) AS n
        |FROM a GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        graft.sources.Storage.rendezvousShard(col("doc_id"), 8).as("old_shard"),
        graft.sources.Storage.rendezvousShard(col("doc_id"), 9).as("new_shard"))
        .groupBy("old_shard", "new_shard").agg(count(lit(1)).as("n"))
        .orderBy("old_shard", "new_shard")
    }
  )
}
