package graft.queries

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.TextOps
import graft.operators.{Dedup, TextAnalysis}

/** Dedup operator queries over `documents`, each with a DuckDB oracle that
  * reproduces the exact hash arithmetic (md5-32) and fold order.
  */
object DedupQueries {

  // Shared oracle CTEs: words → distinct 3-gram shingles per doc.
  private val shinglesCte =
    s"""WITH t AS (SELECT doc_id, ${TextOps.wordsSql} AS ws FROM documents),
      |sh0 AS (SELECT doc_id, unnest(${TextOps.shingles3Sql("ws")}) AS shingle FROM t),
      |sh AS (SELECT DISTINCT doc_id, shingle FROM sh0)""".stripMargin

  // Permutation coefficients embedded as literals from the SAME Scala
  // functions the Spark operator uses (Dedup.permA/permB) — parity by
  // construction.
  private val coefValues = (0 until 16)
    .map(j => s"(${j}, ${Dedup.permA(j)}, ${Dedup.permB(j)})").mkString(", ")

  private val minhashCte =
    shinglesCte +
      s""",
      |mhb AS (SELECT doc_id, (${TextOps.hash32Sql("shingle")} & 2147483647) AS base31 FROM sh),
      |coef AS (SELECT * FROM (VALUES $coefValues) AS c(j, a, b)),
      |mh AS (SELECT doc_id, CAST(j AS INT) AS perm,
      |              min((a * base31 + b) % ${Dedup.MinhashMod}) AS h
      |       FROM mhb, coef
      |       GROUP BY doc_id, j)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // Exact dedup — canonical representative per identical text.
    QueryDef("q30_dedup_exact",
      """SELECT md5(text) AS text_md5, min(doc_id) AS canonical_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY text
        |ORDER BY canonical_id""".stripMargin) { (s, dir) =>
      Dedup.exact(Tables.documents(s, dir))
        .select("text_md5", "canonical_id", "n_copies")
        .orderBy("canonical_id")
    },

    // Near-exact dedup on normalized text.
    QueryDef("q31_dedup_fingerprint",
      s"""SELECT doc_id, md5(${TextOps.normalizedSql}) AS fp,
        |       min(doc_id) OVER (PARTITION BY md5(${TextOps.normalizedSql})) AS canonical_id,
        |       CAST(doc_id <> min(doc_id) OVER (PARTITION BY md5(${TextOps.normalizedSql})) AS INT) AS is_dup
        |FROM documents
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Dedup.fingerprint(Tables.documents(s, dir)).orderBy("doc_id")
    },

    // MinHash signatures (16 permutations, md5-32 hash family).
    QueryDef("q32_minhash_signatures",
      minhashCte + "\nSELECT doc_id, perm, h FROM mh ORDER BY doc_id, perm") { (s, dir) =>
      Dedup.minhashSignatures(Tables.documents(s, dir), 16)
        .select("doc_id", "perm", "h")
        .orderBy("doc_id", "perm")
    },

    // LSH banding (8 bands × 2 hashes) → candidate near-dup pairs.
    QueryDef("q33_minhash_pairs",
      minhashCte +
        """,
        |bands AS (SELECT doc_id, CAST(perm // 2 AS INT) AS band,
        |                 md5(string_agg(CAST(h AS VARCHAR), ',' ORDER BY perm)) AS bh
        |          FROM mh GROUP BY doc_id, perm // 2)
        |SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
        |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
      Dedup.lshCandidatePairs(Dedup.minhashWide(Tables.documents(s, dir), 16), 2, 16)
        .orderBy("d1", "d2")
    },

    // SimHash (32-bit, frequency-weighted votes).
    QueryDef("q34_simhash",
      s"""WITH w0 AS (SELECT doc_id, unnest(${TextOps.wordsSql}) AS w FROM documents),
        |wt AS (SELECT doc_id, w, COUNT(*) AS f FROM w0 GROUP BY doc_id, w),
        |wh AS (SELECT doc_id, f, ${TextOps.hash32Sql("w")} AS h FROM wt),
        |bits AS (SELECT doc_id, b,
        |                CASE WHEN SUM(CASE WHEN ((h >> b) & 1) = 1 THEN f ELSE -f END) > 0
        |                     THEN (1::BIGINT << b) ELSE 0 END AS bitv
        |         FROM wh, (SELECT unnest(range(0, 32)) AS b) g
        |         GROUP BY doc_id, b)
        |SELECT doc_id, CAST(SUM(bitv) AS BIGINT) AS simhash
        |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Dedup.simhash(Tables.documents(s, dir), 32).orderBy("doc_id")
    },

    // Exact n-gram Jaccard: query docs (doc_id<10) vs corpus, top-5 each.
    QueryDef("q35_jaccard_topk",
      shinglesCte +
        """,
        |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (SELECT q.doc_id AS q_id, d.doc_id AS d_id, COUNT(*) AS common
        |          FROM sh q JOIN sh d ON q.shingle = d.shingle
        |          WHERE q.doc_id < 10 AND d.doc_id <> q.doc_id
        |          GROUP BY q.doc_id, d.doc_id),
        |j AS (SELECT q_id, d_id,
        |             CAST(common AS DOUBLE) / (sq.sz + sd.sz - common) AS jaccard
        |      FROM inter
        |      JOIN sz sq ON sq.doc_id = q_id
        |      JOIN sz sd ON sd.doc_id = d_id)
        |SELECT q_id, d_id, jaccard,
        |       CAST(row_number() OVER (PARTITION BY q_id ORDER BY jaccard DESC, d_id) AS INT) AS rk
        |FROM j
        |QUALIFY rk <= 5
        |ORDER BY q_id, rk""".stripMargin) { (s, dir) =>
      Dedup.jaccardTopK(Tables.documents(s, dir), 10L, 5)
        .orderBy("q_id", "rk")
    },

    // One-sided shingle containment: doc a (near-)contained in doc b —
    // the truncation/quote relationship symmetric Jaccard under-scores.
    // Spark prunes candidates with the exact PPJoin prefix bound; the
    // oracle is the NAIVE all-co-occurring-pairs formulation, so the
    // hash-match verifies the prefix filter is lossless, not just
    // self-consistent. Threshold in integer math (common·100 ≥ 70·sz).
    QueryDef("q86_containment",
      shinglesCte +
        """,
        |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS common
        |          FROM sh x JOIN sh y ON y.shingle = x.shingle
        |                              AND y.doc_id <> x.doc_id
        |          GROUP BY x.doc_id, y.doc_id)
        |SELECT i.a, i.b, common, s.sz AS sz_a,
        |       CAST(common AS DOUBLE) / s.sz AS containment
        |FROM inter i JOIN sz s ON s.doc_id = i.a
        |WHERE common * 100 >= 70 * s.sz
        |ORDER BY a, b""".stripMargin) { (s, dir) =>
      Dedup.containmentPairs(Tables.documents(s, dir), 70)
        .orderBy("a", "b")
    },

    // Dedup terminal: LSH near-dup clusters reduced to one best-quality
    // survivor each (longest text, ties to smallest id); singletons keep
    // themselves. Oracle closes the same LSH pairs with a recursive CTE.
    QueryDef("q87_keep_canonical",
      minhashCte.replaceFirst("WITH", "WITH RECURSIVE") +
        """,
        |bands AS (SELECT doc_id, CAST(perm // 2 AS INT) AS band,
        |                 md5(string_agg(CAST(h AS VARCHAR), ',' ORDER BY perm)) AS bh
        |          FROM mh GROUP BY doc_id, perm // 2),
        |nd AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |       FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
        |                                 AND a.doc_id < b.doc_id),
        |edges AS (SELECT d1 AS src, d2 AS dst FROM nd
        |          UNION SELECT d2, d1 FROM nd),
        |verts AS (SELECT DISTINCT src AS v FROM edges),
        |r(v, label) AS (
        |    SELECT v, v FROM verts
        |    UNION
        |    SELECT e2.dst, r.label FROM r JOIN edges e2 ON e2.src = r.v),
        |cc AS (SELECT v, min(label) AS cluster_id FROM r GROUP BY v),
        |lab AS (SELECT d.doc_id, COALESCE(cc.cluster_id, d.doc_id) AS cluster_id, d.n_chars
        |        FROM documents d LEFT JOIN cc ON cc.v = d.doc_id)
        |SELECT doc_id, cluster_id, n_chars,
        |       CAST(row_number() OVER (PARTITION BY cluster_id
        |            ORDER BY n_chars DESC, doc_id) = 1 AS INT) AS kept
        |FROM lab
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Dedup.keepCanonical(Tables.documents(s, dir)).orderBy("doc_id")
    },

    // Train/eval contamination: eval docs (q53's deterministic hash
    // split) sharing any word-shingle with the train split — the
    // decontamination pass run before reporting benchmark numbers.
    QueryDef("q74_contamination",
      shinglesCte +
        s""",
        |sp AS (SELECT doc_id, shingle,
        |              CASE WHEN (${TextOps.hash32Sql("CAST(doc_id AS VARCHAR)")} % 100) < 90
        |                   THEN 'train' ELSE 'val' END AS split
        |       FROM sh),
        |tr AS (SELECT DISTINCT shingle FROM sp WHERE split = 'train'),
        |te AS (SELECT doc_id, shingle FROM sp WHERE split = 'val'),
        |tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM te GROUP BY doc_id),
        |shr AS (SELECT doc_id, COUNT(*) AS n_shared
        |        FROM te SEMI JOIN tr USING (shingle)
        |        GROUP BY doc_id)
        |SELECT tot.doc_id, tot.n_shingles,
        |       CAST(COALESCE(shr.n_shared, 0) AS BIGINT) AS n_shared,
        |       CAST(COALESCE(shr.n_shared, 0) AS DOUBLE) / tot.n_shingles AS contamination,
        |       CAST(COALESCE(shr.n_shared, 0) > 0 AS INT) AS is_contaminated
        |FROM tot LEFT JOIN shr USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      TextAnalysis.contamination(Tables.documents(s, dir), 90).orderBy("doc_id")
    },

    // Incremental (cross-batch) dedup: new docs (doc_id ≥ 400) dropped
    // when their 5-token-prefix fingerprint (the q86 truncation/re-post
    // key) already exists in the curated corpus (doc_id < 400). The
    // bloom pre-filter never changes the answer — the oracle is the
    // plain NOT EXISTS.
    QueryDef("q90_incremental_dedup",
      """WITH p AS (SELECT *, md5(array_to_string(
        |             list_slice(string_split_regex(trim(text), '\s+'), 1, 5), ' ')) AS fp
        |           FROM documents)
        |SELECT b.doc_id, b.lang, b.source, b.n_chars
        |FROM p b
        |WHERE b.doc_id >= 400
        |  AND NOT EXISTS (SELECT 1 FROM p c WHERE c.doc_id < 400 AND c.fp = b.fp)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val prefixFp = (df: org.apache.spark.sql.DataFrame) =>
        md5(concat_ws(" ", slice(split(trim(col("text")), "\\s+"), 1, 5)))
      Dedup.incremental(
        batch = docs.filter(col("doc_id") >= 400),
        corpus = docs.filter(col("doc_id") < 400),
        key = prefixFp)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },

    // Paragraph-level exact dedup (the CCNet step between document and
    // span dedup): repeated 16-token paragraphs drop corpus-wide, first
    // occurrence in (doc_id, paragraph) order wins, and each document
    // reassembles from its kept paragraphs in order. First-occurrence
    // verdict = row_number over the md5 fingerprint; rebuild = ordered
    // FILTER'd list aggregate — two corpus exchanges, the floor for
    // cross-document dedup + reassembly.
    QueryDef("q125_paragraph_dedup",
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |           FROM documents),
        |n AS (SELECT doc_id, toks, CAST(length(toks) AS BIGINT) AS n FROM t),
        |c AS (SELECT doc_id, toks, n,
        |             unnest(range(0, greatest(CAST(0 AS BIGINT),
        |                    CAST(ceil((n - 16) / 16.0) AS BIGINT)) + 1)) AS chunk_id
        |      FROM n),
        |p AS (SELECT doc_id, chunk_id,
        |             array_to_string(list_slice(toks, chunk_id * 16 + 1, chunk_id * 16 + 16), ' ')
        |               AS chunk_text
        |      FROM c),
        |v AS (SELECT doc_id, chunk_id, chunk_text,
        |             CASE WHEN row_number() OVER (PARTITION BY md5(chunk_text)
        |                    ORDER BY doc_id, chunk_id) = 1
        |                  THEN 1 ELSE 0 END AS kept
        |      FROM p)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_paras,
        |       CAST(SUM(kept) AS BIGINT) AS n_kept,
        |       coalesce(array_to_string(list(chunk_text ORDER BY chunk_id)
        |                FILTER (WHERE kept = 1), ' '), '') AS text_dedup
        |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      TextAnalysis.paragraphDedup(Tables.documents(s, dir), window = 16)
        .orderBy("doc_id")
    },

    // Blocked edit-distance near-dup pairs: |Δlen| ≤ 5 (necessary for
    // full-text dist ≤ 5, cheap integer pre-filter) AND Levenshtein ≤ 5 on
    // the 120-char prefix; candidates blocked on (lang, length div 16)
    // with each doc emitting bucket and bucket+1 (any two docs within 16
    // chars of each other are guaranteed co-blocked). The only join is the
    // keyed block equi-join — never all-pairs — and Spark's DP is the
    // thresholded banded levenshtein.
    QueryDef("q137_editdist_pairs",
      """WITH d AS (SELECT doc_id, lang, substr(text, 1, 120) AS p,
        |                  length(text) AS len, length(text) // 16 AS b
        |           FROM documents),
        |k AS (SELECT doc_id, lang, p, len, b AS kk FROM d
        |      UNION ALL SELECT doc_id, lang, p, len, b + 1 AS kk FROM d),
        |pr AS (SELECT DISTINCT a.doc_id AS doc_id_a, c.doc_id AS doc_id_b,
        |              CAST(levenshtein(a.p, c.p) AS BIGINT) AS dist
        |       FROM k a JOIN k c
        |         ON a.lang = c.lang AND a.kk = c.kk AND a.doc_id < c.doc_id
        |       WHERE abs(a.len - c.len) <= 5 AND levenshtein(a.p, c.p) <= 5)
        |SELECT doc_id_a, doc_id_b, dist FROM pr
        |ORDER BY doc_id_a, doc_id_b""".stripMargin) { (s, dir) =>
      Dedup.editDistancePairs(Tables.documents(s, dir))
        .orderBy("doc_id_a", "doc_id_b")
    },

    // Weighted (bag) minhash (round 6): sketches the CAPPED weighted
    // Jaccard Σmin(w_a,w_b)/Σmax — repetition counts, which set minhash
    // (q32/q33) discards. Each (shingle, w) expands to w inputs
    // `shingle#r` through the SAME md5-32 + permutation family, so both
    // the 16-perm signature agreement AND the exact capped weighted
    // Jaccard (integer num/den) hash-match cross-engine. Probe set:
    // all pairs among doc_id < 40 (the sig self-join is a 40-row
    // broadcast — PlanGuard-allowlisted by design, the q43 shape);
    // rows kept when the sketch or the truth sees any overlap.
    QueryDef("q150_weighted_minhash",
      s"""WITH t AS (SELECT doc_id, ${TextOps.wordsSql} AS ws
        |           FROM documents WHERE doc_id < 40),
        |sh0 AS (SELECT doc_id, unnest(${TextOps.shingles3Sql("ws")}) AS shingle FROM t),
        |w AS (SELECT doc_id, shingle, LEAST(COUNT(*), 4) AS w
        |      FROM sh0 GROUP BY doc_id, shingle),
        |exp AS (SELECT doc_id,
        |               (${TextOps.hash32Sql("shingle || '#' || CAST(r AS VARCHAR)")}
        |                & 2147483647) AS base31
        |        FROM w, (SELECT unnest(range(1, 5)) AS r) rs WHERE r <= w),
        |coef AS (SELECT * FROM (VALUES $coefValues) AS c(j, a, b)),
        |sig AS (SELECT doc_id, j, min((a * base31 + b) % ${Dedup.MinhashMod}) AS h
        |        FROM exp, coef GROUP BY doc_id, j),
        |ps AS (SELECT s1.doc_id AS d1, s2.doc_id AS d2,
        |              CAST(SUM(CASE WHEN s1.h = s2.h THEN 1 ELSE 0 END) AS BIGINT) AS sig_matches
        |       FROM sig s1 JOIN sig s2 ON s1.j = s2.j AND s1.doc_id < s2.doc_id
        |       GROUP BY 1, 2),
        |tot AS (SELECT doc_id, SUM(w) AS tw FROM w GROUP BY doc_id),
        |shared AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
        |                  CAST(SUM(LEAST(a.w, b.w)) AS BIGINT) AS num
        |           FROM w a JOIN w b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |           GROUP BY 1, 2)
        |SELECT p.d1 AS d1, p.d2 AS d2, p.sig_matches,
        |       COALESCE(s.num, 0) AS wj_num,
        |       CAST(t1.tw + t2.tw - COALESCE(s.num, 0) AS BIGINT) AS wj_den
        |FROM ps p
        |JOIN tot t1 ON t1.doc_id = p.d1
        |JOIN tot t2 ON t2.doc_id = p.d2
        |LEFT JOIN shared s ON s.d1 = p.d1 AND s.d2 = p.d2
        |WHERE p.sig_matches >= 4 OR COALESCE(s.num, 0) > 0
        |ORDER BY p.d1, p.d2""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir).filter(col("doc_id") < 40)
      val wsh = Dedup.weightedShingles(docs, cap = 4)
      val sigs = Dedup.weightedMinhashWide(docs, 16, cap = 4)
      val matches = (0 until 16)
        .map(j => when(col(s"a.h$j") === col(s"b.h$j"), 1L).otherwise(0L))
        .reduce(_ + _)
      val ps = sigs.as("a").join(sigs.as("b"),
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
          matches.as("sig_matches"))
      val tot = wsh.groupBy("doc_id").agg(sum(col("w")).as("tw"))
      val shared = wsh.toDF("d1", "shingle", "w1")
        .join(wsh.toDF("d2", "shingle", "w2"), Seq("shingle"))
        .filter(col("d1") < col("d2"))
        .groupBy("d1", "d2").agg(sum(least(col("w1"), col("w2"))).as("num"))
      ps
        .join(broadcast(tot.select(col("doc_id").as("d1"), col("tw").as("tw1"))), Seq("d1"))
        .join(broadcast(tot.select(col("doc_id").as("d2"), col("tw").as("tw2"))), Seq("d2"))
        .join(shared, Seq("d1", "d2"), "left")
        .select(col("d1"), col("d2"), col("sig_matches"),
          coalesce(col("num"), lit(0L)).as("wj_num"),
          (col("tw1") + col("tw2") - coalesce(col("num"), lit(0L))).as("wj_den"))
        .filter(col("sig_matches") >= 4 || col("wj_num") > 0)
        .orderBy("d1", "d2")
    },

    // Per-document shingle novelty (Dedup.shingleNovelty): the fraction
    // of a doc's distinct 3-gram shingles appearing in NO other doc —
    // the template/boilerplate signal pair-grain dedup misses
    // (mass-produced near-templates score ~0 without any single pair
    // clearing a Jaccard threshold). Exact integers; one shingle-keyed
    // df pass + one doc rollup.
    QueryDef("q212_novelty",
      shinglesCte +
        """,
        |df AS (SELECT shingle, CAST(COUNT(*) AS BIGINT) AS d
        |       FROM sh GROUP BY shingle),
        |per AS (SELECT sh.doc_id,
        |              CAST(COUNT(*) AS BIGINT) AS n_shingles,
        |              CAST(SUM(CASE WHEN df.d > 1 THEN 1 ELSE 0 END)
        |                   AS BIGINT) AS n_shared
        |        FROM sh JOIN df USING (shingle) GROUP BY sh.doc_id)
        |SELECT doc_id, n_shingles, n_shared,
        |       ((n_shingles - n_shared) * 1000000) // n_shingles AS novelty_1e6
        |FROM per ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Dedup.shingleNovelty(Tables.documents(s, dir)).orderBy("doc_id")
    },

    // Per-source duplication report: which crawl source produces the
    // duplicate mass — per source, its docs, how many are exact-dup
    // SURPLUS (non-canonical copies by normalized fingerprint, the q31
    // rule), and the 10⁶-scaled dup rate. The monitoring view that
    // turns corpus-wide dedup into a source-quality decision.
    QueryDef("q217_dup_by_source",
      s"""WITH n AS (SELECT doc_id, source, md5(${TextOps.normalizedSql}) AS fp
        |       FROM documents),
        |c AS (SELECT *, MIN(doc_id) OVER (PARTITION BY fp) AS canonical_id FROM n),
        |a AS (SELECT source,
        |             CAST(COUNT(*) AS BIGINT) AS n_docs,
        |             CAST(SUM(CASE WHEN doc_id <> canonical_id THEN 1 ELSE 0 END)
        |                  AS BIGINT) AS n_dups
        |      FROM c GROUP BY source)
        |SELECT source, n_docs, n_dups,
        |       (n_dups * 1000000) // n_docs AS dup_rate_1e6
        |FROM a ORDER BY source""".stripMargin) { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window.partitionBy("fp")
      Tables.documents(s, dir)
        .withColumn("fp", md5(TextOps.normalized(col("text"))))
        .withColumn("canonical_id", min(col("doc_id")).over(w))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("doc_id") =!= col("canonical_id"), 1L).otherwise(0L))
            .as("n_dups"))
        .withColumn("dup_rate_1e6", expr("(n_dups * 1000000) div n_docs"))
        .orderBy("source")
    }
  )
}
