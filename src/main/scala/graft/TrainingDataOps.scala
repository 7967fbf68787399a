package graft

import graft.operators.{Bpe, Curation, CurationPipeline, Dedup, Linkage, Multimodal, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

/** Section C of SURVEY.md §2 — training-data pipeline operators over the
  * `documents` and `embeddings` tables.
  */
object TrainingDataOps {

  /** Spread a table across the session's shuffle parallelism before an
    * expression-heavy kernel (shingles, fingerprints, ADC tables). The
    * driver's test tables are each ONE parquet row group, so a bare
    * scan cannot parallelize and per-row kernels serialize on a single
    * core (measured: dedup_spans 9.3 → 2.4 s, dedup_simhash 2.2 → 0.8 s
    * at sf0.1/local[32]). The exchange moves a few MB here and is the
    * DEPLOYMENT's call, not the operator's: at 100 TB the scan already
    * has thousands of splits and this repartition would be pure cost,
    * so the operators themselves never force a text shuffle.
    *
    * The partition count is pinned to the cluster's parallelism: a bare
    * `repartition(col)` is an AQE-coalescible shuffle, and at a few MB
    * AQE folds it straight back to ONE partition, re-serializing the
    * kernel it was meant to spread (measured: 11 s vs 2.4 s).
    */
  private def spread(df: org.apache.spark.sql.DataFrame, key: String) =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, col(key))

  /** Shared BM25 top-5 oracle (probes 0/7/42): the from-scratch DuckDB
    * computation. `search_bm25` recomputes it per query; the inverted-
    * index variants answer FROM a persisted index and must produce the
    * row-identical ranking — same oracle for all three.
    */
  private def bm25Top5SqlOver(corpus: String): String = s"""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok FROM $corpus
    ), tf AS (
      SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2
    ), dl AS (
      SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1
    ), stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n, (100 * CAST(sum(dl) AS BIGINT)) // count(*) AS avgdl_fp FROM dl
    ), dfreq AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
    ), idf AS (
      SELECT tok, ((2 * s.n - 2 * df + 1) * 1000) // (2 * df + 1) AS idf_fp FROM dfreq, stats s
    ), sat AS (
      SELECT tf.doc_id, tf.tok,
             (22 * tf * s.avgdl_fp * 10000) //
             (10 * tf * s.avgdl_fp + 3 * s.avgdl_fp + 900 * dl.dl) AS sat_fp
      FROM tf JOIN dl ON tf.doc_id = dl.doc_id, stats s
    ), scores AS (
      SELECT q.doc_id AS probe_id, s.doc_id,
             CAST(sum(i.idf_fp * s.sat_fp) AS BIGINT) AS score_fp
      FROM tf q
      JOIN sat s ON q.tok = s.tok AND s.doc_id != q.doc_id
      JOIN idf i ON i.tok = q.tok
      WHERE q.doc_id IN (0, 7, 42)
      GROUP BY 1, 2
    )
    SELECT probe_id, CAST(rn AS INT) AS rank, doc_id,
           CAST(score_fp AS DOUBLE) / 10000000.0 AS score
    FROM (
      SELECT probe_id, doc_id, score_fp,
             row_number() OVER (PARTITION BY probe_id ORDER BY score_fp DESC, doc_id ASC) AS rn
      FROM scores
    ) WHERE rn <= 5 ORDER BY probe_id, rank
  """.trim

  /** Shared hybrid-RRF oracle (lex BM25 top-20 + dense cosine top-20,
    * probes 0/7/42, RRF top-5): `search_hybrid_rrf` computes it from
    * scratch; `search_hybrid_served` answers from the two serving
    * indexes and must hash-match the same SQL.
    */
  private lazy val hybridRrfSql: String = hybridRrfSqlWhere(None)

  /** The hybrid-RRF oracle, optionally restricted to a document-source
    * allowlist applied to BOTH branches' candidates (probes are query
    * vectors and never filtered) — the filtered-retrieval semantics of
    * `search_hybrid_filtered`.
    */
  private def hybridRrfSqlWhere(sources: Option[Seq[String]]): String = {
    val lexFilter = sources.fold("")(ss =>
      s"JOIN documents fd ON fd.doc_id = s.doc_id AND fd.source IN (${ss.map(s => s"'$s'").mkString(", ")})")
    val denFilter = sources.fold("")(ss =>
      s"JOIN documents fe ON fe.doc_id = e.vec_id AND fe.source IN (${ss.map(s => s"'$s'").mkString(", ")})")
    // raw interpolator: the SQL's \s regex must survive literally
    raw"""
        WITH toks AS (
          SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok FROM documents
        ), tf AS (
          SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2
        ), dl AS (
          SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1
        ), stats AS (
          SELECT CAST(count(*) AS BIGINT) AS n, (100 * CAST(sum(dl) AS BIGINT)) // count(*) AS avgdl_fp FROM dl
        ), dfreq AS (
          SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
        ), idf AS (
          SELECT tok, ((2 * s.n - 2 * df + 1) * 1000) // (2 * df + 1) AS idf_fp FROM dfreq, stats s
        ), sat AS (
          SELECT tf.doc_id, tf.tok,
                 (22 * tf * s.avgdl_fp * 10000) //
                 (10 * tf * s.avgdl_fp + 3 * s.avgdl_fp + 900 * dl.dl) AS sat_fp
          FROM tf JOIN dl ON tf.doc_id = dl.doc_id, stats s
        ), scores AS (
          SELECT q.doc_id AS probe_id, s.doc_id,
                 CAST(sum(i.idf_fp * s.sat_fp) AS BIGINT) AS score_fp
          FROM tf q
          JOIN sat s ON q.tok = s.tok AND s.doc_id != q.doc_id
          JOIN idf i ON i.tok = q.tok
          $lexFilter
          WHERE q.doc_id IN (0, 7, 42)
          GROUP BY 1, 2
        ), lex AS (
          SELECT probe_id, doc_id,
                 row_number() OVER (PARTITION BY probe_id ORDER BY score_fp DESC, doc_id ASC) AS lex_rank
          FROM scores QUALIFY lex_rank <= 20
        ), e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), den AS (
          SELECT p.vec_id AS probe_id, c.vec_id AS doc_id,
                 row_number() OVER (PARTITION BY p.vec_id
                   ORDER BY list_cosine_similarity(p.v, c.v) DESC, c.vec_id) AS den_rank
          FROM (SELECT * FROM e WHERE vec_id IN (0, 7, 42)) p,
               (SELECT e.vec_id, e.v FROM e $denFilter
                WHERE e.vec_id NOT IN (0, 7, 42)) c
          QUALIFY den_rank <= 20
        ), fused AS (
          SELECT COALESCE(l.probe_id, d.probe_id) AS probe_id,
                 COALESCE(l.doc_id, d.doc_id) AS doc_id,
                 COALESCE(1000000 // (60 + l.lex_rank), 0)
                   + COALESCE(1000000 // (60 + d.den_rank), 0) AS rrf_fp
          FROM lex l FULL OUTER JOIN den d
            ON l.probe_id = d.probe_id AND l.doc_id = d.doc_id
        )
        SELECT probe_id, CAST(rn AS INT) AS rank, doc_id, CAST(rrf_fp AS BIGINT) AS rrf_fp FROM (
          SELECT probe_id, doc_id, rrf_fp,
                 row_number() OVER (PARTITION BY probe_id ORDER BY rrf_fp DESC, doc_id ASC) AS rn
          FROM fused
        ) WHERE rn <= 5 ORDER BY probe_id, rank
      """.trim
  }

  /** Shared DuckDB span-cleaning CTE chain (dedup_spans family): the
    * batch semantics, parameterized by the final row filter — the
    * incremental variant's oracle IS the batch SQL restricted to the
    * delta ids (row-identity is what the operator guarantees).
    */
  private def spanCleanSql(where: String): String = s"""
    WITH base AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents),
    toks AS (
      SELECT doc_id, i - 1 AS pos, ws[i] AS tok
      FROM base, unnest(range(1, len(ws) + 1)) AS t(i) WHERE ws[i] <> ''
    ),
    grams AS (
      SELECT doc_id, i - 1 AS gpos, array_to_string(ws[i:i+4], ' ') AS gram
      FROM base, unnest(range(1, greatest(len(ws) - 4, 0) + 1)) AS t(i)
    ),
    hot AS (SELECT gram FROM grams GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
    hotpos AS (
      SELECT DISTINCT doc_id, gpos + off AS pos
      FROM grams JOIN hot USING (gram), unnest(range(0, 5)) AS o(off)
    ),
    kept AS (
      SELECT t.doc_id, t.pos, t.tok
      FROM toks t ANTI JOIN hotpos h ON t.doc_id = h.doc_id AND t.pos = h.pos
    )
    SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
           CAST(count(*) AS BIGINT) AS n_tokens_kept
    FROM kept $where
    GROUP BY doc_id ORDER BY doc_id
  """.trim

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "dedup_exact",
      (spark, dir) =>
        Dedup.exact(Tables(spark, dir).documents, "doc_id", "text").orderBy("content_hash"),
      Some("""
        SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
        FROM documents GROUP BY 1 ORDER BY content_hash
      """.trim),
      bench = true
    ),
    QueryDef(
      "dedup_normalized",
      // exact dedup keyed on the CANONICAL form: md5(normalize_text(t))
      // catches case drift, doubled spaces, and decomposed accents that
      // md5(t) misses — same one-shuffle shape as dedup_exact, strictly
      // more clusters merged (n_norm_clusters <= n_raw_clusters). The
      // oracle mirrors the normalization with DuckDB built-ins
      (spark, dir) =>
        Tables(spark, dir).documents
          .groupBy(md5(graft.plans.TextVectorExpressions.normalizeText(col("text")))
            .as("content_key"))
          .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"),
            countDistinct(md5(col("text"))).as("n_raw_variants"))
          .orderBy("content_key"),
      Some("""
        SELECT md5(nfc_normalize(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))) AS content_key,
               min(doc_id) AS keep_id, count(*) AS n_copies,
               count(DISTINCT md5(text)) AS n_raw_variants
        FROM documents GROUP BY 1 ORDER BY content_key
      """.trim),
      bench = true
    ),
    QueryDef(
      "corpus_quantiles",
      // per-source document-length distribution (the corpus-health twin
      // of corpus_report): KLL sketch per source — exact order
      // statistics in the n≤k regime, and the same persisted partials
      // roll up per-day shards at 100 TB with no rescan
      (spark, dir) =>
        graft.operators.Sketches.approxQuantiles(Tables(spark, dir).documents,
            Seq("source"), "n_chars", probs = Seq(0.25, 0.5, 0.9, 0.99), k = 4096)
          .select(col("source"), col("n"),
            element_at(col("quantiles"), 1).as("p25"),
            element_at(col("quantiles"), 2).as("p50"),
            element_at(col("quantiles"), 3).as("p90"),
            element_at(col("quantiles"), 4).as("p99"))
          .orderBy("source"),
      Some("""
        WITH r AS (
          SELECT source, n_chars,
                 row_number() OVER (PARTITION BY source ORDER BY n_chars) AS rn,
                 count(*) OVER (PARTITION BY source) AS n
          FROM documents
        )
        SELECT source, CAST(max(n) AS BIGINT) AS n,
               CAST(max(CASE WHEN rn = GREATEST(1, CAST(CEIL(0.25 * n) AS BIGINT)) THEN n_chars END) AS DOUBLE) AS p25,
               CAST(max(CASE WHEN rn = GREATEST(1, CAST(CEIL(0.5  * n) AS BIGINT)) THEN n_chars END) AS DOUBLE) AS p50,
               CAST(max(CASE WHEN rn = GREATEST(1, CAST(CEIL(0.9  * n) AS BIGINT)) THEN n_chars END) AS DOUBLE) AS p90,
               CAST(max(CASE WHEN rn = GREATEST(1, CAST(CEIL(0.99 * n) AS BIGINT)) THEN n_chars END) AS DOUBLE) AS p99
        FROM r GROUP BY source ORDER BY source
      """.trim),
      bench = true
    ),
    QueryDef(
      "dedup_minhash_lsh",
      // engine-specific hash family → no SQL oracle; recall vs brute-force
      // Jaccard asserted in DedupSpec
      (spark, dir) =>
        Dedup.minhashNearDups(spread(Tables(spark, dir).documents, "doc_id"), "doc_id", "text")
          .orderBy("id_a", "id_b"),
      None,
      bench = true
    ),
    QueryDef(
      "dedup_containment_collapsed",
      // the exact-collapse composition, ORACLE-PROVEN: the collapse is a
      // plain (source, text) group-by, so the whole
      // collapse->block->score pipeline hash-matches DuckDB — the
      // hash-family collapses (simhash/minhash/embedding) share this
      // structure but are engine-hash-specific
      (spark, dir) => {
        import spark.implicits._
        Dedup.containmentPairsCollapsed(Tables(spark, dir).documents,
            "doc_id", "text", blockCol = "source", shingleN = 3, threshold = 0.4)
          .orderBy("id_a", "id_b")
      },
      Some("""
        WITH reps AS (
          SELECT source, text, min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS n
          FROM documents GROUP BY source, text
        ), toks AS (
          SELECT doc_id, source, n, regexp_split_to_array(trim(text), '\s+') AS t FROM reps
        ), sh AS (
          SELECT doc_id, source, n,
                 list_distinct(list_transform(range(1, greatest(len(t)-2,0)+1),
                    i -> array_to_string(t[i:i+2], ' '))) AS s
          FROM toks
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               len(list_intersect(a.s,b.s)) / len(a.s) AS containment,
               a.n AS n_a, b.n AS n_b
        FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id != b.doc_id
        WHERE len(a.s) > 0
          AND len(list_intersect(a.s,b.s)) / len(a.s) >= 0.4
        ORDER BY id_a, id_b
      """.trim),
      bench = true
    ),
    QueryDef(
      "dedup_minhash_collapsed",
      // exact-dup pre-collapse before banding (see dedup_simhash_collapsed);
      // identical docs share EVERY band hash, so deep duplication is
      // quadratic in every band without this
      (spark, dir) =>
        Dedup.minhashNearDupsCollapsed(spread(Tables(spark, dir).documents, "doc_id"), "doc_id", "text")
          .orderBy("id_a", "id_b"),
      None,
      bench = true
    ),
    QueryDef(
      "dedup_simhash",
      (spark, dir) =>
        Dedup.simhashNearDups(spread(Tables(spark, dir).documents, "doc_id"), "doc_id", "text", maxHamming = 8)
          .orderBy("id_a", "id_b"),
      None,
      bench = true
    ),
    QueryDef(
      "dedup_simhash_collapsed",
      // the deep-duplication-safe composition: exact-dup pre-collapse
      // (one hash shuffle) -> simhash banding on representatives ->
      // group-level pairs with exact-group cardinalities. On the 30x
      // replica corpus this turns the designed-quadratic 197s case
      // linear — duplication depth never reaches the pair stage
      (spark, dir) =>
        Dedup.simhashNearDupsCollapsed(
            spread(Tables(spark, dir).documents, "doc_id"), "doc_id", "text", maxHamming = 8)
          .orderBy("id_a", "id_b"),
      None,
      bench = true
    ),
    QueryDef(
      "dedup_editdistance",
      // character-level near-dup pairs (typos/OCR/template drift) via
      // PassJoin segment blocking — constant per-string key fanout, no
      // pair space; the ONE near-dup family whose full output is
      // deterministic on both engines, so it carries a complete oracle
      // (the oracle brute-forces the restricted slice; the operator
      // never does)
      (spark, dir) => {
        val titles = Tables(spark, dir).documents
          .filter(col("source").isin("src0", "src1", "src2", "src3"))
          .select(col("doc_id"), substring(col("text"), 1, 14).as("title"))
        Dedup.editDistancePairs(spread(titles, "doc_id"), "doc_id", "title", maxDist = 3)
          .orderBy("id_a", "id_b")
      },
      Some("""
        WITH t AS (
          SELECT doc_id, substr(text, 1, 14) AS title FROM documents
          WHERE source IN ('src0','src1','src2','src3')
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(levenshtein(a.title, b.title) AS INT) AS dist
        FROM t a JOIN t b ON a.doc_id < b.doc_id
        WHERE abs(length(a.title) - length(b.title)) <= 3
          AND levenshtein(a.title, b.title) <= 3
        ORDER BY id_a, id_b
      """.trim),
      bench = true
    ),
    QueryDef(
      "linkage_editdistance",
      // record linkage: the TWO-TABLE counterpart of dedup_editdistance
      // — link one corpus slice against another by fuzzy key (titles
      // within 2 edits) through the same segment blocking, so the
      // |L|×|R| pair space is never materialized; the oracle
      // brute-forces the restricted slice (length band + levenshtein),
      // which the operator never does
      (spark, dir) => {
        val docs = Tables(spark, dir).documents
        def side(srcs: Seq[String]) = docs.filter(col("source").isin(srcs: _*))
          .select(col("doc_id"), substring(col("text"), 1, 12).as("title"))
        Linkage.editDistanceJoin(
            spread(side(Seq("src0", "src1")), "doc_id"), "doc_id", "title",
            spread(side(Seq("src4", "src5")), "doc_id"), "doc_id", "title",
            maxDist = 2)
          .orderBy("id_l", "id_r")
      },
      Some("""
        WITH l AS (SELECT doc_id, substr(text, 1, 12) AS title FROM documents
                   WHERE source IN ('src0','src1')),
             r AS (SELECT doc_id, substr(text, 1, 12) AS title FROM documents
                   WHERE source IN ('src4','src5'))
        SELECT l.doc_id AS id_l, r.doc_id AS id_r,
               CAST(levenshtein(l.title, r.title) AS INT) AS dist
        FROM l JOIN r ON abs(length(l.title) - length(r.title)) <= 2
                     AND levenshtein(l.title, r.title) <= 2
        ORDER BY id_l, id_r
      """.trim),
      bench = true
    ),
    QueryDef(
      "text_ngram_lm",
      // count-based bigram LM coverage: the corpus is the model (bigrams
      // seen ≥ 25 times — the knob scales with corpus volume); a doc scores by the fraction of its bigram
      // occurrences the model covers + their mean model count — the
      // division-only perplexity proxy (a log-prob would put libm in
      // the hash)
      (spark, dir) =>
        TextAnalysis.ngramLmScore(
            spread(Tables(spark, dir).documents, "doc_id"),
            "doc_id", "text", n = 2, minCount = 25L)
          .orderBy("doc_id"),
      Some("""
        WITH toks AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
        ), g AS (
          SELECT doc_id,
                 unnest(list_transform(range(1, greatest(len(t)-1, 0)+1),
                   i -> array_to_string(t[i:i+1], ' '))) AS gram
          FROM toks
        ), model AS (
          SELECT gram, count(*) AS c FROM g GROUP BY 1 HAVING count(*) >= 25
        )
        SELECT g.doc_id,
               CAST(count(*) AS BIGINT) AS n_ngrams,
               CAST(count(model.c) AS BIGINT) AS n_covered,
               CAST(count(model.c) AS DOUBLE) / count(*) AS coverage,
               CAST(COALESCE(sum(model.c), 0) AS DOUBLE) / count(*) AS mean_model_count
        FROM g LEFT JOIN model ON g.gram = model.gram
        GROUP BY g.doc_id ORDER BY g.doc_id
      """.trim),
      bench = true
    ),
    QueryDef(
      "dedup_ngram_jaccard",
      (spark, dir) => {
        import spark.implicits._
        // candidate rule expressible on both engines: same-source pairs
        Dedup.blockedJaccardPairs(Tables(spark, dir).documents,
            "doc_id", "text", blockCol = "source", shingleN = 3, threshold = 0.2)
          .orderBy("id_a", "id_b")
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
        ), sh AS (
          SELECT doc_id, source,
                 list_distinct(list_transform(range(1, greatest(len(t)-2,0)+1),
                    i -> array_to_string(t[i:i+2], ' '))) AS s
          FROM toks
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               len(list_intersect(a.s,b.s)) / len(list_distinct(list_concat(a.s,b.s))) AS jaccard
        FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
        WHERE len(list_intersect(a.s,b.s)) / len(list_distinct(list_concat(a.s,b.s))) >= 0.2
        ORDER BY id_a, id_b
      """.trim)
    ),
    QueryDef(
      "dedup_containment",
      // asymmetric subset-duplication: C(A->B) = |sh(A) ∩ sh(B)| /
      // |sh(A)| catches a short doc quoted inside a long one, which
      // symmetric Jaccard under-scores (union dominated by the
      // container). Ordered pairs, both directions may qualify.
      (spark, dir) => {
        import spark.implicits._
        Dedup.containmentPairs(Tables(spark, dir).documents,
            "doc_id", "text", blockCol = "source", shingleN = 3, threshold = 0.4)
          .orderBy("id_a", "id_b")
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
        ), sh AS (
          SELECT doc_id, source,
                 list_distinct(list_transform(range(1, greatest(len(t)-2,0)+1),
                    i -> array_to_string(t[i:i+2], ' '))) AS s
          FROM toks
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               len(list_intersect(a.s,b.s)) / len(a.s) AS containment
        FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id != b.doc_id
        WHERE len(a.s) > 0
          AND len(list_intersect(a.s,b.s)) / len(a.s) >= 0.4
        ORDER BY id_a, id_b
      """.trim),
      bench = true
    ),
    QueryDef(
      "dedup_survivors",
      // full dedup resolution: same-source brute-force pairs (so the
      // edge set is deterministic on both engines) -> connected
      // components -> keep the smallest doc per component
      (spark, dir) => {
        import spark.implicits._
        val docs  = Tables(spark, dir).documents
        val pairs = Dedup.blockedJaccardPairs(docs, "doc_id", "text",
          blockCol = "source", shingleN = 3, threshold = 0.5)
        Dedup.resolveSurvivors(docs, pairs, "doc_id")
          .select($"doc_id").orderBy($"doc_id")
      },
      Some("""
        WITH RECURSIVE toks AS (
          SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
        ), sh AS (
          SELECT doc_id, source,
                 list_distinct(list_transform(range(1, greatest(len(t)-2,0)+1),
                    i -> array_to_string(t[i:i+2], ' '))) AS s
          FROM toks
        ), edges AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
          WHERE len(list_intersect(a.s,b.s)) / len(list_distinct(list_concat(a.s,b.s))) >= 0.5
        ), undirected AS (
          SELECT id_a AS s, id_b AS t FROM edges UNION SELECT id_b, id_a FROM edges
        ), reach(s, t) AS (
          SELECT s, t FROM undirected
          UNION
          SELECT r.s, u.t FROM reach r JOIN undirected u ON r.t = u.s
        )
        SELECT d.doc_id FROM documents d
        WHERE NOT EXISTS (SELECT 1 FROM reach WHERE reach.s = d.doc_id AND reach.t < d.doc_id)
        ORDER BY doc_id
      """.trim),
      bench = true
    ),
    QueryDef(
      "dedup_embedding",
      // primary entry is the LSH-bucketed SCALE path (no all-pairs join
      // anywhere in the plan); the hyperplane family is engine-specific,
      // so correctness is recall-gated in BucketingSpec against the exact
      // variant, which keeps its own oracle below as dedup_embedding_exact
      (spark, dir) =>
        Similarity.lshNearDupPairs(spread(Tables(spark, dir).embeddings, "vec_id"), "vec_id", "embedding",
            threshold = 0.45, dim = 64)
          .orderBy("id_a", "id_b"),
      None,
      bench = true
    ),
    QueryDef(
      "dedup_embedding_collapsed",
      // deep-duplication-safe LSH near-dup: byte-identical vectors fold
      // to representatives in one hash shuffle before banding; pairs
      // carry exact-group cardinalities (see dedup_simhash_collapsed —
      // same composition, measured 197s -> 1.6s on 30x replicas there)
      (spark, dir) =>
        Similarity.lshNearDupPairsCollapsed(
            spread(Tables(spark, dir).embeddings, "vec_id"), "vec_id", "embedding",
            threshold = 0.45, dim = 64)
          .orderBy("id_a", "id_b"),
      None,
      bench = true
    ),
    QueryDef(
      "dedup_embedding_exact",
      // all-pairs oracle baseline (O(n²), correctness only — NOT benched
      // and not the scale route)
      (spark, dir) =>
        Similarity.embeddingNearDups(Tables(spark, dir).embeddings, "vec_id", "embedding", threshold = 0.45)
          .orderBy("id_a", "id_b"),
      Some("""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, list_cosine_similarity(a.v, b.v) AS cosine
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.v, b.v) >= 0.45
        ORDER BY id_a, id_b
      """.trim)
    ),
    QueryDef(
      "ann_bruteforce",
      (spark, dir) => {
        import spark.implicits._
        val e = Tables(spark, dir).embeddings
        Similarity.bruteForceTopK(
          probes = e.filter($"vec_id" < 5), candidates = e.filter($"vec_id" >= 5),
          idCol = "vec_id", vecCol = "embedding", k = 5
        ).orderBy("probe_id", "rank")
      },
      Some("""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             p AS (SELECT * FROM e WHERE vec_id < 5),
             c AS (SELECT * FROM e WHERE vec_id >= 5)
        SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
               list_cosine_similarity(p.v, c.v) AS cosine,
               CAST(row_number() OVER (PARTITION BY p.vec_id
                    ORDER BY list_cosine_similarity(p.v, c.v) DESC, c.vec_id) AS INT) AS rank
        FROM p, c
        QUALIFY rank <= 5
        ORDER BY probe_id, rank
      """.trim),
      bench = true
    ),
    QueryDef(
      "emb_binarize",
      // sign-binarized embedding codes (32× compression): two positive
      // 32-bit halves in long math — bit 63's signed overflow differs
      // across engines, two halves don't
      (spark, dir) =>
        Similarity.binarize(Tables(spark, dir).embeddings, "vec_id", "embedding")
          .orderBy("vec_id"),
      Some("""
        SELECT vec_id,
               CAST(list_sum(list_transform(range(0, 32),
                    i -> CASE WHEN embedding[i + 1] > 0 THEN (1::BIGINT << i) ELSE 0::BIGINT END)) AS BIGINT) AS w1,
               CAST(list_sum(list_transform(range(0, 32),
                    i -> CASE WHEN embedding[i + 33] > 0 THEN (1::BIGINT << i) ELSE 0::BIGINT END)) AS BIGINT) AS w2
        FROM embeddings ORDER BY vec_id
      """.trim),
      bench = true
    ),
    QueryDef(
      "ann_hamming",
      // Hamming top-k over the binary codes: per-pair cost is two
      // XOR+popcount words instead of a 64-term float dot — the
      // billion-scale candidate sweep, exact re-rank on the shortlist
      (spark, dir) => {
        import spark.implicits._
        val e = Tables(spark, dir).embeddings
        Similarity.hammingTopK(
          probes = e.filter($"vec_id" < 5), candidates = e.filter($"vec_id" >= 5),
          idCol = "vec_id", vecCol = "embedding", k = 5
        ).orderBy("probe_id", "rank")
      },
      Some("""
        WITH e AS (
          SELECT vec_id,
                 CAST(list_sum(list_transform(range(0, 32),
                      i -> CASE WHEN embedding[i + 1] > 0 THEN (1::BIGINT << i) ELSE 0::BIGINT END)) AS BIGINT) AS w1,
                 CAST(list_sum(list_transform(range(0, 32),
                      i -> CASE WHEN embedding[i + 33] > 0 THEN (1::BIGINT << i) ELSE 0::BIGINT END)) AS BIGINT) AS w2
          FROM embeddings
        ), p AS (SELECT * FROM e WHERE vec_id < 5), c AS (SELECT * FROM e WHERE vec_id >= 5)
        SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
               CAST(bit_count(xor(p.w1, c.w1)) + bit_count(xor(p.w2, c.w2)) AS BIGINT) AS hamming,
               CAST(row_number() OVER (PARTITION BY p.vec_id
                    ORDER BY bit_count(xor(p.w1, c.w1)) + bit_count(xor(p.w2, c.w2)), c.vec_id) AS INT) AS rank
        FROM p, c
        QUALIFY rank <= 5
        ORDER BY probe_id, rank
      """.trim),
      bench = true
    ),
    QueryDef(
      "ann_hamming_rerank",
      // the two-stage pattern end-to-end: Hamming shortlist (50 per
      // probe over 16-byte codes, a 10% stage-2 scan) then exact cosine
      // re-rank to top-5 — drop-in output contract with ann_bruteforce;
      // measured recall@5 vs exact on these near-random synthetic
      // embeddings: 0.52/0.72/0.84 at shortlist 20/50/100 (the knob)
      (spark, dir) => {
        import spark.implicits._
        val e = Tables(spark, dir).embeddings
        Similarity.hammingRerankTopK(
          probes = e.filter($"vec_id" < 5), candidates = e.filter($"vec_id" >= 5),
          idCol = "vec_id", vecCol = "embedding", k = 5, shortlist = 50
        ).orderBy("probe_id", "rank")
      },
      Some("""
        WITH e AS (
          SELECT vec_id, embedding::DOUBLE[] AS v,
                 CAST(list_sum(list_transform(range(0, 32),
                      i -> CASE WHEN embedding[i + 1] > 0 THEN (1::BIGINT << i) ELSE 0::BIGINT END)) AS BIGINT) AS w1,
                 CAST(list_sum(list_transform(range(0, 32),
                      i -> CASE WHEN embedding[i + 33] > 0 THEN (1::BIGINT << i) ELSE 0::BIGINT END)) AS BIGINT) AS w2
          FROM embeddings
        ), p AS (SELECT * FROM e WHERE vec_id < 5), c AS (SELECT * FROM e WHERE vec_id >= 5),
        short AS (
          SELECT probe_id, neighbor_id FROM (
            SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY p.vec_id
                     ORDER BY bit_count(xor(p.w1, c.w1)) + bit_count(xor(p.w2, c.w2)), c.vec_id) AS hrank
            FROM p, c) s
          WHERE hrank <= 50
        )
        SELECT s.probe_id, s.neighbor_id,
               list_cosine_similarity(p.v, c.v) AS cosine,
               CAST(row_number() OVER (PARTITION BY s.probe_id
                    ORDER BY list_cosine_similarity(p.v, c.v) DESC, s.neighbor_id) AS INT) AS rank
        FROM short s
        JOIN p ON p.vec_id = s.probe_id
        JOIN c ON c.vec_id = s.neighbor_id
        QUALIFY rank <= 5
        ORDER BY probe_id, rank
      """.trim),
      bench = true
    ),
    QueryDef(
      "ann_asym_rerank",
      // asymmetric two-stage retrieval at the DEFAULT operating point
      // (shortlist 50): probes stay float, only candidates binarize —
      // stage-1 score is dot(probe, sign(code)) in engine-exact
      // fixed-point, recovering the recall symmetric Hamming leaks
      // (recall@5 ≥ 0.9 at the same depth; pinned in SimilaritySpec)
      (spark, dir) => {
        import spark.implicits._
        val e = Tables(spark, dir).embeddings
        Similarity.asymmetricRerankTopK(
          probes = e.filter($"vec_id" < 5), candidates = e.filter($"vec_id" >= 5),
          idCol = "vec_id", vecCol = "embedding", k = 5
        ).orderBy("probe_id", "rank")
      },
      Some("""
        WITH e AS (
          SELECT vec_id, embedding::DOUBLE[] AS v,
                 CAST(list_sum(list_transform(range(0, 32),
                      i -> CASE WHEN embedding[i + 1] > 0 THEN (1::BIGINT << i) ELSE 0::BIGINT END)) AS BIGINT) AS w1,
                 CAST(list_sum(list_transform(range(0, 32),
                      i -> CASE WHEN embedding[i + 33] > 0 THEN (1::BIGINT << i) ELSE 0::BIGINT END)) AS BIGINT) AS w2
          FROM embeddings
        ), p AS (
          SELECT vec_id, v,
                 list_transform(v, x -> CAST(floor(x * 1048576.0 + 0.5) AS BIGINT)) AS pq
          FROM e WHERE vec_id < 5
        ), c AS (SELECT * FROM e WHERE vec_id >= 5),
        short AS (
          SELECT probe_id, neighbor_id FROM (
            SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY p.vec_id ORDER BY
                     CAST(list_sum(list_transform(range(0, 64),
                       i -> CASE WHEN (CASE WHEN i < 32 THEN c.w1 & (1::BIGINT << i)
                                       ELSE c.w2 & (1::BIGINT << (i - 32)) END) != 0
                            THEN p.pq[i + 1] ELSE -p.pq[i + 1] END)) AS BIGINT) DESC,
                     c.vec_id) AS srank
            FROM p, c) s
          WHERE srank <= 50
        )
        SELECT s.probe_id, s.neighbor_id,
               list_cosine_similarity(p.v, c.v) AS cosine,
               CAST(row_number() OVER (PARTITION BY s.probe_id
                    ORDER BY list_cosine_similarity(p.v, c.v) DESC, s.neighbor_id) AS INT) AS rank
        FROM short s
        JOIN p ON p.vec_id = s.probe_id
        JOIN c ON c.vec_id = s.neighbor_id
        QUALIFY rank <= 5
        ORDER BY probe_id, rank
      """.trim),
      bench = true
    ),
    QueryDef(
      "emb_quantize",
      // int8 embedding quantization (4× memory for ANN candidate
      // storage): per-vector max-abs scale, code = floor(x·127/s + 0.5)
      // — floor instead of round() because round's half-rule differs
      // across engines while floor(+0.5) is one IEEE add + floor in
      // both. Long-form output keeps the gate scalar (bpe_encode lesson)
      (spark, dir) =>
        Tables(spark, dir).embeddings
          .select(col("vec_id"),
            expr("aggregate(embedding, CAST(0.0 AS DOUBLE), (m, x) -> greatest(m, abs(CAST(x AS DOUBLE))))").as("scale"),
            col("embedding"))
          .select(col("vec_id"), col("scale"),
            posexplode(expr(
              "transform(embedding, x -> CASE WHEN scale = 0.0 THEN 0L ELSE CAST(floor(CAST(x AS DOUBLE) * 127.0 / scale + 0.5) AS LONG) END)"))
              .as(Seq("i", "code")))
          .select(col("vec_id"), col("i").cast("long").as("i"), col("code"))
          .orderBy("vec_id", "i"),
      Some("""
        WITH e AS (
          SELECT vec_id, embedding::DOUBLE[] AS v,
                 list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS s
          FROM embeddings
        )
        SELECT vec_id, CAST(unnest(range(0, len(v))) AS BIGINT) AS i,
               unnest(list_transform(v, x -> CAST(CASE WHEN s = 0 THEN 0
                    ELSE floor(x * 127.0 / s + 0.5) END AS BIGINT))) AS code
        FROM e
        ORDER BY vec_id, i
      """.trim),
      bench = true
    ),
    QueryDef(
      "mine_hard_negatives",
      // contrastive-training negatives: per probe the k MOST similar
      // candidates UNDER the near-dup ceiling (semi-hard negatives —
      // random is too easy, duplicates are false negatives). Broadcast
      // probes at spec scale; behind LSH/IVF blocking at corpus scale
      (spark, dir) => {
        import spark.implicits._
        val e = Tables(spark, dir).embeddings
        Similarity.hardNegatives(
          probes = e.filter($"vec_id" < 5), candidates = e.filter($"vec_id" >= 5),
          idCol = "vec_id", vecCol = "embedding", k = 5, dupCeiling = 0.8
        ).orderBy("probe_id", "rank")
      },
      Some("""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             p AS (SELECT * FROM e WHERE vec_id < 5),
             c AS (SELECT * FROM e WHERE vec_id >= 5)
        SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
               list_cosine_similarity(p.v, c.v) AS cosine,
               CAST(row_number() OVER (PARTITION BY p.vec_id
                    ORDER BY list_cosine_similarity(p.v, c.v) DESC, c.vec_id) AS INT) AS rank
        FROM p, c
        WHERE list_cosine_similarity(p.v, c.v) < 0.8 AND p.vec_id <> c.vec_id
        QUALIFY rank <= 5
        ORDER BY probe_id, rank
      """.trim),
      bench = true
    ),
    QueryDef(
      "ann_range",
      // radius search: every candidate within cosine ≥ 0.3 of a probe —
      // the THRESHOLD contract dup-clustering needs (top-k truncates
      // arbitrarily; a radius defines membership). Probes broadcast into
      // the candidate scan: zero shuffles, output ∝ true neighbor mass
      (spark, dir) => {
        import spark.implicits._
        val e = Tables(spark, dir).embeddings
        Similarity.radiusSearch(
          probes = e.filter($"vec_id" < 5), candidates = e.filter($"vec_id" >= 5),
          idCol = "vec_id", vecCol = "embedding", minCosine = 0.3
        ).orderBy("probe_id", "neighbor_id")
      },
      Some("""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             p AS (SELECT * FROM e WHERE vec_id < 5),
             c AS (SELECT * FROM e WHERE vec_id >= 5)
        SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
               list_cosine_similarity(p.v, c.v) AS cosine
        FROM p, c
        WHERE list_cosine_similarity(p.v, c.v) >= 0.3
        ORDER BY probe_id, neighbor_id
      """.trim),
      bench = true
    ),
    QueryDef(
      "ann_physical_topk",
      // same contract as ann_bruteforce, executed through the custom
      // AnnTopKNode -> AnnTopKStrategy -> AnnTopKExec physical operator
      (spark, dir) => {
        import spark.implicits._
        val e = Tables(spark, dir).embeddings
        Similarity.topKPhysical(
          probes = e.filter($"vec_id" < 5), candidates = e.filter($"vec_id" >= 5),
          idCol = "vec_id", vecCol = "embedding", k = 5
        ).orderBy("probe_id", "rank")
      },
      Some("""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             p AS (SELECT * FROM e WHERE vec_id < 5),
             c AS (SELECT * FROM e WHERE vec_id >= 5)
        SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
               list_cosine_similarity(p.v, c.v) AS cosine,
               CAST(row_number() OVER (PARTITION BY p.vec_id
                    ORDER BY list_cosine_similarity(p.v, c.v) DESC, c.vec_id) AS INT) AS rank
        FROM p, c
        QUALIFY rank <= 5
        ORDER BY probe_id, rank
      """.trim),
      bench = true
    ),
    QueryDef(
      "ann_lsh",
      // hyperplane family is engine-specific → recall vs brute force
      // asserted in SimilaritySpec
      (spark, dir) => {
        import spark.implicits._
        val e = Tables(spark, dir).embeddings
        Similarity.lshTopK(
          probes = e.filter($"vec_id" < 5), candidates = e.filter($"vec_id" >= 5),
          idCol = "vec_id", vecCol = "embedding", k = 5, dim = 64
        ).orderBy("probe_id", "rank")
      },
      None,
      bench = true
    ),
    QueryDef(
      "ann_ivf",
      // IVF inverted-list index (driver-trained coarse quantizer) —
      // engine-specific cells → recall vs brute force in SimilaritySpec
      (spark, dir) => {
        import spark.implicits._
        val e = Tables(spark, dir).embeddings
        Similarity.ivfTopK(
          probes = e.filter($"vec_id" < 5), candidates = e.filter($"vec_id" >= 5),
          idCol = "vec_id", vecCol = "embedding", k = 5, nCells = 16, nProbe = 8
        ).orderBy("probe_id", "rank")
      },
      None,
      bench = true
    ),
    QueryDef(
      "ann_ivf_indexed",
      // the dense-side SERVING shape of ann_ivf: the corpus is assigned
      // once and persisted one file-set per coarse cell (AnnIndex);
      // probes read ONLY their nProbe cells' files — pruned from the
      // manifest before the scan is planned. SERVE-ONLY from the shared
      // per-process index since round 12 (build once, serve in the
      // timed body — the r11 entry rebuilt per run, so the board number
      // was build-dominated). Engine-specific cells → recall vs brute
      // force + files-opened pinned in AnnIndexSpec
      (spark, dir) => {
        import spark.implicits._
        val e = Tables(spark, dir).embeddings
        operators.AnnIndex.topK(
          e.filter($"vec_id" < 5), "vec_id", "embedding",
          ServingIndexes.annDir(spark, dir), k = 5, nProbe = 8)
          .orderBy("probe_id", "rank")
      },
      None,
      bench = true
    ),
    QueryDef(
      "ann_ivfpq_indexed",
      // the PERSISTED IVF+PQ serving shape (FAISS IVFADC) of ann_ivfpq:
      // codes encoded once against the manifest-pinned quantizers, ADC
      // shortlist scans only (neighbor_id, codes, __cell) of the probed
      // cells — m ints per candidate instead of dim doubles — then the
      // exact re-rank touches raw vectors for the shortlist ids only.
      // SERVE-ONLY from the shared per-process PQ index; recall +
      // determinism + delta-encode parity pinned in AnnIndexSpec
      (spark, dir) => {
        import spark.implicits._
        val e = Tables(spark, dir).embeddings
        operators.AnnIndex.pqTopK(
          e.filter($"vec_id" < 5), "vec_id", "embedding",
          ServingIndexes.annPqDir(spark, dir), k = 5, nProbe = 8, shortlist = 50)
          .orderBy("probe_id", "rank")
      },
      None,
      bench = true
    ),
    QueryDef(
      "ann_ivfpq_filtered",
      // FILTERED ADC serving: the sidecar predicate restricts the
      // candidate slice BEFORE the ADC shortlist (top-k of the allowed
      // labels through the code-scan path). Approximate by design
      // (shortlist-bounded), so rows-only: the label-subset + recall +
      // determinism contracts are pinned in AnnIndexSpec
      (spark, dir) => {
        import spark.implicits._
        val e = Tables(spark, dir).embeddings
        operators.AnnIndex.pqTopK(
          e.filter($"vec_id" < 5), "vec_id", "embedding",
          ServingIndexes.annPqDir(spark, dir), k = 5, nProbe = 8, shortlist = 50,
          where = Some(col("label").isin(0, 1, 2, 3, 4)))
          .orderBy("probe_id", "rank")
      },
      None,
      bench = true
    ),
    QueryDef(
      "ann_ivf_filtered",
      // FILTERED ANN from the serving index: the `where` predicate over
      // the index's vector-metadata sidecar (label, pinned at build;
      // latest-wins under CDC) restricts the candidate slice BEFORE
      // ranking — top-5 of the allowed labels only. nProbe = nCells
      // makes the serve exact (every cell consulted through the same
      // cell-pruned plan), so the oracle is brute-force cosine over the
      // label-filtered candidates
      (spark, dir) => {
        import spark.implicits._
        val e = Tables(spark, dir).embeddings
        operators.AnnIndex.topK(
          e.filter($"vec_id" < 5), "vec_id", "embedding",
          ServingIndexes.annDir(spark, dir), k = 5, nProbe = 16,
          where = Some(col("label").isin(0, 1)))
          .orderBy("probe_id", "rank")
      },
      Some("""
        WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
             p AS (SELECT * FROM e WHERE vec_id < 5),
             c AS (SELECT * FROM e WHERE vec_id >= 5 AND label IN (0, 1))
        SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
               list_cosine_similarity(p.v, c.v) AS cosine,
               CAST(row_number() OVER (PARTITION BY p.vec_id
                    ORDER BY list_cosine_similarity(p.v, c.v) DESC, c.vec_id) AS INT) AS rank
        FROM p, c
        QUALIFY rank <= 5
        ORDER BY probe_id, rank
      """.trim),
      bench = true
    ),
    QueryDef(
      "ann_pq",
      // product-quantization ANN (codes + ADC shortlist + exact re-rank):
      // engine-specific codebooks → recall vs brute force in SimilaritySpec
      (spark, dir) => {
        import spark.implicits._
        val e = Tables(spark, dir).embeddings
        Similarity.pqTopK(
          probes = e.filter($"vec_id" < 5),
          candidates = spread(e.filter($"vec_id" >= 5), "vec_id"),
          idCol = "vec_id", vecCol = "embedding", k = 5, m = 4, nCodes = 16, shortlist = 50
        ).orderBy("probe_id", "rank")
      },
      None,
      bench = true
    ),
    QueryDef(
      "semdedup",
      // SemDeDup cluster-bounded semantic dedup: k-means cells prune the
      // pair space (O(n·n/k), k scales with the corpus), connected
      // components keep one survivor per duplicate group. Cells are
      // engine-derived -> planted-dup recall + determinism in
      // SimilaritySpec
      (spark, dir) =>
        Similarity.semDeDup(spread(Tables(spark, dir).embeddings, "vec_id"),
            "vec_id", "embedding", threshold = 0.6, k = 8)
          .orderBy("vec_id"),
      None,
      bench = true
    ),
    QueryDef(
      "ann_ivfpq",
      // FAISS-style IVF+PQ composite (coarse cells × residual ADC codes ×
      // exact re-rank): engine-specific quantizers → recall/determinism/
      // plan shape in SimilaritySpec
      (spark, dir) => {
        import spark.implicits._
        val e = Tables(spark, dir).embeddings
        Similarity.ivfPqTopK(
          probes = e.filter($"vec_id" < 5),
          candidates = spread(e.filter($"vec_id" >= 5), "vec_id"),
          idCol = "vec_id", vecCol = "embedding", k = 5,
          nCells = 16, nProbe = 8, m = 4, nCodes = 16, shortlist = 50
        ).orderBy("probe_id", "rank")
      },
      None,
      bench = true
    ),
    QueryDef(
      "doc_clusters",
      // spherical k-means over embeddings (deterministic sample + seed
      // -> engine-reproducible clusters); rows-only: centroid geometry
      // is engine-specific, properties asserted in SimilaritySpec
      (spark, dir) =>
        Similarity.kmeansAssign(Tables(spark, dir).embeddings, "vec_id", "embedding", k = 8)
          .orderBy("vec_id"),
      None,
      bench = true
    ),
    QueryDef(
      "kmeans_lloyd",
      // FULL-corpus distributed Lloyd's (one scan per iteration:
      // broadcast CentroidCells assignment + element-wise VectorSumAgg
      // centroid update, exchange bounded at k·dim); rows-only:
      // float centroid geometry is engine-specific, recovery/objective/
      // equivalence properties asserted in SimilaritySpec
      (spark, dir) =>
        Similarity.kmeansLloyd(Tables(spark, dir).embeddings, "vec_id", "embedding",
            k = 8, iters = 4)._1
          .orderBy("vec_id"),
      None,
      bench = true
    ),
    QueryDef(
      "src_jsonl_roundtrip",
      // JSONL ingestion must be lossless: documents written as JSONL and
      // read back (explicit schema, FAILFAST) hash-match the parquet
      // originals the oracle reads
      (spark, dir) => {
        val docs = Tables(spark, dir).documents
        val tmp  = java.nio.file.Files.createTempDirectory("graft_jsonl").toString + "/docs"
        graft.sources.Jsonl.write(docs, tmp)
        graft.sources.Jsonl.read(spark, tmp, docs.schema).orderBy("doc_id")
      },
      Some("SELECT * FROM documents ORDER BY doc_id"),
      bench = true
    ),
    QueryDef(
      "text_tokens",
      (spark, dir) =>
        TextAnalysis.tokenStats(Tables(spark, dir).documents, "doc_id", "text")
          .withColumn("n_tokens", col("n_tokens").cast("long"))
          .withColumn("n_unique_tokens", col("n_unique_tokens").cast("long"))
          .orderBy("doc_id"),
      Some("""
        WITH toks AS (SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS t FROM documents)
        SELECT doc_id, len(t) AS n_tokens, len(list_distinct(t)) AS n_unique_tokens,
               CAST(length(text) AS DOUBLE) / len(t) AS chars_per_token
        FROM toks ORDER BY doc_id
      """.trim),
      bench = true
    ),
    QueryDef(
      "text_tokens_bpe",
      (spark, dir) => {
        // BPE-style pre-tokenization (GPT-2-ish regex, sans contractions):
        // letter runs, digit runs, punctuation runs, optional leading space
        val pat = " ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+|\\s+"
        Tables(spark, dir).documents
          .select(col("doc_id"),
            size(regexp_extract_all(col("text"), lit(pat), lit(0))).cast("long").as("n_bpe_tokens"))
          .orderBy("doc_id")
      },
      Some("""
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, ' ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+|\s+')) AS BIGINT) AS n_bpe_tokens
        FROM documents ORDER BY doc_id
      """.trim),
      bench = true
    ),
    QueryDef(
      "text_quality",
      (spark, dir) =>
        TextAnalysis.qualityScore(Tables(spark, dir).documents, "doc_id", "text")
          .withColumn("n_chars", col("n_chars").cast("long"))
          .withColumn("n_tokens", col("n_tokens").cast("long"))
          .orderBy("doc_id"),
      Some("""
        WITH q AS (
          SELECT doc_id,
                 CAST(length(text) AS BIGINT) AS n_chars,
                 CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
                 CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE) / length(text) AS alpha_ratio,
                 CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text) AS digit_ratio,
                 CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio,
                 len(list_filter(list_transform(regexp_split_to_array(trim(text), '\s+'), x -> lower(x)),
                     x -> list_contains(['the','a','an','and','or','of','to','in','is','it','for','on','with','as','at','by'], x)))
                   / len(regexp_split_to_array(trim(text), '\s+')) AS stopword_ratio
          FROM documents
        )
        SELECT doc_id, n_chars, n_tokens, alpha_ratio, digit_ratio, punct_ratio, stopword_ratio,
               round(alpha_ratio * 0.5
                     + (1.0 - least(digit_ratio * 5, 1.0)) * 0.2
                     + (1.0 - least(punct_ratio * 5, 1.0)) * 0.1
                     + least(stopword_ratio * 5, 1.0) * 0.2, 6) AS quality_score
        FROM q ORDER BY doc_id
      """.trim),
      bench = true
    ),
    QueryDef(
      "text_langid",
      // heuristic profiles are engine-specific → accuracy asserted in
      // TextAnalysisSpec on handcrafted sentences
      (spark, dir) =>
        TextAnalysis.langId(Tables(spark, dir).documents, "doc_id", "text").orderBy("doc_id"),
      None,
      bench = true
    ),
    QueryDef(
      "text_repetition",
      // Gopher-style repetition filters (duplicate word / n-gram
      // fractions) — the boilerplate/keyword-stuffing removal rules
      (spark, dir) =>
        TextAnalysis.repetitionProfile(Tables(spark, dir).documents, "doc_id", "text")
          .orderBy("doc_id"),
      Some("""
        WITH t AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
        ), g AS (
          SELECT doc_id, toks,
                 list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS g2,
                 list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS g3
          FROM t
        ), f AS (
          SELECT doc_id,
                 CAST(len(toks) AS BIGINT) AS n_tokens,
                 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS dup_word_frac,
                 CASE WHEN len(g2) = 0 THEN 0.0
                      ELSE 1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2) END AS dup_2gram_frac,
                 CASE WHEN len(g3) = 0 THEN 0.0
                      ELSE 1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3) END AS dup_3gram_frac
          FROM g
        )
        SELECT doc_id, n_tokens, dup_word_frac, dup_2gram_frac, dup_3gram_frac,
               (dup_word_frac > 0.3 OR dup_2gram_frac > 0.2 OR dup_3gram_frac > 0.18) AS is_repetitive
        FROM f ORDER BY doc_id
      """.trim),
      bench = true
    ),
    QueryDef(
      "text_rarity",
      // corpus-relative token rarity (integer-exact CCNet-style quality
      // proxy): mean corpus token frequency + rare-token fraction
      (spark, dir) =>
        TextAnalysis.rarityProfile(Tables(spark, dir).documents, "doc_id", "text")
          .orderBy("doc_id"),
      Some("""
        WITH toks AS (
          SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok FROM documents
        ), freq AS (
          SELECT tok, count(*) AS c FROM toks GROUP BY tok
        ), j AS (
          SELECT t.doc_id, f.c FROM toks t JOIN freq f USING (tok)
        )
        SELECT doc_id, count(*) AS n_tokens, CAST(sum(c) AS BIGINT) AS sum_freq,
               CAST(sum(c) AS DOUBLE) / count(*) AS mean_token_freq,
               CAST(count(*) FILTER (c <= 2) AS DOUBLE) / count(*) AS rare_token_frac
        FROM j GROUP BY doc_id ORDER BY doc_id
      """.trim),
      bench = true
    ),
    QueryDef(
      "text_compress_ratio",
      // deflate compression ratio (model-free redundancy signal) — the
      // value depends on the JDK's zlib, so rows-only; behavior is
      // asserted in TextAnalysisSpec (boilerplate << prose < gibberish)
      (spark, dir) =>
        Tables(spark, dir).documents
          .select(col("doc_id"),
            graft.plans.TextVectorExpressions.deflateRatio(col("text")).as("compress_ratio"))
          .orderBy("doc_id"),
      None,
      bench = true
    ),
    QueryDef(
      "doc_fingerprint",
      (spark, dir) =>
        TextAnalysis.winnowingFingerprints(Tables(spark, dir).documents, "doc_id", "text")
          .select(col("doc_id"), col("n_fingerprints"))
          .orderBy("doc_id"),
      None,
      bench = true
    ),
    QueryDef(
      "sample_stratified",
      // deterministic data mixing: per-source keep fractions via md5
      // hex-prefix thresholds — pure filter, reproducible cross-engine
      (spark, dir) =>
        Curation.stratifiedSample(Tables(spark, dir).documents, "doc_id", "source",
            fractions = Map("src0" -> 0.5, "src1" -> 0.1), defaultFraction = 0.25)
          .select("doc_id", "source")
          .orderBy("doc_id"),
      Some("""
        SELECT doc_id, source FROM documents
        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
          CASE source WHEN 'src0' THEN '8000' WHEN 'src1' THEN '199a' ELSE '4000' END
        ORDER BY doc_id
      """.trim),
      bench = true
    ),
    QueryDef(
      "dedup_keep_best",
      // quality-aware survivor selection: best quality_score per exact-dup
      // cluster, smallest doc_id on ties — one hash aggregation
      (spark, dir) =>
        Curation.keepBestPerCluster(Tables(spark, dir).documents, "doc_id", "text")
          .select("doc_id", "content_hash", "quality_score", "n_copies")
          .orderBy("doc_id"),
      Some("""
        WITH q AS (
          SELECT doc_id,
                 round(
                   (CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE) / length(text)) * 0.5
                   + (1.0 - least((CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text)) * 5, 1.0)) * 0.2
                   + (1.0 - least((CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / length(text)) * 5, 1.0)) * 0.1
                   + least((len(list_filter(list_transform(regexp_split_to_array(trim(text), '\s+'), x -> lower(x)),
                       x -> list_contains(['the','a','an','and','or','of','to','in','is','it','for','on','with','as','at','by'], x)))
                       / len(regexp_split_to_array(trim(text), '\s+'))) * 5, 1.0) * 0.2, 6) AS quality_score,
                 md5(text) AS content_hash
          FROM documents
        )
        SELECT doc_id, content_hash, quality_score,
               count(*) OVER (PARTITION BY content_hash) AS n_copies
        FROM q
        QUALIFY row_number() OVER (PARTITION BY content_hash ORDER BY quality_score DESC, doc_id) = 1
        ORDER BY doc_id
      """.trim),
      bench = true
    ),
    QueryDef(
      "decontaminate_bloom",
      // sketch-based decontamination: benchmark shingles folded into a
      // Bloom filter (codegen'd membership, no join) — the result is a
      // deterministic superset of `decontaminate` (false positives only;
      // sketch seed/geometry are fixed). Rows-only check by design: the
      // sketch is engine-specific and not expressible in the oracle.
      (spark, dir) => {
        import spark.implicits._
        val docs = Tables(spark, dir).documents
        Curation.contaminatedDocsBloom(
          corpus = docs.filter($"doc_id" >= 20), benchmark = docs.filter($"doc_id" < 20),
          idCol = "doc_id", textCol = "text", shingleN = 3
        ).orderBy("doc_id")
      },
      None,
      bench = true
    ),
    QueryDef(
      "curation_pipeline",
      // the composed pipeline under the oracle gate: quality floor ->
      // exact dedup -> exact decontamination (the oracle-able stage
      // subset; langid/bloom variants stay spec-covered)
      (spark, dir) => {
        import spark.implicits._
        val docs = Tables(spark, dir).documents
        CurationPipeline.run(docs, "doc_id", "text",
          CurationPipeline.Config(
            minQuality = 0.5,
            dedup = CurationPipeline.ExactDedup,
            decontaminateAgainst = Some(docs.filter($"doc_id" < 20)),
            useBloomDecontamination = false))
          .select($"doc_id").orderBy($"doc_id")
      },
      Some("""
        WITH q AS (
          SELECT doc_id, text,
                 CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE) / length(text) AS alpha_ratio,
                 CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text) AS digit_ratio,
                 CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio,
                 len(list_filter(list_transform(regexp_split_to_array(trim(text), '\s+'), x -> lower(x)),
                     x -> list_contains(['the','a','an','and','or','of','to','in','is','it','for','on','with','as','at','by'], x)))
                   / len(regexp_split_to_array(trim(text), '\s+')) AS stopword_ratio
          FROM documents
        ), scored AS (
          SELECT doc_id, text,
                 round(alpha_ratio * 0.5
                       + (1.0 - least(digit_ratio * 5, 1.0)) * 0.2
                       + (1.0 - least(punct_ratio * 5, 1.0)) * 0.1
                       + least(stopword_ratio * 5, 1.0) * 0.2, 6) AS quality_score
          FROM q
        ), kept1 AS (
          SELECT doc_id, text FROM scored WHERE quality_score >= 0.5
        ), kept2 AS (
          SELECT min(doc_id) AS doc_id FROM kept1 GROUP BY md5(text)
        ), k2 AS (
          SELECT k.doc_id, d.text FROM kept2 k JOIN documents d USING (doc_id)
        ), sh AS (
          SELECT doc_id,
                 list_distinct(list_transform(range(1, greatest(len(t)-2,0)+1),
                    i -> array_to_string(t[i:i+2], ' '))) AS s
          FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM k2) x
        ), bench AS (
          SELECT DISTINCT unnest(s) AS g
          FROM (SELECT doc_id,
                       list_distinct(list_transform(range(1, greatest(len(t)-2,0)+1),
                          i -> array_to_string(t[i:i+2], ' '))) AS s
                FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
                      FROM documents WHERE doc_id < 20) y) z
        ), flagged AS (
          SELECT DISTINCT doc_id FROM (SELECT doc_id, unnest(s) AS g FROM sh) cs
          WHERE g IN (SELECT g FROM bench)
        )
        SELECT doc_id FROM k2 WHERE doc_id NOT IN (SELECT doc_id FROM flagged)
        ORDER BY doc_id
      """.trim),
      bench = true
    ),
    QueryDef(
      "decontaminate",
      // benchmark decontamination: corpus docs sharing any 3-gram shingle
      // with the benchmark slice (doc_id < 20); benchmark shingles are the
      // broadcast side, the corpus never shuffles
      (spark, dir) => {
        import spark.implicits._
        val docs = Tables(spark, dir).documents
        Curation.contaminatedDocs(
          corpus = docs.filter($"doc_id" >= 20), benchmark = docs.filter($"doc_id" < 20),
          idCol = "doc_id", textCol = "text", shingleN = 3
        ).orderBy("doc_id")
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
        ), sh AS (
          SELECT doc_id,
                 list_distinct(list_transform(range(1, greatest(len(t)-2,0)+1),
                    i -> array_to_string(t[i:i+2], ' '))) AS s
          FROM toks
        ), bench AS (
          SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id < 20
        ), corpus AS (
          SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id >= 20
        )
        SELECT DISTINCT c.doc_id FROM corpus c JOIN bench b ON c.g = b.g
        ORDER BY doc_id
      """.trim),
      bench = true
    ),
    QueryDef(
      "decontaminate_spans",
      // span-level decontamination: REDACT every benchmark 5-gram from
      // the corpus instead of dropping contaminated docs — the
      // benchmark's distinct grams are the (bounded, broadcastable) hot
      // set driving the same excise-and-reassemble plan as dedup_spans
      (spark, dir) => {
        import spark.implicits._
        val docs   = spread(Tables(spark, dir).documents, "doc_id")
        val bench  = docs.filter($"doc_id" < 20)
          .select(explode(graft.functions.TextFunctions.wordShingles($"text", 5)).as("gram"))
        Dedup.exciseSpans(docs.filter($"doc_id" >= 20), "doc_id", "text", bench, spanTokens = 5)
          .orderBy("doc_id")
      },
      Some("""
        WITH base AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        toks AS (
          SELECT doc_id, i - 1 AS pos, ws[i] AS tok
          FROM base, unnest(range(1, len(ws) + 1)) AS t(i)
          WHERE ws[i] <> '' AND doc_id >= 20
        ),
        grams AS (
          SELECT doc_id, i - 1 AS gpos, array_to_string(ws[i:i+4], ' ') AS gram
          FROM base, unnest(range(1, greatest(len(ws) - 4, 0) + 1)) AS t(i)
        ),
        hot AS (SELECT DISTINCT gram FROM grams WHERE doc_id < 20),
        hotpos AS (
          SELECT DISTINCT g.doc_id, g.gpos + off AS pos
          FROM grams g JOIN hot USING (gram), unnest(range(0, 5)) AS o(off)
          WHERE g.doc_id >= 20
        ),
        kept AS (
          SELECT t.doc_id, t.pos, t.tok
          FROM toks t ANTI JOIN hotpos h ON t.doc_id = h.doc_id AND t.pos = h.pos
        )
        SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
               CAST(count(*) AS BIGINT) AS n_tokens_kept
        FROM kept GROUP BY doc_id ORDER BY doc_id
      """.trim),
      bench = true
    ),
    QueryDef(
      "pack_sequences",
      // token-budget sequence sharding in doc order; two-phase weighted
      // numbering (no global window)
      (spark, dir) =>
        Curation.packSequences(Tables(spark, dir).documents, "doc_id", "text", tokenBudget = 2000L),
      Some("""
        WITH toks AS (
          SELECT doc_id, CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok
          FROM documents
        ), cum AS (
          SELECT doc_id, n_tok,
                 sum(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS c
          FROM toks
        )
        SELECT CAST((c - n_tok) // 2000 AS BIGINT) AS seq_id,
               count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
               min(doc_id) AS first_doc, max(doc_id) AS last_doc
        FROM cum GROUP BY 1 ORDER BY seq_id
      """.trim),
      bench = true
    ),
    QueryDef(
      "text_vocab_topk",
      // vocabulary building: top-k tokens by corpus frequency (explode +
      // partial-agg count + bounded top-k)
      (spark, dir) =>
        Curation.vocabTopK(Tables(spark, dir).documents, "text", k = 100)
          .orderBy(col("n").desc, col("token")),
      Some("""
        SELECT token, count(*) AS n
        FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token FROM documents)
        GROUP BY token ORDER BY n DESC, token LIMIT 100
      """.trim),
      bench = true
    ),
    QueryDef(
      "token_pmi",
      // collocation mining for tokenizer building: top adjacent pairs by
      // a PMI-monotone rational score (c_xy·N / (c_x·c_y), margins over
      // the bigram multiset) — exact long counts, decimal-widened
      // products, ONE cast + ONE division so no libm log and no ulp
      // drift. One corpus pass → observed-bigram-bounded counts;
      // margins broadcast back; top-k is a TakeOrdered
      (spark, dir) =>
        Curation.collocations(Tables(spark, dir).documents, "text", minCount = 5L, k = 50),
      Some("""
        WITH toks AS (
          SELECT regexp_split_to_array(trim(text), '\s+') AS t FROM documents
        ), pairs AS (
          SELECT unnest(t[1:len(t)-1]) AS x, unnest(t[2:len(t)]) AS y
          FROM toks WHERE len(t) >= 2
        ), counts AS (
          SELECT x, y, CAST(count(*) AS BIGINT) AS c_xy FROM pairs GROUP BY x, y
        ), cx AS (SELECT x, CAST(sum(c_xy) AS BIGINT) AS c_x FROM counts GROUP BY x),
        cy AS (SELECT y, CAST(sum(c_xy) AS BIGINT) AS c_y FROM counts GROUP BY y),
        tot AS (SELECT CAST(sum(c_xy) AS HUGEINT) AS n_total FROM counts)
        SELECT x, y, c_xy, c_x, c_y,
               CAST(CAST(c_xy AS HUGEINT) * n_total AS DOUBLE)
                 / CAST(CAST(c_x AS HUGEINT) * CAST(c_y AS HUGEINT) AS DOUBLE) AS pmi_ratio
        FROM counts JOIN cx USING (x) JOIN cy USING (y) CROSS JOIN tot
        WHERE c_xy >= 5
        ORDER BY pmi_ratio DESC, x, y LIMIT 50
      """.trim),
      bench = true
    ),
    QueryDef(
      "multimodal_features",
      // the decode stub (normalized 16-bin byte histogram) is
      // deterministic and — on this ASCII corpus — expressible in SQL,
      // so the executor-side mapPartitions decode plumbing itself sits
      // under the hash gate (long-form output keeps the compare scalar)
      (spark, dir) => {
        val media = Multimodal.synthesizePayloads(Tables(spark, dir).documents, "doc_id", "text")
        Multimodal.extractFeatures(spark, media).toDF()
          .select(col("doc_id"), posexplode(col("features")).as(Seq("bin", "v")))
          .select(col("doc_id"), col("bin").cast("int").as("bin"), round(col("v"), 6).as("feature"))
          .orderBy("doc_id", "bin")
      },
      Some("""
        WITH bins AS (
          SELECT doc_id, greatest(length(text), 1) AS n,
                 list_transform(range(1, length(text)+1),
                   i -> ord(substr(text, CAST(i AS INT), 1)) // 16) AS bs
          FROM documents
        )
        SELECT doc_id, CAST(t.bin AS INT) AS bin,
               round(len(list_filter(bs, x -> x = t.bin)) / CAST(n AS DOUBLE), 6) AS feature
        FROM bins, range(0, 16) t(bin)
        ORDER BY doc_id, bin
      """.trim),
      bench = true
    ),
    QueryDef(
      "multimodal_meta",
      // typed metadata (modality tag + byte size) riding alongside the
      // opaque payload; feat0 pins the decode output too. All three are
      // deterministic on this ASCII corpus, so the row goes under the
      // full hash gate (same ord()-histogram trick as multimodal_features)
      (spark, dir) => {
        val media = Multimodal.synthesizePayloads(Tables(spark, dir).documents, "doc_id", "text")
        Multimodal.extractFeatures(spark, media).toDF()
          .select(col("doc_id"), col("media_type"), col("size_bytes"),
            round(element_at(col("features"), 1), 6).as("feat0"))
          .orderBy("doc_id")
      },
      Some("""
        SELECT doc_id,
               (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] AS media_type,
               CAST(strlen(text) AS BIGINT) AS size_bytes,
               round(len(list_filter(list_transform(range(1, length(text)+1),
                       i -> ord(substr(text, CAST(i AS INT), 1)) // 16), x -> x = 0))
                     / CAST(greatest(length(text), 1) AS DOUBLE), 6) AS feat0
        FROM documents ORDER BY doc_id
      """.trim)
    ),
    QueryDef(
      "multimodal_dedup",
      // multimodal ∘ dedup composition: exact BINARY dedup of media
      // payloads by content digest — the true first pass of any media
      // dedup stack (byte-identical copies dominate crawl dupes; only
      // survivors go on to perceptual hashing). One hash shuffle on the
      // digest, same shape as dedup_exact but keyed on payload BYTES
      (spark, dir) => {
        val media = Multimodal.synthesizePayloads(Tables(spark, dir).documents, "doc_id", "text")
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("content_key"))
        media.withColumn("content_key", md5(col("payload")))
          .select(col("doc_id"), col("media_type"), col("content_key"),
            min(col("doc_id")).over(w).as("canonical_id"),
            count(lit(1)).over(w).as("n_copies"))
          .orderBy("doc_id")
      },
      Some("""
        SELECT doc_id,
               (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] AS media_type,
               md5(text) AS content_key,
               min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
               count(*) OVER (PARTITION BY md5(text)) AS n_copies
        FROM documents ORDER BY doc_id
      """.trim),
      bench = true
    ),
    QueryDef(
      "multimodal_framesample",
      // video frame sampling: split the payload into 64-byte frames,
      // keep every 4th — the countable surface (frame totals, kept
      // count, last kept index) goes under the hash gate, pinning the
      // executor-side sampling arithmetic while the per-frame decode
      // stays the documented stub
      (spark, dir) => {
        val media = Multimodal.synthesizePayloads(Tables(spark, dir).documents, "doc_id", "text")
          .where(col("media_type") === "video")
        Multimodal.sampleFrames(spark, media, frameBytes = 64, stride = 4).toDF()
          .select(col("doc_id"), col("n_frames_total").cast("long").as("n_frames_total"),
            size(col("sampled_frames")).cast("long").as("n_sampled"),
            element_at(col("sampled_frames"), -1).cast("long").as("last_frame"))
          .orderBy("doc_id")
      },
      Some("""
        SELECT doc_id,
               CAST(n AS BIGINT) AS n_frames_total,
               CAST((n + 3) // 4 AS BIGINT) AS n_sampled,
               CAST(4 * ((n + 3) // 4 - 1) AS BIGINT) AS last_frame
        FROM (SELECT doc_id, greatest(1, (strlen(text) + 63) // 64) AS n
              FROM documents WHERE doc_id % 3 = 2) t
        ORDER BY doc_id
      """.trim),
      bench = true
    ),
    QueryDef(
      "src_csv_roundtrip",
      // CSV ingestion must be lossless under RFC 4180 quoting: documents
      // written as CSV and read back (explicit schema, FAILFAST,
      // multiLine) hash-match the parquet originals the oracle reads
      (spark, dir) => {
        val docs = Tables(spark, dir).documents
        val tmp  = java.nio.file.Files.createTempDirectory("graft_csv").toString + "/docs"
        graft.sources.Csv.write(docs, tmp)
        graft.sources.Csv.read(spark, tmp, docs.schema).orderBy("doc_id")
      },
      Some("SELECT * FROM documents ORDER BY doc_id"),
      bench = true
    ),
    QueryDef(
      "curation_domain_cap",
      // per-domain cap, best-first — the rank-filter plans as a Partial
      // WindowGroupLimit (map-side top-k) so a mega-domain never streams
      // its full row count through one task (Curation.domainTopK)
      (spark, dir) =>
        Curation.domainTopK(Tables(spark, dir).documents, "doc_id", "source", "n_chars", k = 50)
          .select(col("doc_id"), col("source"), col("n_chars"))
          .orderBy("doc_id"),
      Some("""
        SELECT doc_id, source, n_chars FROM documents
        QUALIFY row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) <= 50
        ORDER BY doc_id
      """.trim),
      bench = true
    ),
    QueryDef(
      "chunk_documents",
      // fixed-width training windows (64 tokens, stride 48 → 16-token
      // overlap): pure narrow transformation, shuffle-free
      (spark, dir) =>
        Curation.chunkDocuments(Tables(spark, dir).documents, "doc_id", "text",
            chunkTokens = 64, strideTokens = 48)
          .orderBy("doc_id", "chunk_id"),
      Some("""
        WITH t AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
        ), s AS (
          SELECT doc_id, toks, unnest(range(0, greatest(len(toks), 1), 48)) AS start FROM t
        )
        SELECT doc_id, CAST(start // 48 AS BIGINT) AS chunk_id,
               CAST(least(64, len(toks) - start) AS BIGINT) AS n_tokens,
               array_to_string(toks[CAST(start + 1 AS INT):CAST(start + 64 AS INT)], ' ') AS chunk_text
        FROM s ORDER BY doc_id, chunk_id
      """.trim),
      bench = true
    ),
    QueryDef(
      "text_classifier",
      // hashed-linear-classifier inference (fasttext-shaped quality
      // gate) — md5-derived weights keep it integer-exact cross-engine
      (spark, dir) =>
        TextAnalysis.classifierScore(Tables(spark, dir).documents, "doc_id", "text")
          .orderBy("doc_id"),
      Some("""
        WITH t AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
        ), w AS (
          SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
                 CAST(list_sum(list_transform(toks,
                   tok -> (ord(substr(md5(tok), 1, 1)) + ord(substr(md5(tok), 2, 1))) % 7 - 3)) AS BIGINT) AS score_sum
          FROM t
        )
        SELECT doc_id, n_tokens, score_sum,
               CAST(score_sum AS DOUBLE) / n_tokens AS score,
               (CAST(score_sum AS DOUBLE) / n_tokens) >= 0 AS keep
        FROM w ORDER BY doc_id
      """.trim),
      bench = true
    ),
    QueryDef(
      "text_keywords",
      // per-doc top-3 keywords by linear-idf tf-idf (tf/df — two exact
      // integer counts, so the IEEE division and hence the ranking is
      // engine-exact; log-idf would differ in the last ulp)
      (spark, dir) =>
        TextAnalysis.keywords(Tables(spark, dir).documents, "doc_id", "text", k = 3)
          .orderBy("doc_id", "rank"),
      Some("""
        WITH toks AS (
          SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok FROM documents
        ), tf AS (
          SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2
        ), df AS (
          SELECT tok, count(*) AS df FROM tf GROUP BY 1
        )
        SELECT doc_id, rank, token, tf, df, score FROM (
          SELECT tf.doc_id, tf.tok AS token, tf.tf, df.df,
                 CAST(tf.tf AS DOUBLE) / df.df AS score,
                 row_number() OVER (PARTITION BY tf.doc_id
                                    ORDER BY CAST(tf.tf AS DOUBLE) / df.df DESC, tf.tok) AS rank
          FROM tf JOIN df USING (tok)) x
        WHERE rank <= 3 ORDER BY doc_id, rank
      """.trim),
      bench = true
    ),
    QueryDef(
      "text_multimatch",
      // multi-needle exact-substring screening (contamination canaries)
      // by ONE Aho-Corasick pass per doc; the oracle is the O(needles ×
      // length) per-needle replace/contains formulation. Needles are
      // border-free (no proper prefix = suffix), so non-overlapping
      // replace-counting equals all-occurrence counting.
      (spark, dir) =>
        TextAnalysis.multiMatch(Tables(spark, dir).documents, "doc_id", "text",
          Seq("merge", "spark", "customer", "vector", "join", "batch stream"))
          .orderBy("doc_id"),
      Some("""
        SELECT doc_id,
               CAST((length(text) - length(replace(text, 'merge', ''))) // 5
                  + (length(text) - length(replace(text, 'spark', ''))) // 5
                  + (length(text) - length(replace(text, 'customer', ''))) // 8
                  + (length(text) - length(replace(text, 'vector', ''))) // 6
                  + (length(text) - length(replace(text, 'join', ''))) // 4
                  + (length(text) - length(replace(text, 'batch stream', ''))) // 12 AS BIGINT) AS n_hits,
               CAST((CASE WHEN contains(text, 'merge') THEN 1 ELSE 0 END)
                  + (CASE WHEN contains(text, 'spark') THEN 1 ELSE 0 END)
                  + (CASE WHEN contains(text, 'customer') THEN 1 ELSE 0 END)
                  + (CASE WHEN contains(text, 'vector') THEN 1 ELSE 0 END)
                  + (CASE WHEN contains(text, 'join') THEN 1 ELSE 0 END)
                  + (CASE WHEN contains(text, 'batch stream') THEN 1 ELSE 0 END) AS BIGINT) AS needles_hit
        FROM documents ORDER BY doc_id
      """.trim),
      bench = true
    ),
    QueryDef(
      "length_outliers",
      // corpus-relative length-band filter: the percentile bounds are a
      // 1-row aggregate broadcast over a pure filter scan (t-digest
      // approx_percentile at 100 TB; exact percentile for the gate)
      (spark, dir) =>
        Curation.lengthOutliers(Tables(spark, dir).documents, "doc_id", "n_chars",
            lo = 0.05, hi = 0.95)
          .orderBy("doc_id"),
      Some("""
        SELECT doc_id, n_chars, lo_bound, hi_bound
        FROM documents CROSS JOIN (
          SELECT quantile_cont(n_chars, 0.05) AS lo_bound,
                 quantile_cont(n_chars, 0.95) AS hi_bound
          FROM documents) b
        WHERE n_chars < lo_bound OR n_chars > hi_bound
        ORDER BY doc_id
      """.trim),
      bench = true
    ),
    QueryDef(
      "sample_temperature",
      // sqrt-temperature domain rebalancing (alpha=0.5): keep fractions
      // are correctly-rounded sqrt of exact count ratios, the per-row
      // coin is an md5 prefix — the sampled SET is engine-exact
      (spark, dir) =>
        Curation.temperatureSample(Tables(spark, dir).documents, "doc_id", "source", alpha = 0.5)
          .orderBy("doc_id"),
      Some("""
        WITH n AS (SELECT source, count(*) AS n_stratum FROM documents GROUP BY 1),
        m AS (SELECT min(n_stratum) AS min_n FROM n),
        f AS (SELECT source, n_stratum, sqrt(CAST(min_n AS DOUBLE) / n_stratum) AS keep_frac
              FROM n CROSS JOIN m)
        SELECT doc_id, source, n_stratum, keep_frac
        FROM documents JOIN f USING (source)
        WHERE keep_frac >= 1.0
           OR substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)
              < printf('%04x', CAST(floor(keep_frac * 65536) AS INT))
        ORDER BY doc_id
      """.trim),
      bench = true
    ),
    QueryDef(
      "text_gopher_rules",
      // Gopher §A1.1 quality rules, integer-exact (thresholds multiplied
      // through by denominators so no float ratio sits on a boundary)
      (spark, dir) =>
        TextAnalysis.gopherRules(Tables(spark, dir).documents, "doc_id", "text")
          .orderBy("doc_id"),
      Some("""
        WITH g AS (
          SELECT doc_id,
                 CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
                 CAST(length(text) AS BIGINT) AS n_chars,
                 CAST(length(regexp_replace(text, '\s', '', 'g')) AS BIGINT) AS n_word_chars,
                 CAST((length(text) - length(replace(text, '#', '')))
                      + (length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT) AS n_symbols,
                 CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                      w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS n_alpha_words,
                 CAST(len(list_filter(list_transform(regexp_split_to_array(trim(text), '\s+'), x -> lower(x)),
                      x -> list_contains(['the','be','to','of','and','that','have','with'], x))) AS BIGINT) AS n_stop_hits
          FROM documents)
        SELECT doc_id, n_tokens, n_chars, n_word_chars, n_symbols, n_alpha_words, n_stop_hits,
               (n_tokens >= 50 AND n_tokens <= 100000) AS words_ok,
               (n_word_chars >= n_tokens * 3 AND n_word_chars <= n_tokens * 10) AS word_len_ok,
               (n_symbols * 10 < n_tokens) AS symbols_ok,
               (n_alpha_words * 5 >= n_tokens * 4) AS alpha_ok,
               (n_stop_hits >= 2) AS stopwords_ok,
               (n_tokens >= 50 AND n_tokens <= 100000
                AND n_word_chars >= n_tokens * 3 AND n_word_chars <= n_tokens * 10
                AND n_symbols * 10 < n_tokens
                AND n_alpha_words * 5 >= n_tokens * 4
                AND n_stop_hits >= 2) AS passes_gopher
        FROM g ORDER BY doc_id
      """.trim),
      bench = true
    ),
    QueryDef(
      "text_scrub",
      // PII masking: URL → email → digit-run replacement; match counts
      // from the ORIGINAL text so they don't depend on replacement order
      (spark, dir) =>
        TextAnalysis.scrubPii(Tables(spark, dir).documents, "doc_id", "text")
          .orderBy("doc_id"),
      Some("""
        SELECT doc_id,
               regexp_replace(regexp_replace(regexp_replace(text,
                  'https?://[^\s]+', '<URL>', 'g'),
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                  '[0-9]{7,}', '<NUM>', 'g') AS scrubbed,
               CAST(len(regexp_extract_all(text, 'https?://[^\s]+')) AS BIGINT) AS n_urls,
               CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(text, '[0-9]{7,}')) AS BIGINT) AS n_digit_runs
        FROM documents ORDER BY doc_id
      """.trim),
      bench = true
    ),
    QueryDef(
      "text_normalize",
      // canonical content key: trim → collapse whitespace → lowercase →
      // Unicode NFC in ONE native char scan (no regex engine; the NFC
      // walk only runs when the scan saw a non-ASCII char). md5 of the
      // normalized form is the dedup key that catches case drift,
      // doubled spaces, and precomposed-vs-decomposed accents that raw
      // md5(text) misses
      (spark, dir) =>
        Tables(spark, dir).documents
          .select(col("doc_id"),
            graft.plans.TextVectorExpressions.normalizeText(col("text")).as("norm_text"))
          .withColumn("content_key", md5(col("norm_text")))
          .orderBy("doc_id"),
      Some("""
        SELECT doc_id,
               nfc_normalize(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS norm_text,
               md5(nfc_normalize(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))) AS content_key
        FROM documents ORDER BY doc_id
      """.trim),
      bench = true
    ),
    QueryDef(
      "corpus_drift",
      // per-ingest distribution canary: token-share drift between two
      // corpus slices. Hash-agg per slice (bounded by vocabulary), one
      // token join, bounded top-k; per-token math is division/subtraction
      // only, so drift VALUES hash-match the oracle (operators.Drift)
      (spark, dir) => {
        val docs = Tables(spark, dir).documents
        operators.Drift.tokenDrift(
          docs.filter(col("source") < "src5"), docs.filter(col("source") >= "src5"),
          "text", k = 50)
      },
      Some("""
        WITH ta AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
                    FROM documents WHERE source < 'src5'),
             tb AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
                    FROM documents WHERE source >= 'src5'),
             ca AS (SELECT token, count(*) AS cnt_a FROM ta WHERE len(token) > 0 GROUP BY 1),
             cb AS (SELECT token, count(*) AS cnt_b FROM tb WHERE len(token) > 0 GROUP BY 1),
             na AS (SELECT greatest(COALESCE(sum(cnt_a), 0), 1) AS n_a FROM ca),
             nb AS (SELECT greatest(COALESCE(sum(cnt_b), 0), 1) AS n_b FROM cb)
        SELECT COALESCE(ca.token, cb.token) AS token,
               COALESCE(cnt_a, 0) AS cnt_a, COALESCE(cnt_b, 0) AS cnt_b,
               abs(CAST(COALESCE(cnt_a, 0) AS DOUBLE) / n_a
                   - CAST(COALESCE(cnt_b, 0) AS DOUBLE) / n_b) AS drift
        FROM ca FULL OUTER JOIN cb ON ca.token = cb.token, na, nb
        ORDER BY drift DESC, token LIMIT 50
      """.trim),
      bench = true
    ),
    QueryDef(
      "dedup_incremental",
      // delta-vs-history near-dup via the stored band index: history text
      // is only fetched BY ID for candidates. Hash-family candidates → no
      // SQL oracle; planted-delta recall asserted in DedupSpec
      (spark, dir) => {
        val docs    = Tables(spark, dir).documents
        val history = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
        val delta   = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
        Dedup.minhashIncremental(
            history, Dedup.bandIndex(history, "doc_id", "text"), delta, "doc_id", "text")
          .orderBy("delta_id", "hist_id")
      },
      None,
      bench = true
    ),
    QueryDef(
      "dedup_candidate_budget",
      // blocking-scheme pre-flight: expected candidate-pair fanout of the
      // LSH band join and the simhash pigeonhole, from ONE aggregation
      // over bucket sizes — the cheap guard a 100 TB run uses to pick
      // blocking parameters BEFORE launching the join (ScaleShapeSpec
      // shows radius-8 simhash crossing the quadratic cliff at 50×).
      // Bucket sizes are engine-hash-derived → no SQL oracle; exactness
      // vs the materialized join asserted in ScaleShapeSpec
      (spark, dir) => {
        val docs = Tables(spark, dir).documents
        Dedup.lshCandidateBudget(docs, "doc_id", "text")
          .select(lit("minhash_lsh").as("scheme"), col("candidate_budget"))
          .unionByName(
            Dedup.simhashCandidateBudget(docs, "doc_id", "text", maxHamming = 8)
              .select(lit("simhash_r8").as("scheme"), col("candidate_budget")))
          .orderBy("scheme")
      },
      None,
      bench = true
    ),
    QueryDef(
      "dedup_spans",
      // C4/RefinedWeb span hygiene: every 5-token span occurring in ≥2
      // docs is EXCISED (not the docs dropped) and documents reassembled
      // from surviving tokens — equi-joins + one bounded aggregation,
      // nothing quadratic. Fully SQL-expressible → hash oracle.
      (spark, dir) =>
        Dedup.removeRepeatedSpans(spread(Tables(spark, dir).documents, "doc_id"), "doc_id", "text",
            spanTokens = 5, minDocs = 2)
          .orderBy("doc_id"),
      Some(spanCleanSql("")),
      bench = true
    ),
    QueryDef(
      "dedup_spans_incremental",
      // delta-vs-history span hygiene via the PERSISTED span index:
      // history text is never re-read; cleaning the delta against the
      // merged index is row-identical to the batch operator's output for
      // the delta docs, so the oracle is the batch SQL restricted to
      // delta ids
      (spark, dir) => {
        val docs    = spread(Tables(spark, dir).documents, "doc_id")
        val history = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
        val delta   = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
        Dedup.removeRepeatedSpansIncremental(
            Dedup.spanIndex(history, "doc_id", "text", spanTokens = 5),
            delta, "doc_id", "text", spanTokens = 5, minDocs = 2)
          .orderBy("doc_id")
      },
      Some(spanCleanSql("WHERE doc_id % 2 = 1")),
      bench = true
    ),
    QueryDef(
      "span_index_forget",
      // right-to-be-forgotten on the persisted span index: per-gram doc
      // counts form a GROUP, so deletion merges the deleted docs' own
      // index NEGATED and drops zeroed grams — O(deleted + index), the
      // surviving 100 TB corpus is never rescanned. Oracle: rebuild
      // from the survivors.
      (spark, dir) => {
        val docs    = spread(Tables(spark, dir).documents, "doc_id")
        val full    = Dedup.spanIndex(docs, "doc_id", "text", spanTokens = 5)
        val deleted = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
        Dedup.forgetFromSpanIndex(full, deleted, "doc_id", "text", spanTokens = 5)
          .orderBy("gram")
      },
      Some("""
        WITH base AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
                      FROM documents WHERE doc_id % 7 <> 0),
        grams AS (
          SELECT doc_id, array_to_string(ws[i:i+4], ' ') AS gram
          FROM base, unnest(range(1, greatest(len(ws) - 4, 0) + 1)) AS t(i)
        )
        SELECT gram, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM grams GROUP BY gram ORDER BY gram
      """.trim),
      bench = true
    ),
    QueryDef(
      "dedup_reweight",
      // SoftDeDup-style soft dedup: every exact copy stays, weighted
      // 1/n_copies so each distinct content contributes one unit of
      // expected training mass — one window pass on the content hash
      (spark, dir) =>
        Dedup.duplicationWeights(Tables(spark, dir).documents, "doc_id", "text")
          .orderBy("doc_id"),
      Some("""
        SELECT doc_id, md5(text) AS content_hash,
               CAST(count(*) OVER (PARTITION BY md5(text)) AS BIGINT) AS n_copies,
               CAST(1 AS DOUBLE) / CAST(count(*) OVER (PARTITION BY md5(text)) AS DOUBLE)
                 AS sample_weight
        FROM documents ORDER BY doc_id
      """.trim),
      bench = true
    ),
    QueryDef(
      "span_dup_fraction",
      // duplicated-content fraction per doc (the drop-or-weight policy's
      // input): share of token positions covered by a cross-doc hot
      // span — the span machinery measuring instead of excising
      (spark, dir) =>
        Dedup.spanDupFraction(spread(Tables(spark, dir).documents, "doc_id"), "doc_id", "text",
            spanTokens = 5, minDocs = 2)
          .orderBy("doc_id"),
      Some("""
        WITH base AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        toks AS (
          SELECT doc_id, i - 1 AS pos, ws[i] AS tok
          FROM base, unnest(range(1, len(ws) + 1)) AS t(i) WHERE ws[i] <> ''
        ),
        grams AS (
          SELECT doc_id, i - 1 AS gpos, array_to_string(ws[i:i+4], ' ') AS gram
          FROM base, unnest(range(1, greatest(len(ws) - 4, 0) + 1)) AS t(i)
        ),
        hot AS (SELECT gram FROM grams GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
        hotpos AS (
          SELECT DISTINCT doc_id, gpos + off AS pos
          FROM grams JOIN hot USING (gram), unnest(range(0, 5)) AS o(off)
        ),
        nt AS (SELECT doc_id, count(*) AS n_tokens FROM toks GROUP BY doc_id),
        nd AS (SELECT doc_id, count(*) AS n_dup FROM hotpos GROUP BY doc_id)
        SELECT nt.doc_id, CAST(nt.n_tokens AS BIGINT) AS n_tokens,
               CAST(COALESCE(nd.n_dup, 0) AS BIGINT) AS n_dup_tokens,
               CAST(COALESCE(nd.n_dup, 0) AS DOUBLE) / CAST(nt.n_tokens AS DOUBLE)
                 AS dup_fraction
        FROM nt LEFT JOIN nd USING (doc_id) ORDER BY nt.doc_id
      """.trim),
      bench = true
    ),
    QueryDef(
      "split_assign",
      // deterministic train/val/test manifest: md5 hex-prefix coin vs
      // cumulative thresholds — mutually exclusive, jointly exhaustive,
      // shuffle-free, salt-independent per experiment
      (spark, dir) =>
        Curation.assignSplits(Tables(spark, dir).documents, "doc_id",
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "v1")
          .select("doc_id", "split")
          .orderBy("doc_id"),
      Some("""
        SELECT doc_id,
               CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || 'v1'), 1, 4) < 'cccd' THEN 'train'
                    WHEN substr(md5(CAST(doc_id AS VARCHAR) || 'v1'), 1, 4) < 'e666' THEN 'val'
                    ELSE 'test' END AS split
        FROM documents ORDER BY doc_id
      """.trim),
      bench = true
    ),
    QueryDef(
      "split_group_safe",
      // leakage-safe split manifest: the coin is keyed on md5(text) —
      // the exact-dup content hash — so every copy of a duplicated
      // document flips the SAME coin and train can never hold an exact
      // copy of a test document. Still a pure projection: group
      // integrity comes from coin determinism, not a shuffle
      (spark, dir) =>
        Curation.assignSplitsByKey(Tables(spark, dir).documents,
            key = md5(col("text")),
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "v1")
          .select("doc_id", "split")
          .orderBy("doc_id"),
      Some("""
        SELECT doc_id,
               CASE WHEN substr(md5(md5(text) || 'v1'), 1, 4) < 'cccd' THEN 'train'
                    WHEN substr(md5(md5(text) || 'v1'), 1, 4) < 'e666' THEN 'val'
                    ELSE 'test' END AS split
        FROM documents ORDER BY doc_id
      """.trim),
      bench = true
    ),
    QueryDef(
      "select_budget",
      // token-budget quality selection (FineWeb-Edu shape): best docs by
      // integer-exact quality until the budget is spent. Two-phase plan:
      // band token-mass aggregate (≤1001 rows) + cumulative over the
      // BAND table; only the one boundary band runs a per-doc running
      // sum, partitioned by band — never a global-sort window. Proven
      // row-identical to the oracle's global cumsum prefix
      (spark, dir) =>
        Curation.selectByBudget(Tables(spark, dir).documents, "doc_id", "text",
            budgetTokens = 15000L)
          .orderBy("doc_id"),
      Some("""
        WITH d AS (
          SELECT doc_id,
                 CASE WHEN length(text) = 0 THEN CAST(0 AS BIGINT)
                      ELSE CAST((1000 * length(regexp_replace(text, '[^A-Za-z ]', '', 'g'))) // length(text) AS BIGINT)
                 END AS quality_fp,
                 CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
          FROM documents
        ), o AS (
          SELECT doc_id, quality_fp, n_tokens,
                 sum(n_tokens) OVER (ORDER BY quality_fp DESC, doc_id) AS cum
          FROM d
        )
        SELECT doc_id, quality_fp, n_tokens FROM o WHERE cum <= 15000 ORDER BY doc_id
      """.trim),
      bench = true
    ),
    QueryDef(
      "curriculum_order",
      // curriculum manifest: quality deciles coarse-to-fine, random
      // WITHIN each band — band from the integer quality (engine-exact
      // boundaries), order from the md5 coin (reproducible across runs
      // and engines); a pure projection + range-partitionable sort
      (spark, dir) =>
        Curation.docQualityTokens(Tables(spark, dir).documents, "doc_id", "text")
          .select(col("doc_id"), expr("quality_fp div 100").as("band"),
            md5(concat(col("doc_id").cast("string"), lit("|cur6"))).as("shuffle_key"))
          .orderBy(col("band").desc, col("shuffle_key")),
      Some("""
        SELECT doc_id,
               CAST((CASE WHEN length(text) = 0 THEN 0
                     ELSE (1000 * length(regexp_replace(text, '[^A-Za-z ]', '', 'g'))) // length(text)
                     END) // 100 AS BIGINT) AS band,
               md5(CAST(doc_id AS VARCHAR) || '|cur6') AS shuffle_key
        FROM documents ORDER BY band DESC, shuffle_key
      """.trim),
      bench = true
    ),
    QueryDef(
      "mix_budget",
      // DoReMi/Pile-style domain-weights manifest: per-source token
      // totals and the keep-weight min(1, budget/tokens) — one corpus
      // aggregation producing the dimension-sized table the sampler
      // broadcasts (stratifiedSample consumes it as fractions)
      (spark, dir) =>
        Curation.mixingManifest(Tables(spark, dir).documents, "source", "text",
            budgetTokens = 1500L)
          .orderBy("source"),
      Some("""
        SELECT source,
               CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_docs,
               least(1.0, 1500.0 / CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)) AS weight
        FROM documents GROUP BY source ORDER BY source
      """.trim),
      bench = true
    ),
    QueryDef(
      "corpus_report",
      // per-source corpus health report (the artifact a daily ingest
      // publishes): volume, token mass, exact dup rate, language spread.
      // countDistinct here is EXACT for oracle parity (the driver data
      // is small); at 100 TB the same report swaps in the mergeable HLL
      // sketches (analyze_ndv_sketch) to avoid the Expand of multiple
      // exact distincts in one aggregation
      (spark, dir) => {
        val d = Tables(spark, dir).documents
        d.groupBy("source").agg(
            count(lit(1)).as("n_docs"),
            sum(size(graft.functions.TextFunctions.tokens(col("text")))).as("n_tokens"),
            countDistinct(md5(col("text"))).as("n_distinct"),
            countDistinct(col("lang")).as("n_langs"))
          .withColumn("dup_rate",
            lit(1.0) - col("n_distinct").cast("double") / col("n_docs").cast("double"))
          .orderBy("source")
      },
      Some("""
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS n_tokens,
               CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct,
               CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
               1.0 - CAST(count(DISTINCT md5(text)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS dup_rate
        FROM documents GROUP BY source ORDER BY source
      """.trim),
      bench = true
    ),
    QueryDef(
      "bpe_pair_counts",
      // tokenizer training, pass 1: adjacent symbol-pair counts over the
      // DISTINCT-WORD table (bounded by vocabulary, not corpus volume) —
      // the only corpus scan BPE ever makes (operators.Bpe)
      (spark, dir) =>
        Bpe.pairCounts(Bpe.initialSymbols(Tables(spark, dir).documents, "text"))
          .orderBy(col("cnt").desc, col("a"), col("b")).limit(100),
      Some("""
        WITH wc AS (
          SELECT w, count(*) AS f
          FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w FROM documents)
          WHERE len(w) > 0 GROUP BY w
        )
        SELECT substr(w, i, 1) AS a, substr(w, i + 1, 1) AS b, CAST(sum(f) AS BIGINT) AS cnt
        FROM wc, unnest(range(1, length(w))) AS t(i)
        GROUP BY a, b ORDER BY cnt DESC, a, b LIMIT 100
      """.trim),
      bench = true
    ),
    QueryDef(
      "bpe_train_merges",
      // iterative merge induction: engine-specific iteration (1-row argmax
      // per step) → no SQL oracle; reference-equality vs an in-memory BPE
      // asserted in BpeSpec
      (spark, dir) =>
        Bpe.trainMerges(Tables(spark, dir).documents, "text", k = 8)
          .orderBy("rank"),
      None,
      bench = true
    ),
    QueryDef(
      "bpe_encode",
      // corpus tokenization with the learned vocabulary: the merge list
      // is a plan literal (broadcast-sized); one narrow corpus pass.
      // Merges are engine-derived → no SQL oracle; segmentation-partition
      // property in BpeSpec
      (spark, dir) => {
        val docs   = Tables(spark, dir).documents
        val merges = Bpe.trainMerges(docs, "text", k = 8).orderBy("rank")
          .collect().map(r => (r.getString(1), r.getString(2))).toSeq
        Bpe.applyMerges(docs.select("doc_id", "text"), "doc_id", "text", merges)
          .select(col("doc_id"), size(col("bpe_tokens")).as("n_bpe_tokens"),
            // stringified: the gate sorts/hashes scalar columns only — a raw
            // array<string> is unhashable driver-side (round-5 red row)
            concat_ws(" ", slice(col("bpe_tokens"), 1, 12)).as("head_tokens"))
          .orderBy("doc_id")
      },
      None,
      bench = true
    ),
    QueryDef(
      "bpe_roundtrip",
      // BPE segmentation is a PARTITION of each word: gluing the tokens
      // back together must reproduce the whitespace-stripped document
      // exactly, whatever merge list was learned. That invariant IS
      // ANSI-SQL-expressible, so the engine-derived tokenization gets a
      // real DuckDB hash oracle (docs with no tokens drop out of the
      // groupBy on both sides).
      (spark, dir) => {
        val docs   = Tables(spark, dir).documents
        val merges = Bpe.trainMerges(docs, "text", k = 8).orderBy("rank")
          .collect().map(r => (r.getString(1), r.getString(2))).toSeq
        Bpe.applyMerges(docs.select("doc_id", "text"), "doc_id", "text", merges)
          .select(col("doc_id"), concat_ws("", col("bpe_tokens")).as("glued"))
          .orderBy("doc_id")
      },
      Some("""
        SELECT doc_id, regexp_replace(trim(text), '\s+', '', 'g') AS glued
        FROM documents
        WHERE regexp_replace(trim(text), '\s+', '', 'g') <> ''
        ORDER BY doc_id
      """.trim),
      bench = false
    ),
    QueryDef(
      "src_orc_roundtrip",
      // ORC interchange must be lossless: documents written as ORC and
      // read back (explicit schema, native vectorized reader) hash-match
      // the parquet originals the oracle reads
      (spark, dir) => {
        val docs = Tables(spark, dir).documents
        val tmp  = java.nio.file.Files.createTempDirectory("graft_orc").toString + "/docs"
        graft.sources.Orc.write(docs, tmp)
        graft.sources.Orc.read(spark, tmp, docs.schema).orderBy("doc_id")
      },
      Some("SELECT * FROM documents ORDER BY doc_id"),
      bench = true
    ),
    QueryDef(
      "src_avro_roundtrip",
      // Avro interchange (Kafka-archive / schema-registry feeds) must be
      // lossless: documents written as Avro and read back (explicit
      // schema, splittable sync-marked blocks) hash-match the parquet
      // originals the oracle reads
      (spark, dir) => {
        val docs = Tables(spark, dir).documents
        val tmp  = java.nio.file.Files.createTempDirectory("graft_avro").toString + "/docs"
        graft.sources.Avro.write(docs, tmp)
        graft.sources.Avro.read(spark, tmp, docs.schema).orderBy("doc_id")
      },
      Some("SELECT * FROM documents ORDER BY doc_id"),
      bench = true
    ),
    QueryDef(
      "src_xml_roundtrip",
      // XML ingestion (arXiv/PubMed/Wikipedia-style dumps) must be
      // lossless for corpus text: documents written as XML (writer
      // escapes markup) and read back on the row tag hash-match the
      // parquet originals
      (spark, dir) => {
        val docs = Tables(spark, dir).documents
        val tmp  = java.nio.file.Files.createTempDirectory("graft_xml").toString + "/docs"
        graft.sources.Xml.write(docs, tmp, rowTag = "doc")
        graft.sources.Xml.read(spark, tmp, docs.schema, rowTag = "doc").orderBy("doc_id")
      },
      Some("SELECT * FROM documents ORDER BY doc_id"),
      bench = true
    ),
    QueryDef(
      "search_tfidf",
      // sparse lexical retrieval: tf-idf cosine top-5 per probe through
      // a token inverted join (never doc×doc). Fixed-point weights
      // (tf·10000 ∕ df integer division) keep dots/norms exact longs —
      // the cosine is deterministic arithmetic on exact integers, so
      // the ranking hash-matches where float-order dots would not
      (spark, dir) =>
        TextAnalysis.tfidfTopK(
            spread(Tables(spark, dir).documents, "doc_id"),
            "doc_id", "text", probeIds = Seq(0L, 7L, 42L), k = 5)
          .orderBy("probe_id", "rank"),
      Some("""
        WITH toks AS (
          SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok FROM documents
        ), tf AS (
          SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2
        ), dfreq AS (
          SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
        ), w AS (
          SELECT doc_id, tf.tok, (tf * 10000) // df AS w FROM tf JOIN dfreq ON tf.tok = dfreq.tok
        ), norms AS (
          SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS norm2 FROM w GROUP BY 1
          HAVING CAST(sum(w * w) AS BIGINT) > 0
        ), dots AS (
          SELECT p.doc_id AS probe_id, c.doc_id, CAST(sum(p.w * c.w) AS BIGINT) AS dot
          FROM w p JOIN w c ON p.tok = c.tok AND c.doc_id != p.doc_id
          WHERE p.doc_id IN (0, 7, 42)
          GROUP BY 1, 2
        ), scored AS (
          SELECT d.probe_id, d.doc_id,
                 CAST(d.dot AS DOUBLE) / (sqrt(CAST(np.norm2 AS DOUBLE)) * sqrt(CAST(nc.norm2 AS DOUBLE))) AS sim
          FROM dots d JOIN norms np ON d.probe_id = np.doc_id
                      JOIN norms nc ON d.doc_id = nc.doc_id
        )
        SELECT probe_id, CAST(rn AS INT) AS rank, doc_id, sim FROM (
          SELECT probe_id, doc_id, sim,
                 row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, doc_id ASC) AS rn
          FROM scored
        ) WHERE rn <= 5 ORDER BY probe_id, rank
      """.trim),
      bench = true
    ),
    QueryDef(
      "search_bm25",
      // BM25 top-5 per probe through the same token inverted join as
      // search_tfidf, in fully rational fixed point: tf-saturation
      // cleared of denominators (k1=6/5, b=3/4), RS-J odds idf without
      // the log (libm ln differs across runtimes in the last ulp) —
      // score sums are exact longs, so the ranking hash-matches DuckDB
      (spark, dir) =>
        TextAnalysis.bm25TopK(
            spread(Tables(spark, dir).documents, "doc_id"),
            "doc_id", "text", probeIds = Seq(0L, 7L, 42L), k = 5)
          .orderBy("probe_id", "rank"),
      Some(bm25Top5SqlOver("documents")),
      bench = true
    ),
    QueryDef(
      "search_hybrid_rrf",
      // the RAG-stack retrieval shape: BM25 top-20 (inverted token
      // join) and embedding-cosine top-20 (broadcast probe sweep) fused
      // by reciprocal-rank fusion in integer fixed point
      // (Σ 1000000 div (60 + rank)) — rank fusion over two engine-exact
      // rankings is itself engine-exact, so the hybrid list hash-matches
      (spark, dir) => {
        val t = Tables(spark, dir)
        TextAnalysis.hybridRrfTopK(
            spread(t.documents, "doc_id"), t.embeddings,
            "doc_id", "text", "vec_id", "embedding",
            probeIds = Seq(0L, 7L, 42L), depth = 20, k = 5)
          .orderBy("probe_id", "rank")
      },
      Some(hybridRrfSql),
      bench = true
    ),
    QueryDef(
      "search_hybrid_served",
      // hybrid retrieval ANSWERED FROM THE SERVING INDEXES: the lexical
      // branch reads the shared inverted index (probe-bucket-pruned
      // postings), the dense branch reads the hybrid-split ANN index
      // with nProbe = nCells — exact by construction (every cell
      // consulted through the same cell-pruned serve plan; dialing
      // nProbe below nCells is the recall/latency knob, recall ≥ 0.8
      // pinned in AnnIndexSpec), so the fusion hash-matches the
      // from-scratch search_hybrid_rrf oracle. Rank fusion is
      // ranker-agnostic (shared rrfFuseRanked), which is exactly why
      // the serving swap cannot move the fused arithmetic
      (spark, dir) => {
        import spark.implicits._
        val docs = spread(Tables(spark, dir).documents, "doc_id")
        val emb = Tables(spark, dir).embeddings
        val probes = Seq(0L, 7L, 42L)
        val lex = operators.InvertedIndex.bm25TopK(docs, "doc_id", "text",
            ServingIndexes.lexicalDir(spark, dir), probes, k = 20)
          .select(col("probe_id"), col("doc_id").as("__id"), col("rank").as("__lex_rank"))
        val den = operators.AnnIndex.topK(
            emb.filter($"vec_id".isin(probes: _*)), "vec_id", "embedding",
            ServingIndexes.annHybridDir(spark, dir), k = 20, nProbe = 16)
          .select(col("probe_id"), col("neighbor_id").as("__id"), col("rank").as("__den_rank"))
        TextAnalysis.rrfFuseRanked(lex, den, "doc_id", k = 5, rrfK = 60)
          .orderBy("probe_id", "rank")
      },
      Some(hybridRrfSql),
      bench = true
    ),
    QueryDef(
      "search_hybrid_filtered",
      // FILTERED hybrid retrieval: ONE document predicate (source
      // allowlist) applied to BOTH serving branches before their
      // depth-20 rankings — the lexical branch filters through the
      // inverted index's doc-metadata sidecar, the dense branch through
      // the hybrid ANN index's sidecar (the document's `source`
      // attached by an id join at build time). Both branches exact
      // (BM25 exact; nProbe = nCells), so the fused top-5 hash-matches
      // the source-restricted RRF oracle. The contamination-audit /
      // licensed-subset retrieval shape: "answer only from sources
      // we're allowed to serve", paying posting- and cell-pruned reads
      // plus a doc-count-sized sidecar scan — never the corpus
      (spark, dir) => {
        import spark.implicits._
        val allowed = Seq("src0", "src1", "src2", "src3", "src4")
        val docs = spread(Tables(spark, dir).documents, "doc_id")
        val emb = Tables(spark, dir).embeddings
        val probes = Seq(0L, 7L, 42L)
        val srcWhere = col("source").isin(allowed: _*)
        val lex = operators.InvertedIndex.bm25TopK(docs, "doc_id", "text",
            ServingIndexes.lexicalDir(spark, dir), probes, k = 20,
            where = Some(srcWhere))
          .select(col("probe_id"), col("doc_id").as("__id"), col("rank").as("__lex_rank"))
        val den = operators.AnnIndex.topK(
            emb.filter($"vec_id".isin(probes: _*)), "vec_id", "embedding",
            ServingIndexes.annHybridDir(spark, dir), k = 20, nProbe = 16,
            where = Some(srcWhere))
          .select(col("probe_id"), col("neighbor_id").as("__id"), col("rank").as("__den_rank"))
        TextAnalysis.rrfFuseRanked(lex, den, "doc_id", k = 5, rrfK = 60)
          .orderBy("probe_id", "rank")
      },
      Some(hybridRrfSqlWhere(Some(Seq("src0", "src1", "src2", "src3", "src4")))),
      bench = true
    ),
    QueryDef(
      "search_mlt",
      // more-like-this retrieval from the serving index: each probe
      // DOCUMENT's top-5 terms by idf (rarest first, deterministic
      // idf-desc/token-asc selection both engines replicate in exact
      // integers) become its query, BM25-scored with self-exclusion —
      // the "find documents like this one" shape, paying two
      // probe-sized vocab/stats reads + the 5 selected terms' posting
      // lists, never a corpus pass
      (spark, dir) => {
        val docs = spread(Tables(spark, dir).documents, "doc_id")
        operators.InvertedIndex.moreLikeThisTopK(docs, "doc_id", "text",
            ServingIndexes.lexicalDir(spark, dir),
            probeIds = Seq(0L, 7L, 42L), m = 5, k = 5)
          .orderBy("probe_id", "rank")
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok FROM documents
        ), tf AS (
          SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2
        ), dl AS (
          SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1
        ), stats AS (
          SELECT CAST(count(*) AS BIGINT) AS n, (100 * CAST(sum(dl) AS BIGINT)) // count(*) AS avgdl_fp FROM dl
        ), dfreq AS (
          SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
        ), idf AS (
          SELECT tok, ((2 * s.n - 2 * df + 1) * 1000) // (2 * df + 1) AS idf_fp FROM dfreq, stats s
        ), sat AS (
          SELECT tf.doc_id, tf.tok,
                 (22 * tf * s.avgdl_fp * 10000) //
                 (10 * tf * s.avgdl_fp + 3 * s.avgdl_fp + 900 * dl.dl) AS sat_fp
          FROM tf JOIN dl ON tf.doc_id = dl.doc_id, stats s
        ), sel AS (
          SELECT probe_id, tok FROM (
            SELECT q.doc_id AS probe_id, q.tok,
                   row_number() OVER (PARTITION BY q.doc_id
                     ORDER BY i.idf_fp DESC, q.tok ASC) AS trn
            FROM (SELECT DISTINCT doc_id, tok FROM tf WHERE doc_id IN (0, 7, 42)) q
            JOIN idf i ON i.tok = q.tok
          ) WHERE trn <= 5
        ), scores AS (
          SELECT sel.probe_id, s.doc_id,
                 CAST(sum(i.idf_fp * s.sat_fp) AS BIGINT) AS score_fp
          FROM sel
          JOIN sat s ON s.tok = sel.tok AND s.doc_id != sel.probe_id
          JOIN idf i ON i.tok = sel.tok
          GROUP BY 1, 2
        )
        SELECT probe_id, CAST(rn AS INT) AS rank, doc_id,
               CAST(score_fp AS DOUBLE) / 10000000.0 AS score
        FROM (
          SELECT probe_id, doc_id, score_fp,
                 row_number() OVER (PARTITION BY probe_id ORDER BY score_fp DESC, doc_id ASC) AS rn
          FROM scores
        ) WHERE rn <= 5 ORDER BY probe_id, rank
      """.trim),
      bench = true
    ),
    QueryDef(
      "search_highlight",
      // highlight/snippet primitive from the positional postings: the
      // exact 0-based token positions of each query term in each
      // requested doc — answered from posting lists (term + doc
      // filters pushed into the bucket-pruned scan), never the corpus
      // text; what a serving layer renders snippets around
      (spark, dir) =>
        operators.InvertedIndex.termPositions(spark,
            ServingIndexes.lexicalDir(spark, dir),
            terms = Seq("scan", "fast", "query"), docIds = Seq(0L, 7L, 42L))
          .orderBy("doc_id", "tok", "pos"),
      Some("""
        WITH d AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
          FROM documents WHERE doc_id IN (0, 7, 42)
        ), occ AS (
          SELECT doc_id, toks[i] AS tok, CAST(i - 1 AS INT) AS pos
          FROM d, unnest(range(1, len(toks) + 1)) AS u(i)
        )
        SELECT doc_id, tok, pos FROM occ
        WHERE tok IN ('scan', 'fast', 'query')
        ORDER BY doc_id, tok, pos
      """.trim),
      bench = true
    ),
    QueryDef(
      "search_mlt_filtered",
      // filtered more-like-this: the source allowlist gates the scored
      // CANDIDATES pre-rank through the index's doc-metadata sidecar
      // (term selection is unfiltered — the probe doc's rarest terms
      // are a property of the query, not of the allowed subset)
      (spark, dir) => {
        val docs = spread(Tables(spark, dir).documents, "doc_id")
        operators.InvertedIndex.moreLikeThisTopK(docs, "doc_id", "text",
            ServingIndexes.lexicalDir(spark, dir),
            probeIds = Seq(0L, 7L, 42L), m = 5, k = 5,
            where = Some(col("source").isin("src0", "src1", "src2", "src3", "src4")))
          .orderBy("probe_id", "rank")
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok FROM documents
        ), tf AS (
          SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2
        ), dl AS (
          SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1
        ), stats AS (
          SELECT CAST(count(*) AS BIGINT) AS n, (100 * CAST(sum(dl) AS BIGINT)) // count(*) AS avgdl_fp FROM dl
        ), dfreq AS (
          SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
        ), idf AS (
          SELECT tok, ((2 * s.n - 2 * df + 1) * 1000) // (2 * df + 1) AS idf_fp FROM dfreq, stats s
        ), sat AS (
          SELECT tf.doc_id, tf.tok,
                 (22 * tf * s.avgdl_fp * 10000) //
                 (10 * tf * s.avgdl_fp + 3 * s.avgdl_fp + 900 * dl.dl) AS sat_fp
          FROM tf JOIN dl ON tf.doc_id = dl.doc_id, stats s
        ), sel AS (
          SELECT probe_id, tok FROM (
            SELECT q.doc_id AS probe_id, q.tok,
                   row_number() OVER (PARTITION BY q.doc_id
                     ORDER BY i.idf_fp DESC, q.tok ASC) AS trn
            FROM (SELECT DISTINCT doc_id, tok FROM tf WHERE doc_id IN (0, 7, 42)) q
            JOIN idf i ON i.tok = q.tok
          ) WHERE trn <= 5
        ), scores AS (
          SELECT sel.probe_id, s.doc_id,
                 CAST(sum(i.idf_fp * s.sat_fp) AS BIGINT) AS score_fp
          FROM sel
          JOIN sat s ON s.tok = sel.tok AND s.doc_id != sel.probe_id
          JOIN documents fd ON fd.doc_id = s.doc_id
               AND fd.source IN ('src0', 'src1', 'src2', 'src3', 'src4')
          JOIN idf i ON i.tok = sel.tok
          GROUP BY 1, 2
        )
        SELECT probe_id, CAST(rn AS INT) AS rank, doc_id,
               CAST(score_fp AS DOUBLE) / 10000000.0 AS score
        FROM (
          SELECT probe_id, doc_id, score_fp,
                 row_number() OVER (PARTITION BY probe_id ORDER BY score_fp DESC, doc_id ASC) AS rn
          FROM scores
        ) WHERE rn <= 5 ORDER BY probe_id, rank
      """.trim),
      bench = true
    ),
    QueryDef(
      "search_suggest",
      // prefix autocomplete from the serving index's VOCABULARY: top-3
      // completions per prefix by (df desc, token asc) — a
      // vocabulary-sized read with the prefix disjunction pushed into
      // the scan, never a posting or corpus read; df stays exact under
      // maintenance (delta/delete/CDC commit df corrections)
      (spark, dir) =>
        operators.InvertedIndex.suggestTopK(spark,
            ServingIndexes.lexicalDir(spark, dir),
            prefixes = Seq("s", "c", "f"), k = 3)
          .orderBy("prefix", "rank"),
      Some("""
        WITH toks AS (
          SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok FROM documents
        ), dfreq AS (
          SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM toks GROUP BY 1
        ), p AS (
          SELECT * FROM (VALUES ('s'), ('c'), ('f')) AS t(prefix)
        )
        SELECT prefix, CAST(rn AS INT) AS rank, tok, df FROM (
          SELECT p.prefix, d.tok, d.df,
                 row_number() OVER (PARTITION BY p.prefix
                   ORDER BY d.df DESC, d.tok ASC) AS rn
          FROM dfreq d JOIN p ON d.tok LIKE p.prefix || '%'
        ) WHERE rn <= 3 ORDER BY prefix, rank
      """.trim),
      bench = true
    ),
    QueryDef(
      "search_bm25_capped",
      // the stopword-probe scale valve (WAND-lite): probe terms whose
      // df exceeds 78% of the corpus are dropped from the query BEFORE
      // bucket pruning — their corpus-sized posting lists are never
      // read (at 100 TB one stopword probe term otherwise turns a
      // posting-list-sized read into a corpus scan; the dropped terms
      // carry near-zero idf, so the trade is explicit and tiny). The
      // integer threshold (df·100 ≤ n·78) is replicated exactly in the
      // oracle's query-term filter. (78 because the synthetic vocab is
      // uniformly hot — every token sits at 74-80% df — so this is the
      // band where a cap separates; at sf0.01 it keeps 15 of 30 probe
      // terms, non-vacuous in both directions)
      (spark, dir) => {
        val docs = spread(Tables(spark, dir).documents, "doc_id")
        operators.InvertedIndex.bm25TopK(docs, "doc_id", "text",
            ServingIndexes.lexicalDir(spark, dir), probeIds = Seq(0L, 7L, 42L), k = 5,
            maxDfPercent = Some(78))
          .orderBy("probe_id", "rank")
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok FROM documents
        ), tf AS (
          SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2
        ), dl AS (
          SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1
        ), stats AS (
          SELECT CAST(count(*) AS BIGINT) AS n, (100 * CAST(sum(dl) AS BIGINT)) // count(*) AS avgdl_fp FROM dl
        ), dfreq AS (
          SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
        ), idf AS (
          SELECT tok, ((2 * s.n - 2 * df + 1) * 1000) // (2 * df + 1) AS idf_fp FROM dfreq, stats s
        ), sat AS (
          SELECT tf.doc_id, tf.tok,
                 (22 * tf * s.avgdl_fp * 10000) //
                 (10 * tf * s.avgdl_fp + 3 * s.avgdl_fp + 900 * dl.dl) AS sat_fp
          FROM tf JOIN dl ON tf.doc_id = dl.doc_id, stats s
        ), scores AS (
          SELECT q.doc_id AS probe_id, s.doc_id,
                 CAST(sum(i.idf_fp * s.sat_fp) AS BIGINT) AS score_fp
          FROM tf q
          JOIN dfreq qdf ON qdf.tok = q.tok
          JOIN stats st ON qdf.df * 100 <= st.n * 78
          JOIN sat s ON q.tok = s.tok AND s.doc_id != q.doc_id
          JOIN idf i ON i.tok = q.tok
          WHERE q.doc_id IN (0, 7, 42)
          GROUP BY 1, 2
        )
        SELECT probe_id, CAST(rn AS INT) AS rank, doc_id,
               CAST(score_fp AS DOUBLE) / 10000000.0 AS score
        FROM (
          SELECT probe_id, doc_id, score_fp,
                 row_number() OVER (PARTITION BY probe_id ORDER BY score_fp DESC, doc_id ASC) AS rn
          FROM scores
        ) WHERE rn <= 5 ORDER BY probe_id, rank
      """.trim),
      bench = true
    ),
    QueryDef(
      "search_bm25_indexed",
      // the serving shape of search_bm25: postings/vocab/stats persisted
      // once (bucket-partitioned by token hash), the query reads ONLY the
      // probe terms' bucket directories — partition-pruned before any
      // I/O — and joins them to the broadcast probe terms. Ranking is the
      // same fixed-point arithmetic, so it hash-matches the from-scratch
      // oracle
      (spark, dir) => ServingIndexes.disposeAfter(spark, "graft_invidx") { work =>
        val docs = spread(Tables(spark, dir).documents, "doc_id")
        // BM25-only lifecycle -> BM25-only index (withPositions=false,
        // the honest production config for a non-span index; the
        // POSITIONAL build cost is visible in search_bm25_served's cold
        // pass, and the positional CDC lifecycle is spec-gated via
        // phrase-over-CDC)
        operators.InvertedIndex.build(docs, "doc_id", "text", work,
          withPositions = false)
        operators.InvertedIndex.bm25TopK(docs, "doc_id", "text", work,
            probeIds = Seq(0L, 7L, 42L), k = 5)
          .orderBy("probe_id", "rank")
      },
      Some(bm25Top5SqlOver("documents")),
      bench = true
    ),
    QueryDef(
      "search_bm25_served",
      // the SERVE-ONLY board number: answers from the per-process
      // prebuilt shared index (built lazily on Bench's first pass, so
      // the steady min times pure serving — the number a serve-path
      // regression can no longer hide under build noise; the lifecycle
      // entries above/below keep measuring build+mutate on purpose).
      // Same fixed-point arithmetic, same oracle as search_bm25.
      (spark, dir) => {
        val docs = spread(Tables(spark, dir).documents, "doc_id")
        operators.InvertedIndex.bm25TopK(docs, "doc_id", "text",
            ServingIndexes.lexicalDir(spark, dir), probeIds = Seq(0L, 7L, 42L), k = 5)
          .orderBy("probe_id", "rank")
      },
      Some(bm25Top5SqlOver("documents")),
      bench = true
    ),
    QueryDef(
      "search_bm25_sql",
      // the SQL-ONLY path: `SELECT * FROM graft_bm25('<dir>', 'raw
      // query text', k)` through the GraftExtensions table function —
      // round 11 exposed index MAINTENANCE in SQL (CALL graft.system.*)
      // but not serving; a SQL-first user could compact an index they
      // could not query. The TVF resolves to the same manifest-pruned
      // serve plan the Scala API builds (query terms tokenized with the
      // build's expression, distinct terms scored — no self-exclusion:
      // the query is not a corpus document), hash-matched here against
      // the from-scratch DuckDB computation over literal query text
      (spark, dir) => {
        val idx = ServingIndexes.lexicalDir(spark, dir)
        spark.sql(s"SELECT * FROM graft_bm25('$idx', 'fast key scan', 5)")
          .unionByName(spark.sql(s"SELECT * FROM graft_bm25('$idx', 'table value', 5)"))
          .orderBy("q", "rank")
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok FROM documents
        ), tf AS (
          SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2
        ), dl AS (
          SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1
        ), stats AS (
          SELECT CAST(count(*) AS BIGINT) AS n, (100 * CAST(sum(dl) AS BIGINT)) // count(*) AS avgdl_fp FROM dl
        ), dfreq AS (
          SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
        ), idf AS (
          SELECT tok, ((2 * s.n - 2 * df + 1) * 1000) // (2 * df + 1) AS idf_fp FROM dfreq, stats s
        ), sat AS (
          SELECT tf.doc_id, tf.tok,
                 (22 * tf * s.avgdl_fp * 10000) //
                 (10 * tf * s.avgdl_fp + 3 * s.avgdl_fp + 900 * dl.dl) AS sat_fp
          FROM tf JOIN dl ON tf.doc_id = dl.doc_id, stats s
        ), qd AS (
          SELECT DISTINCT q, unnest(regexp_split_to_array(q, '\s+')) AS tok
          FROM (VALUES ('fast key scan'), ('table value')) t(q)
        ), scores AS (
          SELECT qd.q, s.doc_id, CAST(sum(i.idf_fp * s.sat_fp) AS BIGINT) AS score_fp
          FROM sat s JOIN qd ON s.tok = qd.tok JOIN idf i ON i.tok = s.tok
          GROUP BY 1, 2
        )
        SELECT q, CAST(rn AS INT) AS rank, doc_id,
               CAST(score_fp AS DOUBLE) / 10000000.0 AS score
        FROM (
          SELECT q, doc_id, score_fp,
                 row_number() OVER (PARTITION BY q ORDER BY score_fp DESC, doc_id ASC) AS rn
          FROM scores
        ) WHERE rn <= 5 ORDER BY q, rank
      """.trim),
      bench = true
    ),
    QueryDef(
      "search_bm25_approx",
      // IMPACT-ORDERED approximate serving (the recall-knob mode the
      // round-12 block-max adjudication scoped): candidates restricted
      // to each query term's top-64 postings by fixed-point impact
      // (champion lists, built once on the shared index), scored with
      // the exact arithmetic over those rows only — reads bounded by
      // q·64 champion rows instead of the terms' full (stopword-hot)
      // posting lists. The selection and the truncated-sum scoring are
      // integer arithmetic DuckDB replicates exactly, so the
      // approximate mode is hash-gated like the exact ones — the knob
      // trades recall, never determinism.
      (spark, dir) => {
        val idx = ServingIndexes.lexicalDir(spark, dir)
        operators.InvertedIndex.bm25TopKTextApprox(spark, idx,
            Seq("fast key scan", "table value"), k = 5)
          .orderBy("q", "rank")
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok FROM documents
        ), tf AS (
          SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2
        ), dl AS (
          SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1
        ), stats AS (
          SELECT CAST(count(*) AS BIGINT) AS n, (100 * CAST(sum(dl) AS BIGINT)) // count(*) AS avgdl_fp FROM dl
        ), dfreq AS (
          SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
        ), idf AS (
          SELECT tok, ((2 * s.n - 2 * df + 1) * 1000) // (2 * df + 1) AS idf_fp FROM dfreq, stats s
        ), sat AS (
          SELECT tf.doc_id, tf.tok,
                 (22 * tf * s.avgdl_fp * 10000) //
                 (10 * tf * s.avgdl_fp + 3 * s.avgdl_fp + 900 * dl.dl) AS sat_fp
          FROM tf JOIN dl ON tf.doc_id = dl.doc_id, stats s
        ), champ AS (
          SELECT doc_id, tok, sat_fp FROM (
            SELECT doc_id, tok, sat_fp,
                   row_number() OVER (PARTITION BY tok ORDER BY sat_fp DESC, doc_id ASC) AS crn
            FROM sat
          ) WHERE crn <= 64
        ), qd AS (
          SELECT DISTINCT q, unnest(regexp_split_to_array(q, '\s+')) AS tok
          FROM (VALUES ('fast key scan'), ('table value')) t(q)
        ), scores AS (
          SELECT qd.q, c.doc_id, CAST(sum(i.idf_fp * c.sat_fp) AS BIGINT) AS score_fp
          FROM champ c JOIN qd ON c.tok = qd.tok JOIN idf i ON i.tok = c.tok
          GROUP BY 1, 2
        )
        SELECT q, CAST(rn AS INT) AS rank, doc_id,
               CAST(score_fp AS DOUBLE) / 10000000.0 AS score
        FROM (
          SELECT q, doc_id, score_fp,
                 row_number() OVER (PARTITION BY q ORDER BY score_fp DESC, doc_id ASC) AS rn
          FROM scores
        ) WHERE rn <= 5 ORDER BY q, rank
      """.trim),
      bench = true
    ),
    QueryDef(
      "search_bm25_sharded",
      // DOCUMENT-PARTITIONED federation serve (ShardedIndex): the query
      // fans out to 3 independent per-shard indexes and scores with
      // federation-GLOBAL statistics (n/sumdl/df summed across the
      // shards' sidecars driver-side — per-shard idf would make ranks
      // incomparable across shards), so the answer is hash-identical
      // to ONE index over the whole corpus and shares search_bm25_sql's
      // oracle verbatim. Each shard's scan keeps its bucket pruning +
      // pushed terms; shards build/maintain/export independently — the
      // layout a 100 TB serving cluster actually runs.
      (spark, dir) => {
        val idx = ServingIndexes.shardedLexicalDir(spark, dir)
        operators.ShardedIndex.bm25TopKTextSharded(spark, idx,
            Seq("fast key scan", "table value"), k = 5)
          .orderBy("q", "rank")
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok FROM documents
        ), tf AS (
          SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2
        ), dl AS (
          SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1
        ), stats AS (
          SELECT CAST(count(*) AS BIGINT) AS n, (100 * CAST(sum(dl) AS BIGINT)) // count(*) AS avgdl_fp FROM dl
        ), dfreq AS (
          SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
        ), idf AS (
          SELECT tok, ((2 * s.n - 2 * df + 1) * 1000) // (2 * df + 1) AS idf_fp FROM dfreq, stats s
        ), sat AS (
          SELECT tf.doc_id, tf.tok,
                 (22 * tf * s.avgdl_fp * 10000) //
                 (10 * tf * s.avgdl_fp + 3 * s.avgdl_fp + 900 * dl.dl) AS sat_fp
          FROM tf JOIN dl ON tf.doc_id = dl.doc_id, stats s
        ), qd AS (
          SELECT DISTINCT q, unnest(regexp_split_to_array(q, '\s+')) AS tok
          FROM (VALUES ('fast key scan'), ('table value')) t(q)
        ), scores AS (
          SELECT qd.q, s.doc_id, CAST(sum(i.idf_fp * s.sat_fp) AS BIGINT) AS score_fp
          FROM sat s JOIN qd ON s.tok = qd.tok JOIN idf i ON i.tok = s.tok
          GROUP BY 1, 2
        )
        SELECT q, CAST(rn AS INT) AS rank, doc_id,
               CAST(score_fp AS DOUBLE) / 10000000.0 AS score
        FROM (
          SELECT q, doc_id, score_fp,
                 row_number() OVER (PARTITION BY q ORDER BY score_fp DESC, doc_id ASC) AS rn
          FROM scores
        ) WHERE rn <= 5 ORDER BY q, rank
      """.trim),
      bench = true
    ),
    QueryDef(
      "search_bm25_approx_sharded",
      // IMPACT-ORDERED approximate serving over the FEDERATION: the
      // champion sidecars are built with the GLOBAL top-64 selection
      // (one federated impact-ranked pass under federation-global
      // avgdl, routed into per-shard sidecars), so the candidate
      // restriction is exactly the flat index's champion list and the
      // serve — global stats over the unioned per-shard champion scans
      // — is hash-identical to search_bm25_approx: one oracle covers
      // both layouts. Reads stay q·64 champion rows per shard touched;
      // a per-shard selection would be cheaper to build but silently
      // recall-different per routing layout (ShardedIndexSpec pins the
      // equality, the c >= max df degeneracy, and post-champion delta
      // freshness).
      (spark, dir) => {
        val idx = ServingIndexes.shardedLexicalChampionsDir(spark, dir)
        operators.ShardedIndex.bm25TopKTextApproxSharded(spark, idx,
            Seq("fast key scan", "table value"), k = 5)
          .orderBy("q", "rank")
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok FROM documents
        ), tf AS (
          SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2
        ), dl AS (
          SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1
        ), stats AS (
          SELECT CAST(count(*) AS BIGINT) AS n, (100 * CAST(sum(dl) AS BIGINT)) // count(*) AS avgdl_fp FROM dl
        ), dfreq AS (
          SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
        ), idf AS (
          SELECT tok, ((2 * s.n - 2 * df + 1) * 1000) // (2 * df + 1) AS idf_fp FROM dfreq, stats s
        ), sat AS (
          SELECT tf.doc_id, tf.tok,
                 (22 * tf * s.avgdl_fp * 10000) //
                 (10 * tf * s.avgdl_fp + 3 * s.avgdl_fp + 900 * dl.dl) AS sat_fp
          FROM tf JOIN dl ON tf.doc_id = dl.doc_id, stats s
        ), champ AS (
          SELECT doc_id, tok, sat_fp FROM (
            SELECT doc_id, tok, sat_fp,
                   row_number() OVER (PARTITION BY tok ORDER BY sat_fp DESC, doc_id ASC) AS crn
            FROM sat
          ) WHERE crn <= 64
        ), qd AS (
          SELECT DISTINCT q, unnest(regexp_split_to_array(q, '\s+')) AS tok
          FROM (VALUES ('fast key scan'), ('table value')) t(q)
        ), scores AS (
          SELECT qd.q, c.doc_id, CAST(sum(i.idf_fp * c.sat_fp) AS BIGINT) AS score_fp
          FROM champ c JOIN qd ON c.tok = qd.tok JOIN idf i ON i.tok = c.tok
          GROUP BY 1, 2
        )
        SELECT q, CAST(rn AS INT) AS rank, doc_id,
               CAST(score_fp AS DOUBLE) / 10000000.0 AS score
        FROM (
          SELECT q, doc_id, score_fp,
                 row_number() OVER (PARTITION BY q ORDER BY score_fp DESC, doc_id ASC) AS rn
          FROM scores
        ) WHERE rn <= 5 ORDER BY q, rank
      """.trim),
      bench = true
    ),
    QueryDef(
      "ann_sharded",
      // the dense federation twin: probes fan out to 3 independent
      // per-shard IVF indexes (each trained on its own slice) and the
      // per-shard top-k lists merge by exact cosine. Full probe
      // (nProbe = nCells) makes every shard exact over its slice, so
      // the merged answer is the EXACT global top-k — ann_bruteforce's
      // oracle verbatim; partial probes are the per-shard recall knob
      // (spec-gated in ShardedIndexSpec)
      (spark, dir) => {
        import spark.implicits._
        val idx = ServingIndexes.shardedAnnDir(spark, dir)
        val probes = Tables(spark, dir).embeddings.filter($"vec_id" < 5)
        operators.ShardedIndex.annTopKSharded(probes, "vec_id", "embedding",
            idx, k = 5, nProbe = 8)
          .orderBy("probe_id", "rank")
      },
      Some("""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             p AS (SELECT * FROM e WHERE vec_id < 5),
             c AS (SELECT * FROM e WHERE vec_id >= 5)
        SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
               list_cosine_similarity(p.v, c.v) AS cosine,
               CAST(row_number() OVER (PARTITION BY p.vec_id
                    ORDER BY list_cosine_similarity(p.v, c.v) DESC, c.vec_id) AS INT) AS rank
        FROM p, c
        QUALIFY rank <= 5
        ORDER BY probe_id, rank
      """.trim),
      bench = true
    ),
    QueryDef(
      "search_phrase_sharded",
      // phrase search over the federation: each shard answers from its
      // positional postings, the merge re-ranks by the same
      // (occurrences desc, doc_id asc) key — per-doc counts live wholly
      // in one shard, so the federated answer equals the flat index's
      // and shares search_phrase_indexed's oracle shape
      (spark, dir) => {
        val idx = ServingIndexes.shardedLexicalDir(spark, dir)
        operators.ShardedIndex.phraseTopKSharded(spark, idx,
            phrases = Seq("fast key scan", "table table", "value fast"), k = 5)
          .orderBy("phrase", "rank")
      },
      Some("""
        WITH d AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
        ), p AS (
          SELECT * FROM (VALUES ('fast key scan', ['fast','key','scan']),
                                ('table table', ['table','table']),
                                ('value fast', ['value','fast'])) AS t(phrase, pts)
        ), m AS (
          SELECT p.phrase, d.doc_id,
                 len(list_filter(range(1, len(toks) - len(pts) + 2),
                     i -> toks[i:i+len(pts)-1] = pts)) AS n
          FROM d CROSS JOIN p
        )
        SELECT phrase, CAST(rn AS INT) AS rank, doc_id, CAST(n AS BIGINT) AS n FROM (
          SELECT phrase, doc_id, n,
                 row_number() OVER (PARTITION BY phrase ORDER BY n DESC, doc_id) AS rn
          FROM m WHERE n > 0
        ) WHERE rn <= 5 ORDER BY phrase, rank
      """.trim),
      bench = true
    ),
    QueryDef(
      "search_index_delta",
      // incremental index maintenance: build on half the corpus, fold the
      // other half in via addDelta — churn-sized postings append + a
      // vocabulary-bounded df/stats merge, the historical postings never
      // re-read. The grown index must answer EXACTLY like a from-scratch
      // rebuild over the full corpus (tf-saturation uses the current
      // avgdl, recomputed at query time) — same oracle as search_bm25
      (spark, dir) => ServingIndexes.disposeAfter(spark, "graft_invidx_d") { work =>
        val docs = spread(Tables(spark, dir).documents, "doc_id")
        operators.InvertedIndex.build(
          docs.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id", "text", work,
          withPositions = false) // BM25-only lifecycle (see search_bm25_indexed)
        operators.InvertedIndex.addDelta(
          docs.filter(pmod(col("doc_id"), lit(2)) === 1), "doc_id", "text", work)
        operators.InvertedIndex.bm25TopK(docs, "doc_id", "text", work,
            probeIds = Seq(0L, 7L, 42L), k = 5)
          .orderBy("probe_id", "rank")
      },
      Some(bm25Top5SqlOver("documents")),
      bench = true
    ),
    QueryDef(
      "search_index_delete",
      // index DELETE support: tombstone a slice of the corpus, then
      // serve. The tombstone commit subtracts the deleted docs'
      // df/n/sumdl in the SAME atomic claim, so the served ranking is
      // row-identical to an index that never contained them — the
      // oracle is the from-scratch BM25 over the remaining corpus. The
      // probes (0, 7, 42) are all ≡ 0 mod 7, never deleted.
      (spark, dir) => ServingIndexes.disposeAfter(spark, "graft_invidx_x") { work =>
        val docs = spread(Tables(spark, dir).documents, "doc_id")
        operators.InvertedIndex.build(docs, "doc_id", "text", work,
          withPositions = false) // BM25-only lifecycle (see search_bm25_indexed)
        operators.InvertedIndex.deleteDocs(
          docs.filter(pmod(col("doc_id"), lit(7)) === 3).select("doc_id"), "doc_id", work)
        operators.InvertedIndex.bm25TopK(docs, "doc_id", "text", work,
            probeIds = Seq(0L, 7L, 42L), k = 5)
          .orderBy("probe_id", "rank")
      },
      Some(bm25Top5SqlOver("(SELECT * FROM documents WHERE doc_id % 7 != 3)")),
      bench = true
    ),
    QueryDef(
      "search_index_cdc",
      // one CDC micro-batch against the serving index — the reference's
      // change-capture loop applied to the SERVING layer. Build on the
      // seed corpus (doc_id % 5 != 4), then ONE atomic applyCdc commit
      // carries updates (doc_id % 13 == 6 docs double their text),
      // deletes (doc_id % 11 == 5) and inserts (doc_id % 5 == 4):
      // new postings, a coverage tombstone (Iceberg sequence semantics —
      // the updated docs' NEW rows survive their own tombstone), and
      // corrected vocab/stats land in one manifest claim. Serving must
      // be row-identical to a from-scratch build over the post-CDC
      // corpus. Probes 0/7/42 are untouched by construction.
      (spark, dir) => ServingIndexes.disposeAfter(spark, "graft_invidx_c") { work =>
        val docs = spread(Tables(spark, dir).documents, "doc_id").select("doc_id", "text")
        val seed = docs.filter(pmod(col("doc_id"), lit(5)) =!= 4)
        // BM25-only lifecycle; this also puts the positions-FREE
        // CDC path (tombstone coverage + schema-stable delta staging)
        // under the DuckDB oracle, complementing the positional CDC
        // covered by the phrase-over-CDC spec
        operators.InvertedIndex.build(seed, "doc_id", "text", work,
          withPositions = false)
        val updates = seed
          .filter(pmod(col("doc_id"), lit(13)) === 6 && pmod(col("doc_id"), lit(11)) =!= 5)
          .select(col("doc_id"), concat_ws(" ", col("text"), col("text")).as("text"))
        val inserts = docs.filter(pmod(col("doc_id"), lit(5)) === 4)
        val deletes = seed.filter(pmod(col("doc_id"), lit(11)) === 5).select("doc_id")
        val leaving = updates.select("doc_id").unionByName(deletes)
        operators.InvertedIndex.applyCdc(
          upserts = updates.unionByName(inserts),
          removals = seed.join(leaving, Seq("doc_id"), "left_semi"),
          "doc_id", "text", work)
        operators.InvertedIndex.bm25TopK(docs, "doc_id", "text", work,
            probeIds = Seq(0L, 7L, 42L), k = 5)
          .orderBy("probe_id", "rank")
      },
      Some(bm25Top5SqlOver("""(
        SELECT doc_id,
               CASE WHEN doc_id % 13 = 6 AND doc_id % 5 != 4 AND doc_id % 11 != 5
                    THEN text || ' ' || text ELSE text END AS text
        FROM documents
        WHERE doc_id % 5 = 4 OR doc_id % 11 != 5)""")),
      bench = true
    ),
    QueryDef(
      "search_phrase_indexed",
      // exact phrase search FROM the positional postings (no corpus
      // access at query time): a doc matches "t0 … tL-1" at start p iff
      // every ti's posting has position p+i, so matches = intersection
      // of each term's positions shifted by its offset. The scan reads
      // only the phrase terms' buckets' files; occurrence counting is
      // exact and overlapping, which is what the oracle's naive
      // token-slice scan computes. SERVE-ONLY since round 12: answers
      // from the shared prebuilt index (no mutation in this entry; the
      // build axis is covered by search_bm25_indexed)
      (spark, dir) =>
        operators.InvertedIndex.phraseTopK(spark, ServingIndexes.lexicalDir(spark, dir),
            phrases = Seq("fast key scan", "table table", "value fast"), k = 5)
          .orderBy("phrase", "rank"),
      Some("""
        WITH d AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
        ), p AS (
          SELECT * FROM (VALUES ('fast key scan', ['fast','key','scan']),
                                ('table table', ['table','table']),
                                ('value fast', ['value','fast'])) AS t(phrase, pts)
        ), m AS (
          SELECT p.phrase, d.doc_id,
                 len(list_filter(range(1, len(toks) - len(pts) + 2),
                     i -> toks[i:i+len(pts)-1] = pts)) AS n
          FROM d CROSS JOIN p
        )
        SELECT phrase, CAST(rn AS INT) AS rank, doc_id, CAST(n AS BIGINT) AS n FROM (
          SELECT phrase, doc_id, n,
                 row_number() OVER (PARTITION BY phrase ORDER BY n DESC, doc_id) AS rn
          FROM m WHERE n > 0
        ) WHERE rn <= 5 ORDER BY phrase, rank
      """.trim),
      bench = true
    ),
    QueryDef(
      "search_proximity_indexed",
      // ordered span-near from the positional postings: anchors =
      // positions p of the FIRST term with the SECOND term in
      // (p, p+window], counted by the linear two-pointer kernel
      // (plans/PositionExpressions). Same serving shape as phrase
      // search (pair terms' buckets only, pair table broadcast);
      // SERVE-ONLY from the shared prebuilt index since round 12; the
      // oracle is the naive nested position scan of the corpus
      (spark, dir) =>
        operators.InvertedIndex.proximityTopK(spark, ServingIndexes.lexicalDir(spark, dir),
            pairs = Seq(("scan", "fast"), ("table", "query"), ("key", "value")),
            window = 3, k = 5)
          .orderBy("q", "rank"),
      Some("""
        WITH d AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
        ), p AS (
          SELECT * FROM (VALUES ('scan fast', 'scan', 'fast'),
                                ('table query', 'table', 'query'),
                                ('key value', 'key', 'value')) AS t(q, a, b)
        ), m AS (
          SELECT p.q, d.doc_id,
                 len(list_filter(
                   list_filter(range(1, len(toks)+1), i -> toks[i] = a),
                   pp -> len(list_filter(range(1, len(toks)+1),
                             j -> toks[j] = b AND j > pp AND j - pp <= 3)) > 0)) AS n
          FROM d CROSS JOIN p
        )
        SELECT q, CAST(rn AS INT) AS rank, doc_id, CAST(n AS BIGINT) AS n FROM (
          SELECT q, doc_id, n,
                 row_number() OVER (PARTITION BY q ORDER BY n DESC, doc_id) AS rn
          FROM m WHERE n > 0
        ) WHERE rn <= 5 ORDER BY q, rank
      """.trim),
      bench = true
    ),
    QueryDef(
      "search_bm25_filtered",
      // FILTERED retrieval from the serving index: the `where`
      // predicate evaluates against the index's doc-metadata sidecar
      // (doc-count-sized, pinned at build; latest-wins under CDC) and
      // semi-joins the scored candidates BEFORE ranking — top-5 of the
      // allowed sources only, with corpus-level idf/avgdl (standard
      // filtered-search semantics). Scoring stays posting-sized; the
      // sidecar read is a narrow column-pruned scan, never the corpus
      // text
      (spark, dir) => {
        val docs = spread(Tables(spark, dir).documents, "doc_id")
        operators.InvertedIndex.bm25TopK(docs, "doc_id", "text",
            ServingIndexes.lexicalDir(spark, dir), probeIds = Seq(0L, 7L, 42L), k = 5,
            where = Some(col("source").isin("src0", "src1", "src2", "src3", "src4")))
          .orderBy("probe_id", "rank")
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok FROM documents
        ), tf AS (
          SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2
        ), dl AS (
          SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1
        ), stats AS (
          SELECT CAST(count(*) AS BIGINT) AS n, (100 * CAST(sum(dl) AS BIGINT)) // count(*) AS avgdl_fp FROM dl
        ), dfreq AS (
          SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
        ), idf AS (
          SELECT tok, ((2 * s.n - 2 * df + 1) * 1000) // (2 * df + 1) AS idf_fp FROM dfreq, stats s
        ), sat AS (
          SELECT tf.doc_id, tf.tok,
                 (22 * tf * s.avgdl_fp * 10000) //
                 (10 * tf * s.avgdl_fp + 3 * s.avgdl_fp + 900 * dl.dl) AS sat_fp
          FROM tf JOIN dl ON tf.doc_id = dl.doc_id, stats s
        ), scores AS (
          SELECT q.doc_id AS probe_id, s.doc_id,
                 CAST(sum(i.idf_fp * s.sat_fp) AS BIGINT) AS score_fp
          FROM tf q
          JOIN sat s ON q.tok = s.tok AND s.doc_id != q.doc_id
          JOIN documents d ON d.doc_id = s.doc_id
               AND d.source IN ('src0', 'src1', 'src2', 'src3', 'src4')
          JOIN idf i ON i.tok = q.tok
          WHERE q.doc_id IN (0, 7, 42)
          GROUP BY 1, 2
        )
        SELECT probe_id, CAST(rn AS INT) AS rank, doc_id,
               CAST(score_fp AS DOUBLE) / 10000000.0 AS score
        FROM (
          SELECT probe_id, doc_id, score_fp,
                 row_number() OVER (PARTITION BY probe_id ORDER BY score_fp DESC, doc_id ASC) AS rn
          FROM scores
        ) WHERE rn <= 5 ORDER BY probe_id, rank
      """.trim),
      bench = true
    ),
    QueryDef(
      "search_phrase_filtered",
      // FILTERED phrase search — the contamination-audit shape (find
      // benchmark phrases only in docs from specific sources): the
      // `where` predicate gates the matched docs through the meta
      // sidecar BEFORE ranking, exactly like filtered BM25. Phrase
      // occurrence counts are per-doc (no corpus-level stats), so
      // filtering matches pre-rank equals matching over the filtered
      // corpus — which is what the oracle computes
      (spark, dir) =>
        operators.InvertedIndex.phraseTopK(spark, ServingIndexes.lexicalDir(spark, dir),
            phrases = Seq("fast key scan", "table table", "value fast"), k = 5,
            where = Some(col("source").isin("src0", "src1", "src2", "src3", "src4")))
          .orderBy("phrase", "rank"),
      Some("""
        WITH d AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
          WHERE source IN ('src0', 'src1', 'src2', 'src3', 'src4')
        ), p AS (
          SELECT * FROM (VALUES ('fast key scan', ['fast','key','scan']),
                                ('table table', ['table','table']),
                                ('value fast', ['value','fast'])) AS t(phrase, pts)
        ), m AS (
          SELECT p.phrase, d.doc_id,
                 len(list_filter(range(1, len(toks) - len(pts) + 2),
                     i -> toks[i:i+len(pts)-1] = pts)) AS n
          FROM d CROSS JOIN p
        )
        SELECT phrase, CAST(rn AS INT) AS rank, doc_id, CAST(n AS BIGINT) AS n FROM (
          SELECT phrase, doc_id, n,
                 row_number() OVER (PARTITION BY phrase ORDER BY n DESC, doc_id) AS rn
          FROM m WHERE n > 0
        ) WHERE rn <= 5 ORDER BY phrase, rank
      """.trim),
      bench = true
    ),
    QueryDef(
      "search_spannear_filtered",
      // FILTERED k-term ordered span-near: the sidecar predicate gates
      // the conjunctive matches pre-rank (anchor counts are per-doc, so
      // this equals span-near over the filtered corpus — the oracle)
      (spark, dir) =>
        operators.InvertedIndex.spanNearTopK(spark, ServingIndexes.lexicalDir(spark, dir),
            queries = Seq(Seq("fast", "key", "scan"), Seq("key", "value")),
            slop = 2, inOrder = true, k = 5,
            where = Some(col("source").isin("src0", "src1", "src2", "src3", "src4")))
          .orderBy("q", "rank"),
      Some("""
        WITH d AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
          WHERE source IN ('src0', 'src1', 'src2', 'src3', 'src4')
        ), m AS (
          SELECT 'fast key scan' AS q, doc_id,
                 len(list_filter(list_filter(range(1,len(toks)+1), i -> toks[i] = 'fast'),
                   a -> len(list_filter(list_filter(range(1,len(toks)+1), j -> toks[j] = 'key'),
                     b -> b > a AND len(list_filter(list_filter(range(1,len(toks)+1), k2 -> toks[k2] = 'scan'),
                       c -> c > b AND c - a - 2 <= 2)) > 0)) > 0)) AS n
          FROM d
          UNION ALL
          SELECT 'key value' AS q, doc_id,
                 len(list_filter(list_filter(range(1,len(toks)+1), i -> toks[i] = 'key'),
                   a -> len(list_filter(list_filter(range(1,len(toks)+1), j -> toks[j] = 'value'),
                     b -> b > a AND b - a - 1 <= 2)) > 0)) AS n
          FROM d
        )
        SELECT q, CAST(rn AS INT) AS rank, doc_id, CAST(n AS BIGINT) AS n FROM (
          SELECT q, doc_id, n,
                 row_number() OVER (PARTITION BY q ORDER BY n DESC, doc_id) AS rn
          FROM m WHERE n > 0
        ) WHERE rn <= 5 ORDER BY q, rank
      """.trim),
      bench = true
    ),
    QueryDef(
      "search_spannear_indexed",
      // k-term ORDERED span-near (Lucene SpanNearQuery, inOrder=true)
      // from the positional postings: anchors = first-term positions
      // starting a strictly-increasing chain through all terms with
      // stretch pk - p1 - (k-1) <= slop, counted by the linear
      // monotone-pointer kernel (plans/PositionExpressions). Serves
      // from the shared prebuilt index (query terms' buckets only);
      // the oracle is the naive nested position scan — existence of a
      // chain equals greedy-chain validity, so both engines count the
      // same anchors
      (spark, dir) =>
        operators.InvertedIndex.spanNearTopK(spark, ServingIndexes.lexicalDir(spark, dir),
            queries = Seq(Seq("fast", "key", "scan"), Seq("key", "value")),
            slop = 2, inOrder = true, k = 5)
          .orderBy("q", "rank"),
      Some("""
        WITH d AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
        ), m AS (
          SELECT 'fast key scan' AS q, doc_id,
                 len(list_filter(list_filter(range(1,len(toks)+1), i -> toks[i] = 'fast'),
                   a -> len(list_filter(list_filter(range(1,len(toks)+1), j -> toks[j] = 'key'),
                     b -> b > a AND len(list_filter(list_filter(range(1,len(toks)+1), k2 -> toks[k2] = 'scan'),
                       c -> c > b AND c - a - 2 <= 2)) > 0)) > 0)) AS n
          FROM d
          UNION ALL
          SELECT 'key value' AS q, doc_id,
                 len(list_filter(list_filter(range(1,len(toks)+1), i -> toks[i] = 'key'),
                   a -> len(list_filter(list_filter(range(1,len(toks)+1), j -> toks[j] = 'value'),
                     b -> b > a AND b - a - 1 <= 2)) > 0)) AS n
          FROM d
        )
        SELECT q, CAST(rn AS INT) AS rank, doc_id, CAST(n AS BIGINT) AS n FROM (
          SELECT q, doc_id, n,
                 row_number() OVER (PARTITION BY q ORDER BY n DESC, doc_id) AS rn
          FROM m WHERE n > 0
        ) WHERE rn <= 5 ORDER BY q, rank
      """.trim),
      bench = true
    ),
    QueryDef(
      "search_spannear_unordered",
      // k-term UNORDERED span-near (inOrder=false): anchors = minimum
      // positions m of valid assignments — every (distinct) term has an
      // occurrence in [m, m + slop + (k-1)]. Distinct terms make
      // position sets disjoint, so assignment distinctness is free and
      // the count is one linear k-way sweep. The oracle enumerates
      // candidate anchors over the union of position lists
      (spark, dir) =>
        operators.InvertedIndex.spanNearTopK(spark, ServingIndexes.lexicalDir(spark, dir),
            queries = Seq(Seq("table", "query", "scan"), Seq("fast", "value")),
            slop = 3, inOrder = false, k = 5)
          .orderBy("q", "rank"),
      Some("""
        WITH d AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
        ), m AS (
          SELECT 'table query scan' AS q, doc_id,
                 len(list_filter(list_sort(
                       list_filter(range(1,len(toks)+1), i -> toks[i] = 'table')
                       || list_filter(range(1,len(toks)+1), i -> toks[i] = 'query')
                       || list_filter(range(1,len(toks)+1), i -> toks[i] = 'scan')), mm ->
                   len(list_filter(range(1,len(toks)+1), x -> toks[x] = 'table' AND x >= mm AND x <= mm + 5)) > 0 AND
                   len(list_filter(range(1,len(toks)+1), x -> toks[x] = 'query' AND x >= mm AND x <= mm + 5)) > 0 AND
                   len(list_filter(range(1,len(toks)+1), x -> toks[x] = 'scan'  AND x >= mm AND x <= mm + 5)) > 0)) AS n
          FROM d
          UNION ALL
          SELECT 'fast value' AS q, doc_id,
                 len(list_filter(list_sort(
                       list_filter(range(1,len(toks)+1), i -> toks[i] = 'fast')
                       || list_filter(range(1,len(toks)+1), i -> toks[i] = 'value')), mm ->
                   len(list_filter(range(1,len(toks)+1), x -> toks[x] = 'fast'  AND x >= mm AND x <= mm + 4)) > 0 AND
                   len(list_filter(range(1,len(toks)+1), x -> toks[x] = 'value' AND x >= mm AND x <= mm + 4)) > 0)) AS n
          FROM d
        )
        SELECT q, CAST(rn AS INT) AS rank, doc_id, CAST(n AS BIGINT) AS n FROM (
          SELECT q, doc_id, n,
                 row_number() OVER (PARTITION BY q ORDER BY n DESC, doc_id) AS rn
          FROM m WHERE n > 0
        ) WHERE rn <= 5 ORDER BY q, rank
      """.trim),
      bench = true
    ),
    QueryDef(
      "vocab_growth",
      // Heaps-law vocabulary growth per source: first occurrence =
      // min(doc_id) per (source, token) — one vocab-bounded agg, then a
      // per-source window over the doc-count-sized frame (never a
      // global single-partition sort). Flatlining curve ⇒ the source is
      // exhausted; that decides epoch mixing
      (spark, dir) =>
        Curation.vocabGrowth(Tables(spark, dir).documents, "source", "doc_id", "text")
          .orderBy("source", "doc_id"),
      Some("""
        WITH toks AS (
          SELECT source, doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
          FROM documents
        ), firsts AS (
          SELECT source, tok, min(doc_id) AS doc_id FROM toks WHERE len(tok) > 0 GROUP BY 1, 2
        ), per_doc AS (
          SELECT source, doc_id, CAST(count(*) AS BIGINT) AS n_new FROM firsts GROUP BY 1, 2
        )
        SELECT source, doc_id, n_new,
               CAST(sum(n_new) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS vocab_size
        FROM per_doc ORDER BY source, doc_id
      """.trim),
      bench = true
    ),
    QueryDef(
      "vocab_growth_incremental",
      // daily maintenance of the vocabulary index: the new ingest's
      // firsts fold into the stored index by a min-merge (min is
      // associative+commutative), corpus never rescanned — the oracle
      // is the FULL-corpus rebuild, the same identity contract the
      // other incremental artifacts carry
      (spark, dir) => {
        val docs  = Tables(spark, dir).documents
        val old   = Curation.vocabFirsts(
          docs.filter(col("doc_id") % 3 =!= 0), "source", "doc_id", "text")
        val delta = Curation.vocabFirsts(
          docs.filter(col("doc_id") % 3 === 0), "source", "doc_id", "text")
        Curation.vocabGrowthFromFirsts(
            Curation.vocabFirstsMerge(old, delta), "source", "doc_id")
          .orderBy("source", "doc_id")
      },
      Some("""
        WITH toks AS (
          SELECT source, doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
          FROM documents
        ), firsts AS (
          SELECT source, tok, min(doc_id) AS doc_id FROM toks WHERE len(tok) > 0 GROUP BY 1, 2
        ), per_doc AS (
          SELECT source, doc_id, CAST(count(*) AS BIGINT) AS n_new FROM firsts GROUP BY 1, 2
        )
        SELECT source, doc_id, n_new,
               CAST(sum(n_new) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS vocab_size
        FROM per_doc ORDER BY source, doc_id
      """.trim),
      bench = true
    ),
    QueryDef(
      "shuffle_deterministic",
      // training-order randomization as a hash sort: reproducible across
      // runs and engines (same md5), range-partitioned at scale — never a
      // driver-side permutation
      (spark, dir) =>
        Curation.deterministicShuffle(
            Tables(spark, dir).documents.select("doc_id"), Seq("doc_id"), salt = "epoch0")
          .limit(500),
      Some("""
        SELECT doc_id,
               md5(CAST(length(CAST(doc_id AS VARCHAR)) AS VARCHAR) || ':' ||
                   CAST(doc_id AS VARCHAR) || '|epoch0') AS shuffle_key
        FROM documents ORDER BY shuffle_key LIMIT 500
      """.trim),
      bench = true
    ),
    QueryDef(
      "mix_epochs",
      // repeat-aware data mixing (the UPSAMPLING half of the recipe:
      // "src0 × 2.5, src3 × 0.25"): floor(w) full copies + a
      // deterministic md5-coin partial epoch — projection + explode
      // over broadcast weights, no shuffle; the oracle replays the
      // identical coin
      (spark, dir) =>
        Curation.epochMix(
            Tables(spark, dir).documents.select("doc_id", "source"),
            "doc_id", "source",
            weights = Map("src0" -> 2.5, "src3" -> 0.25), defaultWeight = 1.0,
            salt = "mix6")
          .orderBy("doc_id", "epoch"),
      Some("""
        WITH w AS (
          SELECT doc_id, source,
                 CASE source WHEN 'src0' THEN 2 WHEN 'src3' THEN 0 ELSE 1 END AS n_full,
                 CASE source WHEN 'src0' THEN '8000' WHEN 'src3' THEN '4000' ELSE '0000' END AS thresh
          FROM documents
        ), e AS (
          SELECT doc_id, source,
                 n_full + CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || 'mix6'), 1, 4) < thresh
                               THEN 1 ELSE 0 END AS n
          FROM w
        )
        SELECT doc_id, source, CAST(unnest(range(0, n)) AS INT) AS epoch
        FROM e WHERE n > 0 ORDER BY doc_id, epoch
      """.trim),
      bench = true
    ),
    QueryDef(
      "sample_exact_k",
      // exact-count mixing manifest: the 5 smallest-coin docs per source,
      // salted two-phase top-k (bucket rank then re-rank) so no single
      // task ever sorts a whole hot source
      (spark, dir) =>
        Curation.exactKPerGroup(Tables(spark, dir).documents, "doc_id", "source", k = 5, salt = "r6")
          .orderBy("source", "rn"),
      Some("""
        SELECT source, doc_id, CAST(rn AS BIGINT) AS rn FROM (
          SELECT source, doc_id,
                 row_number() OVER (PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR) || '|r6'), doc_id) AS rn
          FROM documents) t
        WHERE rn <= 5 ORDER BY source, rn
      """.trim),
      bench = true
    ),
    QueryDef(
      "source_overlap",
      // cross-source contamination matrix: distinct shared 5-grams per
      // source pair; per-gram join fanout bounded by #sources^2
      (spark, dir) =>
        Curation.sourceNgramOverlap(spread(Tables(spark, dir).documents, "doc_id"), "source", "text", n = 5)
          .orderBy("source_a", "source_b"),
      Some("""
        WITH sg AS (
          SELECT DISTINCT source, array_to_string(ws[i:i+4], ' ') AS gram
          FROM (SELECT source, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents) b,
               unnest(range(1, greatest(len(ws) - 4, 0) + 1)) AS t(i)
        )
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(count(*) AS BIGINT) AS n_shared_grams
        FROM sg a JOIN sg b ON a.gram = b.gram AND a.source < b.source
        GROUP BY 1, 2 ORDER BY 1, 2
      """.trim),
      bench = true
    ),
    QueryDef(
      "pack_histogram",
      // padding-minimal packing summary: per-pack doc/token counts and
      // padding waste. Engine-specific strategy assignment → rows-only
      // (the FFD bound and exactness are ScalaTest-pinned)
      (spark, dir) =>
        Curation.packHistogram(spread(Tables(spark, dir).documents, "doc_id"), "doc_id", "text",
            tokenBudget = 200L)
          .groupBy("pack_id", "oversize")
          .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
          .orderBy("pack_id"),
      None,
      bench = true
    ),
    QueryDef(
      "dsir_weights",
      // DSIR-style target-likeness weights (arXiv:2302.03169): hashed
      // bigram buckets via the engine-portable md5-prefix hash; target
      // model = docs with doc_id % 10 = 0, pool = all documents. Score
      // is the count-weighted mean of add-one-smoothed target/pool odds
      // in long fixed-point (libm-free; see Curation.dsirWeights).
      (spark, dir) => {
        val docs = spread(Tables(spark, dir).documents, "doc_id")
        Curation.dsirWeights(docs, docs.filter(pmod(col("doc_id"), lit(10)) === 0),
            "doc_id", "text")
          .orderBy("doc_id")
      },
      Some(dsirSql("") + "\nORDER BY doc_id"),
      bench = true
    ),
    QueryDef(
      "dsir_select",
      // the selection step: top-100 pool docs by importance weight,
      // doc-id tiebreak — a TakeOrderedAndProject, never a global sort
      (spark, dir) => {
        val docs = spread(Tables(spark, dir).documents, "doc_id")
        Curation.dsirSelect(docs, docs.filter(pmod(col("doc_id"), lit(10)) === 0),
            "doc_id", "text", k = 100)
      },
      Some(dsirSql("") + "\nORDER BY dsir_score DESC, doc_id LIMIT 100"),
      bench = true
    ),
    QueryDef(
      "dsir_incremental",
      // delta-vs-history DSIR via PERSISTED bucket models: history text
      // is never re-read — the delta is scored against (stored pool
      // model + its own counts), row-identical to the batch operator
      // over the full pool restricted to delta ids (the oracle)
      (spark, dir) => {
        val docs    = spread(Tables(spark, dir).documents, "doc_id")
        val history = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
        val delta   = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
        val target  = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
        Curation.dsirWeightsIncremental(
            Curation.dsirModel(history, "text"), Curation.dsirModel(target, "text"),
            delta, "doc_id", "text")
          .orderBy("doc_id")
      },
      Some(dsirSql("WHERE d.doc_id % 2 = 1") + "\nORDER BY doc_id"),
      bench = true
    )
  )

  /** Shared DuckDB side of the DSIR family — identical integer
    * fixed-point term math and a single final double division, so the
    * score hashes bit-for-bit (see Curation.dsirWeights for the
    * arithmetic contract). `where` restricts the SCORED docs (the
    * incremental variant's oracle IS the batch SQL restricted to delta
    * ids); the models always span the full pool/target.
    */
  private def dsirSql(where: String): String = s"""
    WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
    g AS (
      SELECT doc_id, substr(md5(array_to_string(t[i:i+1], ' ')), 1, 3) AS b
      FROM toks, unnest(range(1, greatest(len(t) - 1, 0) + 1)) AS u(i)
    ),
    tmodel AS (SELECT b, count(*) AS tc FROM g WHERE doc_id % 10 = 0 GROUP BY b),
    rmodel AS (SELECT b, count(*) AS rc FROM g GROUP BY b),
    docf AS (SELECT doc_id, b, count(*) AS c FROM g GROUP BY doc_id, b)
    SELECT d.doc_id,
           CAST(sum(d.c) AS BIGINT) AS n_feats,
           CAST(sum((d.c * (COALESCE(t.tc, 0) + 1) * CAST(1000000000 AS BIGINT))
                    // (COALESCE(r.rc, 0) + 1)) AS DOUBLE)
             / CAST(sum(d.c) * CAST(1000000000 AS BIGINT) AS DOUBLE) AS dsir_score
    FROM docf d LEFT JOIN tmodel t USING (b) LEFT JOIN rmodel r USING (b)
    $where
    GROUP BY d.doc_id
  """.trim
}
