package graft.queries

import org.apache.spark.sql.functions._
import graft.ext.TextAnalysis._

/** Text-analysis + exact-dedup operators over the `documents` table
  * (training-data pipeline surface; see graft.ext.TextAnalysis).
  * Every oracle mirrors the Spark expression tree op-for-op so double
  * arithmetic is bit-identical before ROUND().
  *
  * Two registry-wide determinism conventions under the driver's hash
  * gate (grep anchors: "q145 convention", "signed-rounded-output"):
  *  1. FIXED-POINT: any libm result (ln/exp) that gets SUMMED is
  *     floored to 1e-9/1e-12/1e-15 integer units per term first, so
  *     the aggregation is exact long arithmetic in both engines —
  *     immune to libm ulp and summation-order drift.
  *  2. SIGNED ZERO: every SIGNED rounded output column appends `+ 0.0`
  *     after the round in BOTH engines (Spark's BigDecimal round
  *     yields +0.0 where DuckDB's ROUND yields -0.0 on tiny
  *     negatives — float-equal, hash-different). Helper for cosine
  *     columns: [[graft.ext.Similarity.simR]]. Non-negative outputs
  *     (counts, ratios in [0,1], surprisals, Jaccard) skip it — a
  *     non-negative double can only round to +0.0.
  */
object TextQueries {

  /** TextAnalysis.qualityScore as a self-contained SQL scalar over
    * `text` — the same arithmetic q61's oracle builds via CTEs, for
    * oracles that need the score inline (q116). All divisions divide
    * exactly (replace removes whole substrings), so the BIGINT casts
    * are value-preserving in both engines.
    */
  private[queries] val QualityScoreSql: String = """
    (LEAST(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 200.0) / 200.0
     * (1.0 - LEAST(
         (CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
          / GREATEST(CAST(length(text) AS DOUBLE), 1.0)) * 5.0, 1.0))
     * (0.5 + 0.5 * LEAST(
         CAST(CAST((length(replace(' ' || regexp_replace(lower(text), '\s', ' ', 'g') || ' ', ' ', '  ')) - length(replace(replace(' ' || regexp_replace(lower(text), '\s', ' ', 'g') || ' ', ' ', '  '), ' the ', ''))) / 5 AS BIGINT)
            + CAST((length(replace(' ' || regexp_replace(lower(text), '\s', ' ', 'g') || ' ', ' ', '  ')) - length(replace(replace(' ' || regexp_replace(lower(text), '\s', ' ', 'g') || ' ', ' ', '  '), ' and ', ''))) / 5 AS BIGINT)
            + CAST((length(replace(' ' || regexp_replace(lower(text), '\s', ' ', 'g') || ' ', ' ', '  ')) - length(replace(replace(' ' || regexp_replace(lower(text), '\s', ' ', 'g') || ' ', ' ', '  '), ' a ', ''))) / 3 AS BIGINT)
           AS DOUBLE)
         / GREATEST(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 1.0)
         * 10.0, 1.0)))"""

  val all: Seq[QueryDef] = Seq(

    QueryDef(
      "q60_dedup_exact",
      (s, dir) =>
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), md5(col("text")).as("text_hash"))
          .groupBy(col("text_hash"))
          .agg(
            min(col("doc_id")).as("keep_doc_id"),
            count(lit(1)).as("n_copies"))
          .orderBy(col("text_hash")),
      Some("""
        SELECT md5(text) AS text_hash,
               MIN(doc_id) AS keep_doc_id,
               COUNT(*) AS n_copies
        FROM documents
        GROUP BY md5(text)
        ORDER BY text_hash"""),
      headline = true),

    QueryDef(
      "q61_doc_stats",
      (s, dir) =>
        Tables.load(s, dir, "documents")
          .select(
            col("doc_id"),
            tokenCount(col("text")).as("n_tokens"),
            punctCount(col("text")).as("n_punct"),
            fingerprint(col("text")).as("fp"),
            qualityScore(col("text")).as("quality"))
          .orderBy(col("doc_id")),
      Some("""
        WITH f AS (
          SELECT doc_id, text, replace(' ' || regexp_replace(lower(text), '\s', ' ', 'g') || ' ', ' ', '  ') AS p,
            CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
            CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
            md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
          FROM documents),
        r AS (
          SELECT doc_id, n_tokens, n_punct, fp,
            CAST(n_tokens AS DOUBLE) AS ntok,
            CAST(length(text) AS DOUBLE) AS nchars,
            CAST(n_punct AS DOUBLE) / GREATEST(CAST(length(text) AS DOUBLE), 1.0) AS punct_ratio,
            CAST( CAST((length(p) - length(replace(p, ' the ', ''))) / 5 AS BIGINT)
                + CAST((length(p) - length(replace(p, ' and ', ''))) / 5 AS BIGINT)
                + CAST((length(p) - length(replace(p, ' a ', ''))) / 3 AS BIGINT)
              AS DOUBLE) AS stop_hits
          FROM f)
        SELECT doc_id, n_tokens, n_punct, fp,
          ROUND(LEAST(ntok, 200.0) / 200.0
            * (1.0 - LEAST(punct_ratio * 5.0, 1.0))
            * (0.5 + 0.5 * LEAST(stop_hits / GREATEST(ntok, 1.0) * 10.0, 1.0)), 4)
            AS quality
        FROM r
        ORDER BY doc_id""")),

    QueryDef(
      "q62_lang_id",
      (s, dir) =>
        Tables.load(s, dir, "documents")
          .select(
            col("doc_id"), col("lang"),
            langId(col("text")).as("pred_lang"))
          .withColumn("correct", col("pred_lang") === col("lang"))
          .orderBy(col("doc_id")),
      Some("""
        WITH f AS (
          SELECT doc_id, lang, replace(' ' || regexp_replace(lower(text), '\s', ' ', 'g') || ' ', ' ', '  ') AS p, text
          FROM documents),
        c AS (
          SELECT doc_id, lang,
            CAST((length(p) - length(replace(p, ' the ', ''))) / 5 AS BIGINT)
              + CAST((length(p) - length(replace(p, ' and ', ''))) / 5 AS BIGINT) AS en,
            CAST((length(p) - length(replace(p, ' le ', ''))) / 4 AS BIGINT)
              + CAST((length(p) - length(replace(p, ' la ', ''))) / 4 AS BIGINT)
              + CAST((length(p) - length(replace(p, ' et ', ''))) / 4 AS BIGINT) AS fr,
            CAST((length(p) - length(replace(p, ' el ', ''))) / 4 AS BIGINT)
              + CAST((length(p) - length(replace(p, ' los ', ''))) / 5 AS BIGINT)
              + CAST((length(p) - length(replace(p, ' y ', ''))) / 3 AS BIGINT) AS es,
            CAST((length(p) - length(replace(p, ' der ', ''))) / 5 AS BIGINT)
              + CAST((length(p) - length(replace(p, ' und ', ''))) / 5 AS BIGINT)
              + CAST((length(p) - length(replace(p, ' die ', ''))) / 5 AS BIGINT) AS de,
            length(regexp_replace(text, '[\x{4e00}-\x{9fff}]', '', 'g')) < length(text) AS has_cjk
          FROM f)
        SELECT doc_id, lang,
          CASE WHEN has_cjk THEN 'zh'
               WHEN fr > en AND fr >= es AND fr >= de THEN 'fr'
               WHEN es > en AND es >= de THEN 'es'
               WHEN de > en THEN 'de'
               ELSE 'en' END AS pred_lang,
          (CASE WHEN has_cjk THEN 'zh'
               WHEN fr > en AND fr >= es AND fr >= de THEN 'fr'
               WHEN es > en AND es >= de THEN 'es'
               WHEN de > en THEN 'de'
               ELSE 'en' END) = lang AS correct
        FROM c
        ORDER BY doc_id""")),

    QueryDef(
      "q67_bpe_tokens",
      (s, dir) =>
        Tables.load(s, dir, "documents")
          .select(
            col("doc_id"),
            tokenCount(col("text")).as("ws_tokens"),
            bpeTokenCount(col("text")).as("bpe_tokens"))
          .orderBy(col("doc_id")),
      Some(s"""
        SELECT doc_id,
               CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS ws_tokens,
               CAST(len(regexp_extract_all(text,
                 '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s'']+'))
                 AS BIGINT) AS bpe_tokens
        FROM documents
        ORDER BY doc_id""")),

    QueryDef(
      "q69_winnow_fingerprints",
      (s, dir) =>
        Tables.load(s, dir, "documents")
          // gram hashes use md5Hash60 and the set digest plain md5 so
          // the ENTIRE winnowing computation replays in the DuckDB
          // oracle (xxhash64 has no DuckDB twin)
          .withColumn("toks", graft.ext.Dedup.tokens(col("text")))
          .withColumn("grams", ngramSeq(col("toks")))
          .withColumn("hashes",
            transform(col("grams"), g => graft.ext.Dedup.md5Hash60(g)))
          .select(col("doc_id"),
            winnowFromHashes(col("hashes")).as("fp"))
          .select(col("doc_id"),
            size(col("fp")).cast("bigint").as("n_fingerprints"),
            // deterministic digest of the sorted fingerprint set
            md5(concat_ws(",", transform(array_sort(col("fp")),
              _.cast("string")))).as("fp_digest"))
          .orderBy(col("doc_id")),
      Some("""
        WITH toks AS (
          SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
          FROM documents),
        grams AS (
          SELECT doc_id,
            CASE WHEN len(t) >= 3
                 THEN list_transform(range(1, len(t)-1),
                        i -> t[i]||' '||t[i+1]||' '||t[i+2])
                 ELSE [] END AS g
          FROM toks),
        hs AS (
          SELECT doc_id,
            list_transform(g, x -> CAST(('0x'||substr(md5(x),1,15)) AS BIGINT)) AS h
          FROM grams),
        fp AS (
          SELECT doc_id,
            CASE WHEN len(h) >= 4
                 THEN list_distinct(list_transform(range(1, len(h)-2),
                        i -> list_min(h[i:i+3])))
                 WHEN len(h) > 0 THEN [list_min(h)]
                 ELSE [] END AS f
          FROM hs)
        SELECT doc_id,
               CAST(len(f) AS BIGINT) AS n_fingerprints,
               md5(array_to_string(list_sort(f), ',')) AS fp_digest
        FROM fp
        ORDER BY doc_id""")),

    QueryDef(
      "q68_quality_filter",
      (s, dir) =>
        Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            qualityFilter(col("text"), minTokens = 20, maxTokens = 150,
              maxPunctRatio = 0.05).as("verdict"))
          .groupBy(col("verdict"))
          .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
          .orderBy(col("verdict")),
      Some("""
        WITH f AS (
          SELECT doc_id, text,
            CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok,
            CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
              AS DOUBLE) / GREATEST(CAST(length(text) AS DOUBLE), 1.0) AS pr
          FROM documents),
        v AS (
          SELECT doc_id,
            CASE WHEN text IS NULL THEN 'null_text'
                 WHEN n_tok < 20 THEN 'too_short'
                 WHEN n_tok > 150 THEN 'too_long'
                 WHEN pr > 0.05 THEN 'punct_soup'
                 ELSE 'keep' END AS verdict
          FROM f)
        SELECT verdict, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
        FROM v
        GROUP BY verdict
        ORDER BY verdict""")),

    QueryDef(
      "q78_pii_redaction",
      (s, dir) => {
        // deterministic PII is injected per doc (the synthetic corpus
        // carries none), then scrubbed — the redaction op is the
        // deliverable; counts + content digest hash-check it
        val withPii = Tables.load(s, dir, "documents")
          .withColumn("txt", concat(col("text"),
            lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com or "),
            lit("https://ex.org/d/"), col("doc_id").cast("string"),
            lit(" ref 9990000"), col("doc_id").cast("string")))
        withPii.select(
          col("doc_id"),
          regexp_count(col("txt"),
            lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"))
            .cast("bigint").as("n_emails"),
          regexp_count(col("txt"), lit("https?://[^\\s]+"))
            .cast("bigint").as("n_urls"),
          md5(redactPii(col("txt"))).as("redacted_md5"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH w AS (
          SELECT doc_id,
            text || ' contact user' || doc_id || '@example.com or '
                 || 'https://ex.org/d/' || doc_id || ' ref 9990000' || doc_id AS txt
          FROM documents)
        SELECT doc_id,
          CAST(len(regexp_extract_all(txt,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
          CAST(len(regexp_extract_all(txt, 'https?://[^\s]+')) AS BIGINT) AS n_urls,
          md5(regexp_replace(regexp_replace(regexp_replace(txt,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
            'https?://[^\s]+', '<URL>', 'g'),
            '[0-9]{9,}', '<NUM>', 'g')) AS redacted_md5
        FROM w
        ORDER BY doc_id""")),

    QueryDef(
      "q79_repetition",
      (s, dir) =>
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            repetitionRatio(graft.ext.Dedup.tokens(col("text"))).as("rep_ratio"))
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            round(avg(col("rep_ratio")), 6).as("avg_rep"),
            round(max(col("rep_ratio")), 6).as("max_rep"),
            sum(when(col("rep_ratio") > 0.2, 1).otherwise(0)).as("n_repetitive"))
          .orderBy(col("lang")),
      Some("""
        WITH toks AS (
          SELECT doc_id, lang,
                 regexp_split_to_array(trim(lower(text)), '\s+') AS t
          FROM documents),
        g AS (
          SELECT doc_id, lang,
            CASE WHEN len(t) >= 5
                 THEN list_transform(range(1, len(t)-3),
                        i -> t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4])
                 ELSE [] END AS grams
          FROM toks),
        r AS (
          SELECT doc_id, lang,
            CASE WHEN len(grams) > 0
                 THEN ROUND(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
                        / CAST(len(grams) AS DOUBLE), 6)
                 ELSE 0.0 END AS rep_ratio
          FROM g)
        SELECT lang,
               COUNT(*) AS n_docs,
               ROUND(AVG(rep_ratio), 6) AS avg_rep,
               ROUND(MAX(rep_ratio), 6) AS max_rep,
               CAST(SUM(CASE WHEN rep_ratio > 0.2 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_repetitive
        FROM r
        GROUP BY lang
        ORDER BY lang""")),

    QueryDef(
      "q84_token_packing",
      (s, dir) => {
        // LLM sequence packing: 8 hash shards, 1000-token greedy bins;
        // the summary exposes bin fill levels (every bin except a
        // shard's last should sit at/just past budget — the packing
        // efficiency a training loader sees)
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), tokenCount(col("text")).as("n_tokens"))
          .withColumn("shard", pmod(col("doc_id"), lit(8L)))
        graft.ext.Packing
          .packByTokenBudget(docs, col("shard"), col("doc_id"),
            col("n_tokens"), budget = 1000L)
          .groupBy(col("shard"), col("bin_id"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("bin_tokens"),
            min(col("doc_id")).as("first_doc"),
            max(col("doc_id")).as("last_doc"))
          .orderBy(col("shard"), col("bin_id"))
      },
      Some("""
        WITH d AS (
          SELECT doc_id,
                 CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
                 doc_id % 8 AS shard
          FROM documents),
        r AS (
          SELECT doc_id, n_tokens, shard,
                 CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS run_before
          FROM d),
        b AS (
          SELECT shard, doc_id, n_tokens,
                 CAST(floor(run_before / 1000.0) AS BIGINT) AS bin_id
          FROM r)
        SELECT shard, bin_id,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
               MIN(doc_id) AS first_doc,
               MAX(doc_id) AS last_doc
        FROM b
        GROUP BY shard, bin_id
        ORDER BY shard, bin_id""")),

    QueryDef(
      "q85_vocab_topk",
      (s, dir) =>
        // vocabulary head of the corpus: token frequencies + document
        // frequencies, global top-25 (deterministic tie-break on the
        // token). Explode → one hash-agg shuffle on the token — the
        // map-side-combinable shape for corpus-wide vocab stats.
        Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            explode(graft.ext.Dedup.tokens(col("text"))).as("tok"))
          .groupBy(col("tok"))
          .agg(count(lit(1)).as("tf"),
            count_distinct(col("doc_id")).as("df"))
          .orderBy(col("tf").desc, col("tok"))
          .limit(25),
      Some("""
        WITH t AS (
          SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
          FROM documents)
        SELECT tok, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
        FROM t
        GROUP BY tok
        ORDER BY tf DESC, tok
        LIMIT 25""")),

    QueryDef(
      "q63_lang_quality_agg",
      (s, dir) =>
        Tables.load(s, dir, "documents")
          .select(col("lang"),
            tokenCount(col("text")).as("n_tokens"),
            col("n_chars"))
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            round(avg(col("n_tokens")), 4).as("avg_tokens"),
            round(avg(col("n_chars")), 4).as("avg_chars"),
            max(col("n_chars")).as("max_chars"))
          .orderBy(col("lang")),
      Some("""
        SELECT lang,
               COUNT(*) AS n_docs,
               ROUND(AVG(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)), 4)
                 AS avg_tokens,
               ROUND(AVG(n_chars), 4) AS avg_chars,
               MAX(n_chars) AS max_chars
        FROM documents
        GROUP BY lang
        ORDER BY lang""")),

    QueryDef(
      "q94_tfidf_topk",
      (s, dir) => {
        // TF-IDF term ranking: top-3 distinguishing terms per document
        // (smoothed idf = ln((N+1)/(df+1)) + 1). Shape at scale: one
        // map-side-combinable hash aggregate (tf on (doc,tok)), the
        // document frequency as a tok-partitioned window COUNT over
        // that same stream (r22, guide §2 — the df-aggregate-joined-
        // back formulation planned the tf subtree twice: two corpus
        // scans + explodes, plus a second token-keyed repartition for
        // the join; the window computes the identical df, a count of
        // the same tf rows per token, in its one tok exchange and
        // never materializes a vocab-scale join side; skew note: a
        // window can't split a hot key like AQE join-skew can, but the
        // group is ≤ n_docs per-doc-DISTINCT ~24 B rows in a spillable
        // buffer — see unigramSurprisal for the revert shape if that
        // ever straggles), a 1-row N crossJoin (scalar broadcast, same
        // pattern as the robust-z stats), and a per-doc window for the
        // top-k — no driver loops, no UDFs. Ordering ties on the
        // ROUNDED score break on the token, so the oracle replays the
        // ranking deterministically.
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.load(s, dir, "documents")
        val tf = docs
          .select(col("doc_id"),
            explode(graft.ext.Dedup.tokens(col("text"))).as("tok"))
          .groupBy(col("doc_id"), col("tok"))
          .agg(count(lit(1)).as("tf"))
        val n = docs.agg(count(lit(1)).as("n_docs"))
        val scored = tf
          .withColumn("df",
            count(lit(1)).over(Window.partitionBy(col("tok"))))
          .crossJoin(broadcast(n))
          .withColumn("tfidf",
            round(col("tf")
              * (log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0)))
                + lit(1.0)), 6))
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("tfidf").desc, col("tok"))
        scored
          .withColumn("rnk", row_number().over(w).cast("bigint"))
          .filter(col("rnk") <= 3)
          .select(col("doc_id"), col("rnk"), col("tok"), col("tfidf"))
          // live sort: live-vs-staged A/B put the staged variant at
          // 1.23x (1x) — the window's exchange absorbs the resample
          .orderBy(col("doc_id"), col("rnk"))
      },
      Some("""
        WITH t AS (
          SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
          FROM documents),
        tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM t GROUP BY 1, 2),
        df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        scored AS (
          SELECT tf.doc_id, tf.tok,
                 ROUND(tf.tf * (LN((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6)
                   AS tfidf
          FROM tf JOIN df USING (tok) CROSS JOIN n),
        r AS (
          SELECT doc_id, tok, tfidf,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                   ORDER BY tfidf DESC, tok) AS rnk
          FROM scored)
        SELECT doc_id, rnk, tok, tfidf
        FROM r
        WHERE rnk <= 3
        ORDER BY doc_id, rnk"""),
      headline = true),

    QueryDef(
      "q95_doc_chunking",
      (s, dir) =>
        graft.ext.Chunking.tokenChunks(
          Tables.load(s, dir, "documents"), "doc_id", "text",
          window = 128, stride = 96)
          .orderBy(col("doc_id"), col("chunk_id")),
      Some("""
        WITH t AS (
          SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
          FROM documents),
        n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens FROM t),
        c AS (
          SELECT doc_id, toks,
            CASE WHEN n_tokens <= 128 THEN 1
                 ELSE (n_tokens - 128 + 95) // 96 + 1 END AS n_chunks
          FROM n),
        x AS (
          SELECT doc_id, toks, CAST(unnest(range(n_chunks)) AS BIGINT) AS chunk_id
          FROM c),
        sl AS (
          SELECT doc_id, chunk_id, chunk_id * 96 AS start_tok,
            list_slice(toks, chunk_id * 96 + 1, chunk_id * 96 + 128) AS chunk
          FROM x)
        SELECT doc_id, chunk_id, start_tok,
               CAST(len(chunk) AS BIGINT) AS n_chunk_tokens,
               md5(array_to_string(chunk, ' ')) AS chunk_md5
        FROM sl
        ORDER BY doc_id, chunk_id""")),

    QueryDef(
      "q145_dsir_weights",
      (s, dir) =>
        // DSIR importance resampling weights with English as the
        // target domain: every doc scored by how much more likely its
        // tokens are under the en-docs unigram LM than under the
        // full-corpus LM (add-one smoothing, shared vocab). Non-en
        // docs land negative, en docs positive — the standard
        // domain-steering signal — and the keep flag is the
        // resampling decision on the rounded weight.
        graft.ext.LanguageModel.importanceWeights(
          Tables.load(s, dir, "documents"), "doc_id", "text",
          col("lang") === "en")
          .orderBy(col("doc_id")),
      Some("""
        WITH t AS (
          SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
          FROM documents),
        dtf AS (SELECT doc_id, tok, COUNT(*) AS dtf FROM t GROUP BY 1, 2),
        vs AS (SELECT tok, CAST(SUM(dtf) AS BIGINT) AS tf_s FROM dtf GROUP BY 1),
        tids AS (SELECT doc_id FROM documents WHERE lang = 'en'),
        vt AS (SELECT tok, CAST(SUM(dtf) AS BIGINT) AS tf_t
               FROM dtf JOIN tids USING (doc_id) GROUP BY 1),
        v AS (SELECT vs.tok, tf_s, COALESCE(tf_t, 0) AS tf_t
              FROM vs LEFT JOIN vt USING (tok)),
        tot AS (SELECT CAST(SUM(tf_s) AS BIGINT) AS n_s,
                       CAST(SUM(tf_t) AS BIGINT) AS n_t,
                       COUNT(*) AS vv
                FROM v),
        scored AS (
          SELECT dtf.doc_id,
                 CAST(SUM(dtf.dtf) AS BIGINT) AS n_tokens,
                 ROUND((CAST(SUM(dtf.dtf * CAST(FLOOR((
                     LN(CAST(v.tf_t + 1 AS DOUBLE) / (tot.n_t + tot.vv))
                   - LN(CAST(v.tf_s + 1 AS DOUBLE) / (tot.n_s + tot.vv))
                   ) * 1e9) AS BIGINT)) AS DOUBLE) / 1e9)
                   / CAST(SUM(dtf.dtf) AS DOUBLE), 4) + 0.0 AS log_weight
          FROM dtf JOIN v USING (tok) CROSS JOIN tot
          GROUP BY dtf.doc_id)
        SELECT doc_id, n_tokens, log_weight,
               CASE WHEN log_weight > 0 THEN 1 ELSE 0 END AS keep_target
        FROM scored
        ORDER BY doc_id""")),

    QueryDef(
      "q148_cms_freq",
      (s, dir) => {
        // Count-Min point-frequency estimates vs exact counts for the
        // corpus's 30 most frequent tokens. The CMS is LINEAR (cell-
        // wise sums), so its 4×256 cell array is partitioning-
        // invariant and the ESTIMATES themselves hash-check against a
        // full DuckDB replay — the whole token stream reduces to 1024
        // longs instead of a vocabulary-scale shuffle, and lookups
        // cost one broadcast row. The overcount column is the
        // sketch's audited error (never negative by construction).
        val docs = Tables.load(s, dir, "documents")
        val dtf = graft.ext.LanguageModel.docTermFreq(docs, "doc_id", "text")
        val sketch = dtf.agg(
          graft.functions.CountMin.cmsSketch(4, 256)(
            col("tok"), col("dtf")).as("cells"))
        val exact = dtf.groupBy(col("tok"))
          .agg(sum(col("dtf")).as("exact_cnt"))
          .orderBy(col("exact_cnt").desc, col("tok")).limit(30)
        exact.crossJoin(broadcast(sketch))
          .withColumn("cms_est", least((0 until 4).map { i =>
            element_at(col("cells"),
              (lit(i * 256) + pmod(graft.ext.Dedup.md5Hash60(
                concat(lit(s"cms$i:"), col("tok"))), lit(256L)))
                .cast("int") + 1)
          }: _*))
          .withColumn("overcount", col("cms_est") - col("exact_cnt"))
          .select(col("tok"), col("exact_cnt"), col("cms_est"),
            col("overcount"))
          .orderBy(col("exact_cnt").desc, col("tok"))
      },
      Some("""
        WITH t AS (
          SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
          FROM documents),
        dtf AS (SELECT doc_id, tok, COUNT(*) AS dtf FROM t GROUP BY 1, 2),
        cells AS (
          SELECT i,
            CAST(('0x' || substr(md5('cms' || CAST(i AS VARCHAR) || ':' || tok), 1, 15))
              AS BIGINT) % 256 AS b,
            CAST(SUM(dtf) AS BIGINT) AS c
          FROM dtf CROSS JOIN (SELECT unnest(range(4)) AS i) r
          GROUP BY 1, 2),
        exact AS (
          SELECT tok, CAST(SUM(dtf) AS BIGINT) AS exact_cnt
          FROM dtf GROUP BY 1
          ORDER BY exact_cnt DESC, tok LIMIT 30),
        est AS (
          SELECT e.tok, e.exact_cnt, MIN(c.c) AS cms_est
          FROM exact e JOIN cells c
            ON c.b = CAST(('0x' || substr(md5('cms' || CAST(c.i AS VARCHAR) || ':' || e.tok), 1, 15))
                       AS BIGINT) % 256
          GROUP BY 1, 2)
        SELECT tok, exact_cnt, cms_est, cms_est - exact_cnt AS overcount
        FROM est
        ORDER BY exact_cnt DESC, tok""")),

    QueryDef(
      "q149_ngram_novelty",
      (s, dir) => {
        // per-document n-gram NOVELTY: what fraction of a doc's
        // distinct 8-gram shingles first appear (by doc_id order) in
        // that document — the memorization/boilerplate mirror image of
        // q122's repeated-ngram mining (a doc full of already-seen
        // grams is template mass; a high-novelty doc contributes new
        // text). Shape: shingles form map-side, ONE shuffle into the
        // distinct (gram, doc) agg, min-doc attribution is a second
        // key-partitioned agg on the same key, then an equi-join back
        // and an output-scale per-doc agg. Novelty reported in basis
        // points via integer division — exact in both engines.
        val docs = Tables.load(s, dir, "documents")
        val grams = graft.ext.Dedup.explodedShingles(docs, "doc_id", "text", 8)
          .select(col("doc_id"), col("s").as("gram")).distinct()
        val first = grams.groupBy(col("gram"))
          .agg(min(col("doc_id")).as("first_doc"))
        grams.join(first, Seq("gram"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("first_doc") === col("doc_id"), 1L)
              .otherwise(0L)).as("n_novel"))
          .withColumn("novelty_bp",
            expr("CAST((n_novel * 10000L) DIV n_grams AS BIGINT)"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH t AS (
          SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
          FROM documents),
        g AS (
          SELECT DISTINCT doc_id,
                 array_to_string(list_slice(toks, i + 1, i + 8), ' ') AS gram
          FROM (SELECT doc_id, toks, CAST(unnest(range(len(toks) - 7)) AS BIGINT) AS i
                FROM t WHERE len(toks) >= 8)),
        f AS (SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY 1)
        SELECT g.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
               CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) * 10000
                 // COUNT(*) AS BIGINT) AS novelty_bp
        FROM g JOIN f USING (gram)
        GROUP BY g.doc_id
        ORDER BY g.doc_id""")),

    QueryDef(
      "q96_unigram_surprisal",
      (s, dir) =>
        // live sort: live-vs-staged A/B put the staged variant at 1.16x
        // (1x) / 1.09 (x10). PlanSpec pins the core via
        // LanguageModel.unigramSurprisal directly.
        graft.ext.LanguageModel.unigramSurprisal(
          Tables.load(s, dir, "documents"), "doc_id", "text")
          .orderBy(col("doc_id")),
      Some("""
        WITH t AS (
          SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
          FROM documents),
        dtf AS (SELECT doc_id, tok, COUNT(*) AS dtf FROM t GROUP BY 1, 2),
        v AS (SELECT tok, CAST(SUM(dtf) AS BIGINT) AS tf FROM dtf GROUP BY 1),
        n AS (SELECT CAST(SUM(tf) AS BIGINT) AS n_total FROM v)
        SELECT dtf.doc_id,
               CAST(SUM(dtf.dtf) AS BIGINT) AS n_tokens,
               ROUND((CAST(SUM(dtf.dtf * CAST(FLOOR(
                   -LN(CAST(v.tf AS DOUBLE) / n.n_total) * 1e9) AS BIGINT))
                 AS DOUBLE) / 1e9)
                 / CAST(SUM(dtf.dtf) AS DOUBLE), 4) AS mean_surprisal
        FROM dtf JOIN v USING (tok) CROSS JOIN n
        GROUP BY dtf.doc_id
        ORDER BY doc_id""")),

    QueryDef(
      "q116_quality_calibration",
      (s, dir) => {
        // cross-source quality calibration: raw quality scores aren't
        // comparable across domains (different length/punct norms), so
        // convert each doc's score to its PERCENTILE WITHIN ITS SOURCE
        // before applying a global keep-threshold — the rank-based
        // normalization step of domain-aware filtering. One shuffle on
        // the source key; percent_rank shares the window sort.
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.load(s, dir, "documents")
        // rank on the 4dp-ROUNDED score: raw doubles can differ in the
        // last ulp across engines, which would flip near-tie orderings
        // (q61 pins cross-engine equality exactly at 4dp)
        val w = Window.partitionBy(col("source"))
          .orderBy(col("quality_r"), col("doc_id"))
        docs
          .select(col("doc_id"), col("source"),
            round(graft.ext.TextAnalysis.qualityScore(col("text")), 4)
              .as("quality_r"))
          .withColumn("q_pctl", round(percent_rank().over(w), 6))
          .withColumn("keep_calibrated", (col("q_pctl") >= 0.2).cast("int"))
          .select(col("doc_id"), col("source"), col("quality_r"),
            col("q_pctl"), col("keep_calibrated"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH q AS (
          SELECT doc_id, source, ROUND($QualityScoreSql, 4) AS quality_r
          FROM documents),
        r AS (
          SELECT doc_id, source, quality_r,
            ROUND(percent_rank() OVER (PARTITION BY source
              ORDER BY quality_r, doc_id), 6) AS q_pctl
          FROM q)
        SELECT doc_id, source, quality_r, q_pctl,
               CASE WHEN q_pctl >= 0.2 THEN 1 ELSE 0 END AS keep_calibrated
        FROM r
        ORDER BY doc_id""")),

    QueryDef(
      "q112_oov_rate",
      (s, dir) => {
        // tokenizer-vocabulary coverage: per-doc out-of-vocabulary
        // fraction against the corpus' top-100 tokens (tf desc, token
        // asc tie-break). The number that decides whether a vocab /
        // tokenizer fits a corpus. Global top-k is a
        // TakeOrderedAndProject (no single-partition window); the
        // tiny vocab broadcasts back onto the doc-tf frame.
        val docs = Tables.load(s, dir, "documents")
        val docTf = graft.ext.LanguageModel.docTermFreq(docs, "doc_id", "text")
        val top = graft.ext.LanguageModel.vocabFreq(docTf)
          .orderBy(col("tf").desc, col("tok")).limit(100)
          .select(col("tok"), lit(1).as("in_vocab"))
        docTf.join(broadcast(top), Seq("tok"), "left")
          .groupBy(col("doc_id"))
          .agg(
            sum(col("dtf")).as("n_tokens"),
            sum(when(col("in_vocab").isNull, col("dtf")).otherwise(0L))
              .as("n_oov"),
            round(
              sum(when(col("in_vocab").isNull, col("dtf")).otherwise(0L))
                .cast("double") / sum(col("dtf")).cast("double"), 4)
              .as("oov_frac"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH t AS (
          SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
          FROM documents),
        dtf AS (SELECT doc_id, tok, COUNT(*) AS dtf FROM t GROUP BY 1, 2),
        v AS (SELECT tok, SUM(dtf) AS tf FROM dtf GROUP BY 1
              ORDER BY tf DESC, tok LIMIT 100)
        SELECT doc_id,
               CAST(SUM(dtf) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN v.tok IS NULL THEN dtf ELSE 0 END) AS BIGINT)
                 AS n_oov,
               ROUND(CAST(SUM(CASE WHEN v.tok IS NULL THEN dtf ELSE 0 END)
                   AS DOUBLE) / SUM(dtf), 4) AS oov_frac
        FROM dtf LEFT JOIN v USING (tok)
        GROUP BY doc_id
        ORDER BY doc_id""")),

    QueryDef(
      "q113_bigram_surprisal",
      (s, dir) =>
        graft.ext.LanguageModel.bigramSurprisal(
          Tables.load(s, dir, "documents"), "doc_id", "text")
          .orderBy(col("doc_id")),
      Some("""
        WITH t AS (
          SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
          FROM documents),
        x AS (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM t),
        db AS (SELECT doc_id, t[i] AS head, t[i+1] AS tail, COUNT(*) AS dbc
               FROM x GROUP BY 1, 2, 3),
        bg AS (SELECT head, tail, CAST(SUM(dbc) AS BIGINT) AS bc
               FROM db GROUP BY 1, 2),
        h AS (SELECT head, CAST(SUM(bc) AS BIGINT) AS hc FROM bg GROUP BY 1),
        u AS (SELECT tail AS w, CAST(SUM(bc) AS BIGINT) AS uc FROM bg GROUP BY 1),
        n AS (SELECT CAST(SUM(uc) AS BIGINT) AS n_total FROM u),
        p AS (
          SELECT db.doc_id, db.dbc,
            0.75 * (CAST(bg.bc AS DOUBLE) / h.hc)
              + 0.25 * (CAST(u.uc AS DOUBLE) / n.n_total) AS p
          FROM db JOIN bg USING (head, tail)
                  JOIN h USING (head)
                  JOIN u ON db.tail = u.w
                  CROSS JOIN n)
        SELECT doc_id,
               CAST(SUM(dbc) AS BIGINT) AS n_bigrams,
               ROUND((CAST(SUM(dbc * CAST(FLOOR(-LN(p) * 1e9) AS BIGINT))
                   AS DOUBLE) / 1e9)
                 / CAST(SUM(dbc) AS DOUBLE), 4) AS mean_bigram_surprisal
        FROM p
        GROUP BY doc_id
        ORDER BY doc_id""")),

    QueryDef(
      "q98_length_buckets",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        graft.ext.Packing.paddingStats(
            docs, graft.ext.TextAnalysis.tokenCount(col("text")))
          .orderBy(col("seq_len"))
      },
      Some("""
        WITH n AS (
          SELECT CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
                   AS n_tokens
          FROM documents),
        b AS (
          SELECT n_tokens,
            CASE WHEN n_tokens <= 32 THEN 32
                 WHEN n_tokens <= 64 THEN 64
                 WHEN n_tokens <= 128 THEN 128
                 WHEN n_tokens <= 256 THEN 256
                 WHEN n_tokens <= 512 THEN 512
                 WHEN n_tokens <= 1024 THEN 1024
                 ELSE 2048 END AS seq_len
          FROM n)
        SELECT CAST(seq_len AS BIGINT) AS seq_len,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
               ROUND(1.0 - CAST(SUM(LEAST(n_tokens, seq_len)) AS DOUBLE)
                 / (COUNT(*) * seq_len), 4) AS pad_frac
        FROM b
        GROUP BY seq_len
        ORDER BY seq_len""")),

    QueryDef(
      "q122_repeated_ngrams",
      (s, dir) => {
        // corpus-wide repeated n-gram mining (the Lee-et-al-style
        // boilerplate signal at n-gram granularity): every stride-1
        // 8-token window, counted across the corpus, kept when it
        // appears in ≥2 distinct docs — the template/header phrases an
        // exact-substring dedup pass would target.
        //
        // r21 shape (guide §2.3 "shuffle keys instead of payloads" /
        // §8): counting runs entirely over 64-bit gram DIGESTS
        // (graft_gram_hashes — one fused rolling-hash pass, no gram
        // string ever built corpus-wide), so the count-distinct's two
        // exchanges carry 8-byte longs instead of ~70-byte phrases.
        // The phrase strings the top-15 DISPLAYS are recovered
        // afterwards from ONE digest-pruned second pass: the winning
        // digest set (≤15 + ties) broadcasts against a re-scan that
        // slices the gram text in place (r22). Identical output —
        // the winner threshold is the EXACT 15th-largest n_total over
        // the staged digest counts (ties included, final ordering
        // re-applied on the recovered strings), digest grouping ≡
        // phrase grouping modulo 64-bit collisions (grouping-key-only
        // risk, see graft.functions.TextHash).
        graft.functions.GraftFunctions.register(s)
        val docs = Tables.load(s, dir, "documents")
        val toks = docs.select(col("doc_id"),
          graft.ext.Dedup.tokens(col("text")).as("toks"))
        // (A/B'd r21: pre-repartitioning by the digest alone so both
        // aggregates share one exchange measured ~1.5x SLOWER at x30
        // than the planner's one-distinct rewrite — the raw-row
        // shuffle loses the map-side partial collapse; keep the
        // planner's shape)
        val counts = graft.Staging.checkpoint(
          toks.select(col("doc_id"),
              explode(call_function("graft_gram_hashes",
                col("toks"), lit(8))).as("d"))
            .groupBy(col("d"))
            .agg(count(lit(1)).as("n_total"),
              count_distinct(col("doc_id")).as("n_docs"))
            .filter(col("n_docs") >= 2), "q122-counts")
        // the 15th-largest n_total (ties below it included via >=)
        val thr = counts.select(col("n_total").as("nt"))
          .orderBy(col("nt").desc).limit(15)
          .agg(min(col("nt")).as("thr"))
        val cand = counts.join(broadcast(thr), col("n_total") >= col("thr"))
          .select(col("d"), col("n_total"), col("n_docs"))
        // recover the winning digests' phrase text in the SAME pass
        // that finds their positions (r22; guide §2.4/§3): carry the
        // token array through the posexplode so the 8-token slice is
        // cut right where a digest matches the broadcast winner set —
        // generate → broadcast-probe → slice → partial min() all fuse
        // into one codegen stage, so non-matching positions never
        // materialize the array. min(ngram) aggregates the identical
        // multiset of occurrence strings the r21 two-join shape fed it
        // (bit-identical result, collisions included). The r21 shape
        // instead broadcast `hits` = every OCCURRENCE of a winning
        // digest and re-joined the corpus a third time — at 100 TB the
        // boilerplate digests this query exists to find occur millions
        // of times, so that broadcast grew with duplication (r21
        // VERDICT/ADVICE item); this shape has no occurrence-scale
        // broadcast and one fewer corpus scan.
        val names = toks.select(col("toks"),
            posexplode(call_function("graft_gram_hashes",
              col("toks"), lit(8))).as(Seq("pos", "d")))
          .join(broadcast(cand.select(col("d"))), Seq("d"))
          .select(col("d"),
            array_join(slice(col("toks"), col("pos") + 1, lit(8)), " ")
              .as("ngram"))
          .groupBy(col("d")).agg(min(col("ngram")).as("ngram"))
        cand.join(names, Seq("d"))
          .select(col("ngram"), col("n_total"), col("n_docs"))
          .orderBy(col("n_total").desc, col("ngram"))
          .limit(15)
      },
      Some("""
        WITH t AS (
          SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
          FROM documents),
        g AS (
          SELECT doc_id,
                 array_to_string(list_slice(toks, i + 1, i + 8), ' ') AS ngram
          FROM (SELECT doc_id, toks, CAST(unnest(range(len(toks) - 7)) AS BIGINT) AS i
                FROM t WHERE len(toks) >= 8))
        SELECT ngram, COUNT(*) AS n_total,
               COUNT(DISTINCT doc_id) AS n_docs
        FROM g
        GROUP BY ngram
        HAVING COUNT(DISTINCT doc_id) >= 2
        ORDER BY n_total DESC, ngram
        LIMIT 15"""),
      headline = true),

    QueryDef(
      "q123_collocations",
      (s, dir) => {
        // PMI-style collocation mining: adjacent word pairs ranked by
        // lift = p(ab) / (p(a)·p(b)) — the exp of pointwise mutual
        // information, so the ranking is identical to PMI without
        // putting a transcendental (engine-varying libm ln) under the
        // hash gate. The lift is floor-truncated after a fixed
        // left-associated double expression over exact integer counts,
        // so both engines compute bit-identical values (same guard as
        // q120). Shape: two corpus-scan hash aggs (unigrams, bigrams),
        // two key joins of the bigram table against the vocab, 1-row
        // total broadcasts, TakeOrdered top-k — no pairs, no cartesian
        // on data.
        val docs = Tables.load(s, dir, "documents")
        val toks = graft.ext.Dedup.tokens(col("text"))
        val uni = docs.select(explode(toks).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("uc"))
        val bg = docs
          .select(explode(graft.ext.Dedup.pairSeq(toks)).as("p"))
          .select(col("p.wa").as("word_a"), col("p.wb").as("word_b"))
          .groupBy(col("word_a"), col("word_b"))
          .agg(count(lit(1)).as("bc"))
        val n = uni.agg(sum(col("uc")).as("n_total"))
        val m = bg.agg(sum(col("bc")).as("m_total"))
        val ua = uni.select(col("w").as("word_a"), col("uc").as("ua"))
        val ub = uni.select(col("w").as("word_b"), col("uc").as("ub"))
        bg.filter(col("bc") >= 5)
          .join(ua, Seq("word_a"))
          .join(ub, Seq("word_b"))
          .crossJoin(broadcast(n)).crossJoin(broadcast(m))
          .select(col("word_a"), col("word_b"), col("bc").as("n_pair"),
            (floor(col("bc").cast("double") * col("n_total") * col("n_total")
              / (col("m_total").cast("double") * col("ua") * col("ub"))
              * lit(10000.0)) / lit(10000.0)).as("lift"))
          .orderBy(col("lift").desc, col("word_a"), col("word_b"))
          .limit(15)
      },
      Some("""
        WITH t AS (
          SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS t
          FROM documents),
        x AS (SELECT t, unnest(range(1, len(t))) AS i FROM t),
        bg AS (SELECT t[i] AS word_a, t[i+1] AS word_b, COUNT(*) AS bc
               FROM x GROUP BY 1, 2),
        tok AS (SELECT unnest(t) AS w FROM t),
        u AS (SELECT w, COUNT(*) AS uc FROM tok GROUP BY 1),
        n AS (SELECT CAST(SUM(uc) AS BIGINT) AS n_total FROM u),
        m AS (SELECT CAST(SUM(bc) AS BIGINT) AS m_total FROM bg)
        SELECT word_a, word_b, CAST(bc AS BIGINT) AS n_pair,
               FLOOR(CAST(bc AS DOUBLE) * n_total * n_total
                     / (CAST(m_total AS DOUBLE) * ua.uc * ub.uc)
                     * 10000) / 10000.0 AS lift
        FROM bg
        JOIN u ua ON bg.word_a = ua.w
        JOIN u ub ON bg.word_b = ub.w
        CROSS JOIN n CROSS JOIN m
        WHERE bc >= 5
        ORDER BY lift DESC, word_a, word_b
        LIMIT 15""")),

    QueryDef(
      "q124_heavy_hitters",
      (s, dir) => {
        // sketch-then-verify heavy hitters: a Misra–Gries pass
        // ([[graft.functions.HeavyHitters]], k=50 counters) shuffles
        // at most k counters per partition instead of the whole
        // vocabulary, its candidate set (GUARANTEED ⊇ every word with
        // count > N/51) broadcasts back, and only candidates are
        // exact-counted. The final filter cnt > N/50 sits strictly
        // above the sketch's N/51 miss bound, so the output equals the
        // plain GROUP BY ... HAVING — which IS the oracle: any sketch
        // bug that loses a true heavy hitter hash-fails the row.
        val docs = Tables.load(s, dir, "documents")
        val toks = docs
          .select(explode(graft.ext.Dedup.tokens(col("text"))).as("w"))
        // sketch and corpus total in ONE aggregate, and n_total rides
        // the exploded candidate rows (a constant column) — the 1-row
        // sketch is referenced once, so the whole query is two corpus
        // scans: one for the sketch+total, one to count candidates
        val cand = toks
          .agg(
            graft.functions.HeavyHitters.mgCandidates(50)(col("w")).as("c"),
            count(lit(1)).as("n_total"))
          .select(explode(col("c.words")).as("w"), col("n_total"))
        toks.join(broadcast(cand), Seq("w"))
          .groupBy(col("w"), col("n_total"))
          .agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") > col("n_total") / lit(50))
          .select(col("w").as("word"), col("cnt"))
          .orderBy(col("cnt").desc, col("word"))
      },
      Some("""
        WITH tok AS (
          SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS word
          FROM documents),
        n AS (SELECT COUNT(*) AS n_total FROM tok)
        SELECT word, COUNT(*) AS cnt
        FROM tok CROSS JOIN n
        GROUP BY word, n_total
        HAVING COUNT(*) > n_total / 50
        ORDER BY cnt DESC, word""")),

    QueryDef(
      "q152_bpe_pair_stats",
      (s, dir) => {
        // The first step of BPE tokenizer TRAINING: frequency-weighted
        // adjacent symbol-pair counts over the corpus vocabulary (the
        // merge table's round-1 candidates). Shape is the 100 TB-safe
        // one: the corpus collapses to its word-frequency table FIRST
        // (one map-side-combined shuffle on the token — corpus text
        // never rides a shuffle again), pairs then explode from the
        // VOCABULARY (orders of magnitude smaller than the corpus),
        // and a second hash-agg on the 2-char pair key feeds a
        // TakeOrdered top-25. Deterministic tie-break on the pair.
        val toks = Tables.load(s, dir, "documents")
          .select(explode(graft.ext.Dedup.tokens(col("text"))).as("tok"))
        val vocab = toks.groupBy(col("tok"))
          .agg(count(lit(1)).as("freq"))
        vocab.filter(length(col("tok")) >= 2)
          .select(col("tok"), col("freq"),
            explode(expr(
              "transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))"))
              .as("pair"))
          .groupBy(col("pair"))
          .agg(
            count_distinct(col("tok")).as("n_words"),
            sum(col("freq")).cast("bigint").as("total_count"))
          .orderBy(col("total_count").desc, col("pair"))
          .limit(25)
      },
      Some("""
        WITH t AS (
          SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
          FROM documents),
        w AS (SELECT tok, COUNT(*) AS freq FROM t GROUP BY tok),
        p AS (
          SELECT tok, freq,
                 unnest(list_transform(range(1, length(tok)),
                   i -> substring(tok, CAST(i AS INT), 2))) AS pair
          FROM w WHERE length(tok) >= 2)
        SELECT pair,
               CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_words,
               CAST(SUM(freq) AS BIGINT) AS total_count
        FROM p
        GROUP BY pair
        ORDER BY total_count DESC, pair
        LIMIT 25""")),

    QueryDef(
      "q154_tokenizer_fertility",
      (s, dir) =>
        // tokenizer fertility by language: BPE-ish segments per
        // whitespace word (the budgeting number multilingual corpus
        // work needs — a lang whose fertility is 2× pays 2× the
        // context budget for the same text). Per-doc counts are pure
        // map-side Column exprs (q67's); the lang rollup is one
        // map-side-combined hash-agg. Ratio reported in permille via
        // INTEGER division — exact in both engines.
        Tables.load(s, dir, "documents")
          .select(col("lang"),
            tokenCount(col("text")).as("ws"),
            bpeTokenCount(col("text")).as("bpe"))
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("ws")).cast("bigint").as("ws_tokens"),
            sum(col("bpe")).cast("bigint").as("bpe_tokens"))
          .withColumn("fertility_permille",
            expr("CAST((bpe_tokens * 1000L) DIV ws_tokens AS BIGINT)"))
          .orderBy(col("lang")),
      Some(s"""
        WITH d AS (
          SELECT lang,
                 CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS ws,
                 CAST(len(regexp_extract_all(text,
                   '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s'']+'))
                   AS BIGINT) AS bpe
          FROM documents)
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(ws) AS BIGINT) AS ws_tokens,
               CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
               CAST(SUM(bpe) * 1000 // SUM(ws) AS BIGINT) AS fertility_permille
        FROM d
        GROUP BY lang
        ORDER BY lang""")),

    QueryDef(
      "q155_source_divergence",
      (s, dir) => {
        // Jensen–Shannon divergence of each source's unigram
        // distribution vs the corpus — the mixture-design number that
        // says which domains are interchangeable and which add real
        // distributional mass. Identity used: with M=(P+Q)/2,
        //   JSD = ½·Σ_{p>0}[p·ln(p/m) + q·ln(q/m)] + ½·ln2·(1 − Σ_{p>0} q)
        // (absent-token terms collapse to q·ln2), so only PRESENT
        // (source, token) rows ever materialize — no union-vocab cross
        // join. Shapes: (source,tok) hash-agg (map-side combined),
        // corpus rollup AGGREGATES THE PER-SOURCE FRAME (vocab-scale,
        // not corpus-scale), totals broadcast, one vocab-key equi-join.
        val docs = Tables.load(s, dir, "documents")
        val st = docs.select(col("source"),
            explode(graft.ext.Dedup.tokens(col("text"))).as("tok"))
          .groupBy(col("source"), col("tok"))
          .agg(count(lit(1)).as("c"))
        val ns = st.groupBy(col("source"))
          .agg(sum(col("c")).cast("bigint").as("n_s"))
        val ct = st.groupBy(col("tok"))
          .agg(sum(col("c")).cast("bigint").as("c_all"))
        val n = ct.agg(sum(col("c_all")).cast("bigint").as("n_all"))
        val terms = st.join(broadcast(ns), Seq("source"))
          .join(ct, Seq("tok"))
          .crossJoin(broadcast(n))
          .withColumn("p", col("c").cast("double") / col("n_s"))
          .withColumn("q", col("c_all").cast("double") / col("n_all"))
          .withColumn("m", (col("p") + col("q")) / lit(2.0))
          // per-token contribution in 1e-15 fixed-point (the pointwise
          // JSD term is ≥ 0 and Σ ≤ 2·ln2, so the long sum cannot
          // overflow): exact integer aggregation under the hash gate,
          // immune to libm ulp and summation order — the q145 fix
          // applied to this query's sibling risk. q_present likewise
          // sums exact corpus counts, divided once at the end, and
          // ln 2 is an embedded double literal, not a libm call.
          .withColumn("term_fp",
            floor((col("p") * log(col("p") / col("m")) +
              col("q") * log(col("q") / col("m"))) * lit(1e15d))
              .cast("long"))
        terms.groupBy(col("source"))
          .agg(
            first(col("n_s")).as("n_tokens"),
            sum(col("term_fp")).as("t_fp"),
            sum(col("c_all")).as("q_num"),
            first(col("n_all")).as("n_all"))
          .select(col("source"), col("n_tokens"),
            // + 0.0: the term_fp floor can net a tiny NEGATIVE when
            // p ~= q (ln(p/m) < 0 < ln(q/m) summed in floating point),
            // so jsd is a SIGNED rounded output — signed-zero
            // normalization per the repo convention (Similarity.simR)
            (round(lit(0.5) * (col("t_fp").cast("double") / lit(1e15d)) +
              lit(0.5) * lit(0.6931471805599453) *
                (lit(1.0) - col("q_num").cast("double")
                  / col("n_all").cast("double")), 4) + lit(0.0))
              .as("jsd"))
          .orderBy(col("source"))
      },
      Some("""
        WITH t AS (
          SELECT source, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
          FROM documents),
        st AS (SELECT source, tok, COUNT(*) AS c FROM t GROUP BY 1, 2),
        ns AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_s FROM st GROUP BY 1),
        ct AS (SELECT tok, CAST(SUM(c) AS BIGINT) AS c_all FROM st GROUP BY 1),
        n AS (SELECT CAST(SUM(c_all) AS BIGINT) AS n_all FROM ct),
        terms AS (
          SELECT st.source, ns.n_s, ct.c_all, n.n_all,
                 CAST(st.c AS DOUBLE) / ns.n_s AS p,
                 CAST(ct.c_all AS DOUBLE) / n.n_all AS q
          FROM st JOIN ns USING (source) JOIN ct USING (tok) CROSS JOIN n)
        SELECT source, n_s AS n_tokens,
               ROUND(0.5 * (CAST(SUM(CAST(FLOOR(
                       (p * LN(p / ((p + q) / 2.0))
                        + q * LN(q / ((p + q) / 2.0))) * 1e15) AS BIGINT))
                     AS DOUBLE) / 1e15)
                   + 0.5 * 0.6931471805599453
                     * (1.0 - CAST(SUM(c_all) AS DOUBLE) / ANY_VALUE(n_all)),
                 4) + 0.0 AS jsd
        FROM terms
        GROUP BY source, n_s
        ORDER BY source""")),

    QueryDef(
      "q156_vocab_growth",
      (s, dir) => {
        // Heaps-law vocabulary growth over 3-gram TYPES: cumulative
        // distinct grams at 20 evenly-spaced corpus checkpoints
        // (q149's per-doc novelty is the doc-level mirror; this is the
        // corpus-level curve an n-gram vocab/LM budget is sized from —
        // unigram types saturate in the first checkpoint on any
        // realistic corpus, gram types keep growing). First-seen
        // attribution is ONE gram-key agg; checkpoint width derives
        // from the doc count (a 1-row broadcast), so there are 20
        // buckets at ANY corpus size and the cumulative window always
        // rides a 20-row frame — never the corpus.
        val docs = Tables.load(s, dir, "documents")
        val nd = docs.agg(count(lit(1)).as("n_docs"))
        val first = graft.ext.Dedup.explodedShingles(docs, "doc_id", "text", 3)
          .select(col("doc_id"), col("s").as("gram")).distinct()
          .groupBy(col("gram"))
          .agg(min(col("doc_id")).as("first_doc"))
        import org.apache.spark.sql.expressions.Window
        // dense 0-based corpus POSITION of each doc (ids may be sparse
        // or 1-based; bucketing raw ids would then overflow the 20
        // buckets and overstate docs_seen — r4 ADVICE). TwoPass owns
        // the mechanism: no single-partition window
        val ranks = graft.TwoPass.globalRowNumber(
            docs.select(col("doc_id")), Seq(col("doc_id")), "rn",
            tag = "vocab-rank")
          .select(col("doc_id").as("first_doc"),
            (col("rn") - 1).as("doc_rank"))
        first.join(ranks, Seq("first_doc"))
          .crossJoin(broadcast(nd))
          .withColumn("width", expr("CAST((n_docs + 19) DIV 20 AS BIGINT)"))
          .withColumn("bucket", expr("CAST(doc_rank DIV width AS BIGINT)"))
          // width/n_docs are constants, so grouping on them adds no
          // cardinality — it just keeps them addressable post-agg
          .groupBy(col("bucket"), col("width"), col("n_docs"))
          .agg(count(lit(1)).as("new_types"))
          .select(col("bucket"),
            expr("CAST(LEAST((bucket + 1) * width, n_docs) AS BIGINT)")
              .as("docs_seen"),
            col("new_types"))
          .withColumn("cum_types",
            sum(col("new_types")).over(Window.orderBy(col("bucket")))
              .cast("bigint"))
          .orderBy(col("bucket"))
      },
      Some("""
        WITH t AS (
          SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
          FROM documents),
        g AS (
          SELECT DISTINCT doc_id,
                 array_to_string(list_slice(toks, i + 1, i + 3), ' ') AS gram
          FROM (SELECT doc_id, toks, CAST(unnest(range(len(toks) - 2)) AS BIGINT) AS i
                FROM t WHERE len(toks) >= 3)),
        f AS (SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY gram),
        r AS (SELECT doc_id AS first_doc,
                     ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS doc_rank
              FROM documents),
        nd AS (SELECT COUNT(*) AS n_docs FROM documents),
        b AS (
          SELECT CAST(doc_rank // ((n_docs + 19) // 20) AS BIGINT) AS bucket,
                 CAST(LEAST((doc_rank // ((n_docs + 19) // 20) + 1)
                       * ((n_docs + 19) // 20), n_docs) AS BIGINT) AS docs_seen,
                 CAST(COUNT(*) AS BIGINT) AS new_types
          FROM f JOIN r USING (first_doc) CROSS JOIN nd
          GROUP BY 1, 2)
        SELECT bucket, docs_seen, new_types,
               CAST(SUM(new_types) OVER (ORDER BY bucket) AS BIGINT) AS cum_types
        FROM b
        ORDER BY bucket""")),

    QueryDef(
      "q157_quality_yield",
      (s, dir) => {
        // Yield curve for the quality gate: docs/tokens surviving each
        // candidate threshold (0…0.9 in permille steps) — the table a
        // pipeline owner reads to PICK the threshold instead of
        // guessing it. Thresholds explode from a 10-element literal
        // (map-side ×10, no join); one hash-agg on the threshold key;
        // corpus totals ride a 1-row broadcast. Shares (permille) via
        // integer division — exact in both engines.
        val docs = Tables.load(s, dir, "documents")
        val scored = docs.select(
          qualityScore(col("text")).as("score"),
          tokenCount(col("text")).as("n_tok"))
        val tot = scored.agg(
          count(lit(1)).as("tot_docs"),
          sum(col("n_tok")).cast("bigint").as("tot_tokens"))
        scored
          .select(col("score"), col("n_tok"),
            explode(expr("sequence(0L, 900L, 100L)")).as("thr_permille"))
          .filter(col("score") >= col("thr_permille") / lit(1000.0))
          .groupBy(col("thr_permille"))
          .agg(count(lit(1)).as("n_docs_kept"),
            sum(col("n_tok")).cast("bigint").as("n_tokens_kept"))
          .crossJoin(broadcast(tot))
          .select(col("thr_permille"),
            col("n_docs_kept"), col("n_tokens_kept"),
            expr("CAST(n_docs_kept * 1000 DIV tot_docs AS BIGINT)")
              .as("doc_share_permille"),
            expr("CAST(n_tokens_kept * 1000 DIV tot_tokens AS BIGINT)")
              .as("token_share_permille"))
          .orderBy(col("thr_permille"))
      },
      Some(s"""
        WITH sc AS (
          SELECT ROUND($QualityScoreSql, 4) AS score,
                 CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tok
          FROM documents),
        tot AS (
          SELECT COUNT(*) AS tot_docs, CAST(SUM(n_tok) AS BIGINT) AS tot_tokens
          FROM sc),
        thr AS (SELECT unnest(range(0, 1000, 100)) AS thr_permille),
        k AS (
          SELECT thr_permille,
                 CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
                 CAST(SUM(n_tok) AS BIGINT) AS n_tokens_kept
          FROM sc JOIN thr ON sc.score >= thr.thr_permille / 1000.0
          GROUP BY 1)
        SELECT CAST(thr_permille AS BIGINT) AS thr_permille,
               n_docs_kept, n_tokens_kept,
               CAST(n_docs_kept * 1000 // tot_docs AS BIGINT) AS doc_share_permille,
               CAST(n_tokens_kept * 1000 // tot_tokens AS BIGINT) AS token_share_permille
        FROM k CROSS JOIN tot
        ORDER BY thr_permille""")),

    QueryDef(
      "q158_packing_order_audit",
      (s, dir) => {
        // Does pack ORDER matter? The same greedy token-budget packing
        // ([[graft.ext.Packing.packByTokenBudget]], budget 128 — a
        // power of two, so the double-division floor is exact in both
        // engines) audited under two within-shard orders: natural
        // doc_id vs length-descending. Bins used is order-invariant
        // by construction (⌊cumsum⌋ fill); what moves is how many
        // docs STRADDLE a bin boundary and how many tokens spill past
        // it — the fragmentation a sequence-packing reader pays.
        // Shapes: one shard-partitioned window per order, 1-row aggs.
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            tokenCount(col("text")).as("n_tok"))
        val bins = docs.groupBy(col("source"))
          .agg(sum(col("n_tok")).as("t"))
          .agg(sum(expr("(t - 1) DIV 128 + 1")).cast("bigint").as("bins_used"))
        def audit(orderCol: org.apache.spark.sql.Column, label: String) =
          graft.ext.Packing
            .packByTokenBudget(docs, col("source"), orderCol, col("n_tok"), 128L)
            .withColumn("spill", greatest(
              col("run_tokens_before") + col("n_tok")
                - (col("bin_id") + 1) * lit(128L), lit(0L)))
            .agg(
              sum(when(col("spill") > 0, 1L).otherwise(0L)).cast("bigint")
                .as("n_crossing_docs"),
              sum(col("spill")).cast("bigint").as("spilled_tokens"))
            .select(lit(label).as("ordering"),
              col("n_crossing_docs"), col("spilled_tokens"))
        audit(col("doc_id"), "by_doc_id")
          .unionByName(audit(expr("struct(-n_tok AS neg, doc_id)"), "by_len_desc"))
          .crossJoin(broadcast(bins))
          .orderBy(col("ordering"))
      },
      Some("""
        WITH d AS (
          SELECT doc_id, source,
                 CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok
          FROM documents),
        bins AS (
          SELECT CAST(SUM((t - 1) // 128 + 1) AS BIGINT) AS bins_used
          FROM (SELECT SUM(n_tok) AS t FROM d GROUP BY source)),
        p1 AS (
          SELECT n_tok, COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
          FROM d),
        p2 AS (
          SELECT n_tok, COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY n_tok DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
          FROM d),
        a1 AS (
          SELECT 'by_doc_id' AS ordering,
                 CAST(SUM(CASE WHEN bef + n_tok - (bef // 128 + 1) * 128 > 0
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_crossing_docs,
                 CAST(SUM(GREATEST(bef + n_tok - (bef // 128 + 1) * 128, 0))
                   AS BIGINT) AS spilled_tokens
          FROM p1),
        a2 AS (
          SELECT 'by_len_desc' AS ordering,
                 CAST(SUM(CASE WHEN bef + n_tok - (bef // 128 + 1) * 128 > 0
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_crossing_docs,
                 CAST(SUM(GREATEST(bef + n_tok - (bef // 128 + 1) * 128, 0))
                   AS BIGINT) AS spilled_tokens
          FROM p2)
        SELECT ordering, n_crossing_docs, spilled_tokens, bins_used
        FROM (SELECT * FROM a1 UNION ALL SELECT * FROM a2) CROSS JOIN bins
        ORDER BY ordering""")),

    QueryDef(
      "q160_temperature_mixture",
      (s, dir) => {
        // Temperature-scaled multilingual sampling weights (the
        // XLM-R/mT5 formula): qᵢ = pᵢ^α / Σ pⱼ^α with α = 0.3 over
        // token shares — flattens the head languages, upsamples the
        // tail, and the upsample factor qᵢ/pᵢ is the repeat rate the
        // data loader applies. Shapes: one lang hash-agg; the token
        // total and the Σ p^α normalizer are 1-row broadcasts riding
        // the |langs|-row frame — nothing here scales with the corpus
        // except the first agg.
        val byLang = Tables.load(s, dir, "documents")
          .select(col("lang"), tokenCount(col("text")).as("n_tok"))
          .groupBy(col("lang"))
          .agg(sum(col("n_tok")).cast("bigint").as("n_tokens"))
        val tot = byLang.agg(sum(col("n_tokens")).cast("bigint").as("tot"))
        // p^α in 1e-15 fixed-point (q145 convention): the Σ p^α
        // normalizer is a summed libm result under the hash gate, so
        // both the terms and the sum become exact longs (p^α ≤ 1,
        // |langs| terms — no overflow); every downstream ratio is a
        // deterministic function of exact integers
        val p = byLang.crossJoin(broadcast(tot))
          .withColumn("share", col("n_tokens").cast("double") / col("tot"))
          .withColumn("pa_fp",
            floor(pow(col("share"), lit(0.3)) * lit(1e15d)).cast("long"))
        val z = p.agg(sum(col("pa_fp")).as("z_fp"))
        p.crossJoin(broadcast(z))
          .select(col("lang"), col("n_tokens"),
            expr("CAST(n_tokens * 1000 DIV tot AS BIGINT)").as("share_permille"),
            round(col("pa_fp").cast("double") / col("z_fp").cast("double"), 6)
              .as("weight"),
            round(col("pa_fp").cast("double") / col("z_fp").cast("double")
              / col("share"), 4).as("upsample"))
          .orderBy(col("lang"))
      },
      Some("""
        WITH l AS (
          SELECT lang,
                 CAST(SUM(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT))
                   AS BIGINT) AS n_tokens
          FROM documents GROUP BY lang),
        tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot FROM l),
        p AS (
          SELECT lang, n_tokens, tot,
                 CAST(n_tokens AS DOUBLE) / tot AS share,
                 CAST(FLOOR(POWER(CAST(n_tokens AS DOUBLE) / tot, 0.3) * 1e15)
                   AS BIGINT) AS pa_fp
          FROM l CROSS JOIN tot),
        z AS (SELECT CAST(SUM(pa_fp) AS BIGINT) AS z_fp FROM p)
        SELECT lang, n_tokens,
               CAST(n_tokens * 1000 // tot AS BIGINT) AS share_permille,
               ROUND(CAST(pa_fp AS DOUBLE) / z.z_fp, 6) AS weight,
               ROUND(CAST(pa_fp AS DOUBLE) / z.z_fp / share, 4) AS upsample
        FROM p CROSS JOIN z
        ORDER BY lang"""))
  )
}
