package graft.queries

import org.apache.spark.sql.functions._
import graft.ext.Dedup

/** Near-duplicate detection over `documents` (graft.ext.Dedup).
  * EVERY query here is DuckDB-hash-checked: q64 replays its inverted-
  * index Jaccard directly; q65/q76 are checked against the LSH-free
  * exact-Jaccard truth set (valid because banding recall is
  * deterministically 1 on this corpus — see q65's oracle comment);
  * q66 replays the 60-bit md5 SimHash end to end (pigeonhole recall
  * is exactly 1 by construction).
  */
object DedupQueries {

  /** Process-level memo of the staged exact-Jaccard truth-pair set at
    * the family floor (0.1) for a (session, corpus-dir) pair. Four
    * registered queries consume the identical substrate (q161 audit,
    * q163 explain, q168 sweep, q170 copy matrix — thresholds 0.1/0.3
    * are filters OVER the staged floor set, applied on the 6dp-rounded
    * sim exactly like the direct computation); computing it once per
    * corpus and serving filters from the staged parquet is the r4
    * verdict's ask #5. Safe to key by path: the test-data dirs are
    * immutable snapshots, and callers with synthetic frames hit
    * [[Dedup.exactJaccardPairs]] directly, never this memo. Keyed by
    * applicationId (not session identity): a stopped context can never
    * serve a stale plan to a new one, and sessions sharing one live
    * context share the staged file safely.
    */
  private val truthPairCache =
    new java.util.concurrent.ConcurrentHashMap[String, (org.apache.spark.sql.DataFrame, Long)]()
  private def truthPairs(s: org.apache.spark.sql.SparkSession, dir: String)
      : (org.apache.spark.sql.DataFrame, Long) =
    truthPairCache.computeIfAbsent(
      s.sparkContext.applicationId + "|" + dir,
      // footer-counted (r22): the staged row count is a by-value sort
      // bound for the audit's output-scale orderBy (boundedSort — the
      // audit result is 1:1 with the staged pairs it scores)
      _ => graft.Staging.checkpointCounted(
        Dedup.exactJaccardPairs(
          Tables.load(s, dir, "documents"), "doc_id", "text",
          minJaccard = 0.1),
        "truth-pairs"))

  val all: Seq[QueryDef] = Seq(

    QueryDef(
      "q64_ngram_jaccard",
      (s, dir) => {
        // inverted-index formulation: explode shingles, equi-join on
        // (lang, shingle), count matches per pair in a codegen'd hash
        // aggregate — |A∩B| without per-pair interpreted array ops;
        // |A∪B| = |A|+|B|−|A∩B| from the pre-computed sizes. Pairs
        // sharing no shingle can't clear the 0.05 floor, so dropping
        // them (inherent to the index join) is lossless.
        graft.functions.GraftFunctions.register(s)
        val docs = Tables.load(s, dir, "documents")
        // r21: the shingle is only an EQUALITY key in this query (the
        // index join + the intersection count; never displayed), so
        // the whole inverted index runs over 64-bit gram DIGESTS
        // (graft_gram_hashes — no corpus-wide 3-gram string builds,
        // 8-byte join/agg keys; digest counts ≡ string counts modulo
        // 64-bit collisions, see graft.functions.TextHash).
        def digests(df: org.apache.spark.sql.DataFrame) =
          df.select(col("doc_id"), col("lang"),
            explode(call_function("graft_gram_hashes",
              Dedup.tokens(col("text")), lit(3))).as("d"))
        // per-doc DISTINCT shingle-set size (set semantics for
        // Jaccard) as a MAP-SIDE array expression — no shuffle: the
        // alternative (count_distinct over the exploded rows) shuffles
        // every shingle occurrence, which at 10× corpus scale was the
        // query's dominant stage. With sizes off the exploded path,
        // each remaining consumer re-derives its own (cheap, pruned)
        // scan and nothing needs a corpus-scale persist.
        val szs = docs.select(col("doc_id"), col("lang"),
          size(array_distinct(call_function("graft_gram_hashes",
            Dedup.tokens(col("text")), lit(3)))).cast("bigint").as("sz"))
        // probe slice: the doc_id<100 filter pushes into the scan, so
        // this explodes ~100 docs, not the corpus
        val ax = digests(docs.filter(col("doc_id") < 100))
          .select(col("doc_id").as("doc_id_a"), col("lang"), col("d"))
        val bx = digests(docs)
          .select(col("doc_id").as("doc_id_b"), col("lang"), col("d"))
        broadcast(ax).join(bx, Seq("lang", "d"))
          .filter(col("doc_id_a") < col("doc_id_b"))
          .groupBy(col("doc_id_a"), col("doc_id_b"))
          .agg(count_distinct(col("d")).as("inter"))
          // unhinted: AQE broadcasts szs when small; at 100 TB this is
          // a shuffle join on doc_id against the (large) per-doc sizes
          .join(szs.select(col("doc_id").as("doc_id_a"), col("sz").as("sz_a")),
            Seq("doc_id_a"))
          .join(szs.select(col("doc_id").as("doc_id_b"), col("sz").as("sz_b")),
            Seq("doc_id_b"))
          .withColumn("jaccard_sim",
            round(col("inter").cast("double")
              / (col("sz_a") + col("sz_b") - col("inter")).cast("double"), 6))
          .filter(col("jaccard_sim") >= 0.05)
          .select(col("doc_id_a"), col("doc_id_b"), col("jaccard_sim"))
          // live sort: live-vs-staged A/B — the resample's second
          // traversal costs less than a staged round-trip here
          // (x10 ratio 1.11, 1x 1.06); contrast q65, which stages
          .orderBy(col("doc_id_a"), col("doc_id_b"))
      },
      Some("""
        WITH sh AS (
          SELECT doc_id, lang,
            list_distinct(
              list_transform(range(1, len(regexp_split_to_array(trim(lower(text)), '\s+')) - 1),
                i -> regexp_split_to_array(trim(lower(text)), '\s+')[i] || ' ' ||
                     regexp_split_to_array(trim(lower(text)), '\s+')[i+1] || ' ' ||
                     regexp_split_to_array(trim(lower(text)), '\s+')[i+2])) AS s
          FROM documents),
        p AS (
          SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
            ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
              / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE), 6)
              AS jaccard_sim
          FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
          WHERE a.doc_id < 100)
        SELECT doc_id_a, doc_id_b, jaccard_sim
        FROM p
        WHERE jaccard_sim >= 0.05
        ORDER BY doc_id_a, doc_id_b"""),
      headline = true),

    QueryDef(
      "q65_minhash_dedup",
      (s, dir) => {
        // boundedSort, not a bare orderBy: the verify join would run
        // twice under the range sampler. The candidate count (≥ the
        // verified pair count) is known by value from the counted
        // variant, so a small pair set sorts in one task with the
        // verify join executed exactly once — no q65-pairs staging
        // round-trip (r22; stagedSort remains the unbounded fallback).
        val (pairs, nCand) = Dedup.minhashDupPairsCounted(
          Tables.load(s, dir, "documents"), "doc_id", "text",
          k = 64, bands = 16, threshold = 0.3)
        graft.Staging.boundedSort(pairs, nCand, "q65-pairs")(
          col("doc_id_a"), col("doc_id_b"))
      },
      // ORACLE = the exact-Jaccard truth set (inverted-index brute
      // force, LSH-free). The engine result equals it iff LSH recall
      // is exactly 1 at this threshold — which holds deterministically
      // on this corpus (all true pairs have J ≥ 0.8; per-band collision
      // at J=0.8 is 0.41, so 16 bands miss with p≈2e-4 and the fixed
      // seed-42 hash family empirically misses none at sf0.01/sf0.1).
      // This makes the driver check STRONGER than rows-only: any
      // recall regression in signatures/banding/verify hash-fails.
      Some("WITH " + TruthPairsBody + """
        SELECT doc_id_a, doc_id_b, jaccard_sim
        FROM truth_pairs
        ORDER BY doc_id_a, doc_id_b"""),
      headline = true),

    QueryDef(
      "q91_incremental_neardup",
      (s, dir) => {
        // incremental-ingest split: every 5th doc plays the new batch,
        // the rest is the already-indexed corpus. The engine reaches
        // the "history" only through its band index + a candidate-id
        // text fetch — the oracle is the exact-Jaccard truth set
        // restricted to cross-(batch,history) pairs, so like q65 any
        // recall regression in the incremental path hash-fails.
        val docs = Tables.load(s, dir, "documents")
        val newBatch = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
        val existing = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
        Dedup.incrementalDupPairs(newBatch, existing, "doc_id", "text",
            threshold = 0.3)
          .orderBy(col("new_id"), col("old_id"))
      },
      Some("WITH " + TruthPairsBody + """
        SELECT CASE WHEN doc_id_a % 5 = 0 THEN doc_id_a ELSE doc_id_b END AS new_id,
               CASE WHEN doc_id_a % 5 = 0 THEN doc_id_b ELSE doc_id_a END AS old_id,
               jaccard_sim
        FROM truth_pairs
        WHERE (doc_id_a % 5 = 0) != (doc_id_b % 5 = 0)
        ORDER BY new_id, old_id""")),

    QueryDef(
      "q92_fuzzy_join",
      (s, dir) =>
        // fuzzy entity resolution over the part-name dictionary:
        // deletion-neighborhood blocking + exact levenshtein verify
        // (graft.ext.EntityResolution). The oracle is the BRUTE-FORCE
        // all-pairs scan, so any recall loss in the blocking
        // hash-fails — same hard-gate pattern as q65/q91.
        graft.ext.EntityResolution
          .fuzzySelfPairs(Tables.load(s, dir, "part"), "p_name", maxDist = 2)
          .orderBy(col("name_a"), col("name_b")),
      Some("""
        WITH n AS (SELECT DISTINCT p_name AS name FROM part)
        SELECT a.name AS name_a, b.name AS name_b,
               CAST(levenshtein(a.name, b.name) AS BIGINT) AS edit_dist
        FROM n a JOIN n b ON a.name < b.name
        WHERE levenshtein(a.name, b.name) <= 2
        ORDER BY name_a, name_b""")),

    QueryDef(
      "q76_dedup_clusters",
      (s, dir) =>
        Dedup.dedupClusters(Tables.load(s, dir, "documents"),
          "doc_id", "text", threshold = 0.3)
          .orderBy(col("cluster_id")),
      // connected components over the truth pair set via a recursive
      // transitive-closure CTE (near-dup clusters are tiny, so the
      // closure is cheap); min-reachable-id labeling matches the
      // engine's min-label propagation exactly
      Some("WITH RECURSIVE " + TruthPairsBody + """,
        edges AS (
          SELECT doc_id_a AS n, doc_id_b AS m FROM truth_pairs
          UNION
          SELECT doc_id_b, doc_id_a FROM truth_pairs),
        reach(n, m) AS (
          SELECT n, m FROM edges
          UNION
          SELECT e.n, r.m FROM edges e JOIN reach r ON r.n = e.m),
        lbl AS (
          SELECT n AS doc_id, LEAST(n, MIN(m)) AS cluster_id
          FROM reach GROUP BY n)
        SELECT cluster_id,
               COUNT(*) AS cluster_size,
               MIN(doc_id) AS keep_doc_id,
               array_to_string(list_sort(list(doc_id)), ',') AS member_ids
        FROM lbl
        GROUP BY cluster_id
        ORDER BY cluster_id""")),

    QueryDef(
      "q66_simhash_dedup",
      (s, dir) =>
        Dedup.simhashDupPairs(
          Tables.load(s, dir, "documents"), "doc_id", "text", maxDist = 3)
          .orderBy(col("doc_id_a"), col("doc_id_b")),
      // full replay of the 60-bit md5-based SimHash: token hashes, bit
      // majority vote, 4×15-bit pigeonhole blocking, hamming filter.
      // Pigeonhole recall is EXACTLY 1 (hamming ≤ 3 ⇒ some chunk
      // equal), so this is a complete-equality oracle, not a sample.
      Some("WITH " + SimhashPairsBody + """
        SELECT doc_id_a, doc_id_b, hamming
        FROM simhash_pairs
        ORDER BY doc_id_a, doc_id_b""")),

    curationPipeline,

    curationFunnel,

    QueryDef(
      "q87_dedup_method_agreement",
      (s, dir) => {
        // method-comparison QA: before trusting a cheaper deduper at
        // scale, measure its pair-set agreement with the reference
        // method on a corpus slice. Both pair sets and their overlap
        // are exact here, so the whole comparison hash-checks.
        val docs = Tables.load(s, dir, "documents")
        // disk-staged: each pair pipeline is consumed twice (count +
        // intersect) and plan fragments don't reuse across branches
        val mh = graft.Staging.checkpoint(
          Dedup.minhashDupPairs(docs, "doc_id", "text", threshold = 0.3)
            .select(col("doc_id_a"), col("doc_id_b")), "q87-mh")
        val sh = graft.Staging.checkpoint(
          Dedup.simhashDupPairs(docs, "doc_id", "text", maxDist = 3)
            .select(col("doc_id_a"), col("doc_id_b")), "q87-sh")
        val both = mh.intersect(sh)
        mh.agg(count(lit(1)).as("n_minhash"))
          .crossJoin(sh.agg(count(lit(1)).as("n_simhash")))
          .crossJoin(both.agg(count(lit(1)).as("n_both")))
          .select(col("n_minhash"), col("n_simhash"), col("n_both"),
            // dup-free corpus → union empty → define agreement as 0.0
            // (NaN would diverge between engines)
            when(col("n_minhash") + col("n_simhash") - col("n_both") > 0,
              round(col("n_both").cast("double")
                / (col("n_minhash") + col("n_simhash") - col("n_both"))
                  .cast("double"), 6))
              .otherwise(lit(0.0)).as("agreement_jaccard"))
      },
      Some("WITH " + TruthPairsBody + ",\n" + SimhashPairsBody + """
        , m AS (SELECT COUNT(*) AS n_minhash FROM truth_pairs),
        s2 AS (SELECT COUNT(*) AS n_simhash FROM simhash_pairs),
        b AS (SELECT COUNT(*) AS n_both FROM (
          SELECT doc_id_a, doc_id_b FROM truth_pairs
          INTERSECT
          SELECT doc_id_a, doc_id_b FROM simhash_pairs) t)
        SELECT n_minhash, n_simhash, n_both,
               CASE WHEN n_minhash + n_simhash - n_both > 0
                    THEN ROUND(CAST(n_both AS DOUBLE)
                      / CAST(n_minhash + n_simhash - n_both AS DOUBLE), 6)
                    ELSE 0.0 END AS agreement_jaccard
        FROM m, s2, b""")),

    QueryDef(
      "q99_containment_dedup",
      (s, dir) => {
        // asymmetric containment |A∩B| / |A|: catches documents mostly
        // QUOTED inside a larger one, which symmetric Jaccard misses
        // (a small doc embedded in a big one has low J but containment
        // ≈ 1). Same inverted-index shape as q64: probe slice
        // broadcast, one hash aggregate per candidate pair — at 100 TB
        // the corpus streams map-side through the gram join and only
        // candidate pairs shuffle.
        val docs = Tables.load(s, dir, "documents")
        // |A| map-side as an array expression (same rework as q64: no
        // corpus-scale count_distinct shuffle, no exploded persist)
        val szs = docs.select(col("doc_id"),
          Dedup.distinctShingleCount(col("text")).as("sz"))
        val ax = Dedup.explodedShingles(docs.filter(col("doc_id") < 100),
            "doc_id", "text")
          .select(col("doc_id").as("doc_id_a"), col("s"))
        val bx = Dedup.explodedShingles(docs, "doc_id", "text")
          .select(col("doc_id").as("doc_id_b"), col("s"))
        broadcast(ax).join(bx, Seq("s"))
          .filter(col("doc_id_a") =!= col("doc_id_b"))
          .groupBy(col("doc_id_a"), col("doc_id_b"))
          .agg(count_distinct(col("s")).as("inter"))
          .join(szs.select(col("doc_id").as("doc_id_a"), col("sz").as("sz_a")),
            Seq("doc_id_a"))
          .withColumn("containment_r",
            round(col("inter").cast("double") / col("sz_a").cast("double"), 6))
          .filter(col("containment_r") >= 0.5)
          .select(col("doc_id_a"), col("doc_id_b"), col("containment_r"))
          .orderBy(col("doc_id_a"), col("doc_id_b"))
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
          FROM documents),
        sh AS (
          SELECT doc_id, list_distinct(list_transform(range(1, len(t)-1),
                   i -> t[i]||' '||t[i+1]||' '||t[i+2])) AS s
          FROM toks WHERE len(t) >= 3),
        p AS (
          SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
            ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
              / CAST(len(a.s) AS DOUBLE), 6) AS containment_r
          FROM sh a JOIN sh b ON a.doc_id != b.doc_id
          WHERE a.doc_id < 100 AND len(a.s) > 0)
        SELECT doc_id_a, doc_id_b, containment_r
        FROM p WHERE containment_r >= 0.5
        ORDER BY doc_id_a, doc_id_b""")),

    QueryDef(
      "q117_split_leakage",
      (s, dir) => {
        // split-leakage audit: after a 90/10 train/heldout hash split,
        // which near-duplicate pairs CROSS the boundary? Every such
        // pair leaks training content into evaluation — the reason
        // pipelines dedup BEFORE splitting. Split gate is the
        // oracle-replayable md5 bucket ([[Sampling.mixtureResample]]
        // convention, not xxhash64, precisely so the decision replays
        // in SQL); pairs come from the LSH path, checked against the
        // exact-Jaccard truth set restricted to crossing pairs — any
        // recall loss hash-fails, as in q65/q91.
        val docs = Tables.load(s, dir, "documents")
        val split = docs.select(col("doc_id"),
          (pmod(Dedup.md5Hash60(col("doc_id").cast("string")), lit(10L)) < 9)
            .as("is_train"))
        val pairs = Dedup.minhashDupPairs(docs, "doc_id", "text",
          threshold = 0.3)
        pairs
          .join(split.select(col("doc_id").as("doc_id_a"),
            col("is_train").as("train_a")), Seq("doc_id_a"))
          .join(split.select(col("doc_id").as("doc_id_b"),
            col("is_train").as("train_b")), Seq("doc_id_b"))
          .filter(col("train_a") =!= col("train_b"))
          .select(
            when(col("train_a"), col("doc_id_a")).otherwise(col("doc_id_b"))
              .as("train_id"),
            when(col("train_a"), col("doc_id_b")).otherwise(col("doc_id_a"))
              .as("heldout_id"),
            col("jaccard_sim"))
          .orderBy(col("train_id"), col("heldout_id"))
      },
      Some("WITH " + TruthPairsBody + """,
        s AS (
          SELECT doc_id,
            (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
              % 10) < 9 AS is_train
          FROM documents)
        SELECT CASE WHEN sa.is_train THEN doc_id_a ELSE doc_id_b END AS train_id,
               CASE WHEN sa.is_train THEN doc_id_b ELSE doc_id_a END AS heldout_id,
               jaccard_sim
        FROM truth_pairs
        JOIN s sa ON sa.doc_id = doc_id_a
        JOIN s sb ON sb.doc_id = doc_id_b
        WHERE sa.is_train != sb.is_train
        ORDER BY train_id, heldout_id""")),

    QueryDef(
      "q103_paragraph_dedup",
      (s, dir) => {
        // C4/RefinedWeb-style SUB-document dedup signal: split each
        // doc into disjoint 20-token blocks (the corpus has no
        // newline/sentence structure, so fixed windows play the
        // paragraph role), md5 each block, and report per doc what
        // fraction of its blocks also appear in OTHER docs — the
        // boilerplate score used to drop template-heavy pages. Shape:
        // map-side blocks, one hash agg on the block digest, an
        // equi-join back, one per-doc agg — corpus never pairs.
        val docs = Tables.load(s, dir, "documents")
        // r21: 64-bit chunk digest instead of the md5 string — the
        // digest is only a grouping/join key here (the oracle counts
        // block spread, never the digest value)
        val blocks = graft.ext.Chunking.tokenChunkDigests(docs, "doc_id",
          "text", window = 20, stride = 20)
        val spread = blocks.groupBy(col("chunk_digest"))
          .agg(count_distinct(col("doc_id")).as("ndocs"))
        blocks.join(spread, Seq("chunk_digest"))
          .groupBy(col("doc_id"))
          .agg(
            count(lit(1)).as("n_blocks"),
            sum(when(col("ndocs") > 1, 1L).otherwise(0L)).as("n_dup_blocks"),
            round(sum(when(col("ndocs") > 1, 1L).otherwise(0L)).cast("double")
              / count(lit(1)).cast("double"), 4).as("dup_block_frac"))
          // live sort: doc-scale output; live-vs-staged A/B ratios
          // 1.22 (1x) / 0.99 (x10) — the staged round-trip loses
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH t AS (
          SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
          FROM documents),
        n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens FROM t),
        c AS (
          SELECT doc_id, toks,
            CASE WHEN n_tokens <= 20 THEN 1
                 ELSE (n_tokens - 20 + 19) // 20 + 1 END AS n_chunks
          FROM n),
        x AS (
          SELECT doc_id, toks, CAST(unnest(range(n_chunks)) AS BIGINT) AS chunk_id
          FROM c),
        b AS (
          SELECT doc_id, chunk_id,
            md5(array_to_string(
              list_slice(toks, chunk_id * 20 + 1, chunk_id * 20 + 20), ' '))
              AS chunk_md5
          FROM x),
        spread AS (
          SELECT chunk_md5, COUNT(DISTINCT doc_id) AS ndocs FROM b GROUP BY 1)
        SELECT doc_id,
               COUNT(*) AS n_blocks,
               CAST(SUM(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_dup_blocks,
               ROUND(CAST(SUM(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 4) AS dup_block_frac
        FROM b JOIN spread USING (chunk_md5)
        GROUP BY doc_id
        ORDER BY doc_id""")),

    QueryDef(
      "q125_substring_spans",
      (s, dir) => {
        // exact-substring dedup accounting — see
        // [[graft.ext.Dedup.substringDupSpans]] for the algorithm and
        // the 100 TB shape (digest window + doc-keyed interval sweep,
        // no pair generation). Live sort: live-vs-staged A/B a wash at
        // every scale (1.04 / 1.00 / 1.05), so the doc-scale output
        // keeps the simpler shape. PlanSpec pins the core via
        // substringDupSpans directly.
        Dedup.substringDupSpans(Tables.load(s, dir, "documents"),
            "doc_id", "text", w = 20)
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH t AS (
          SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
          FROM documents),
        b AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens FROM t),
        occ AS (
          SELECT doc_id, i,
                 md5(array_to_string(list_slice(toks, i + 1, i + 20), ' ')) AS g
          FROM (SELECT doc_id, toks,
                       CAST(unnest(range(len(toks) - 19)) AS BIGINT) AS i
                FROM b WHERE n_tokens >= 20)),
        rm AS (
          SELECT doc_id, i AS s, i + 19 AS e
          FROM (SELECT doc_id, i,
                       ROW_NUMBER() OVER (PARTITION BY g ORDER BY doc_id, i)
                         AS rn
                FROM occ)
          WHERE rn > 1),
        mg AS (
          SELECT doc_id, s, e,
                 MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING) AS prev_max_e
          FROM rm),
        cov AS (
          SELECT doc_id,
                 CAST(SUM(GREATEST(
                   e - GREATEST(s, COALESCE(prev_max_e + 1, s)) + 1, 0))
                   AS BIGINT) AS n_dup_tokens
          FROM mg GROUP BY doc_id)
        SELECT b.doc_id, b.n_tokens,
               COALESCE(cov.n_dup_tokens, 0) AS n_dup_tokens,
               (COALESCE(cov.n_dup_tokens, 0) * 1000000 // b.n_tokens)
                 / 1000000.0 AS dup_frac
        FROM b LEFT JOIN cov USING (doc_id)
        ORDER BY b.doc_id"""),
      headline = true),

    QueryDef(
      "q153_source_priority_dedup",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        // Survivorship-POLICY dedup: where q60 keeps the min doc_id
        // per exact digest, real corpus builds keep the copy from the
        // most trusted SOURCE (curated dump beats web scrape). The
        // grouping key is the vocabulary fingerprint (md5 of the
        // sorted distinct token set — groups token-level rearrange/
        // near-copies that byte-exact md5 misses); priority is
        // self-calibrating: sources ranked by total corpus mass
        // (SUM(n_chars) — an integer, so cross-engine exact),
        // tie-broken on the source name. Shapes: the 20-row priority
        // table builds from one map-side-combined agg (its global
        // ROW_NUMBER rides 20 rows, not the corpus) and BROADCASTS
        // back; fingerprints form map-side; the group agg and the
        // survivor window both key on the fingerprint — at 100 TB
        // everything shuffles by digest exactly once per pass, never
        // by pair.
        val docs = Tables.load(s, dir, "documents")
        val pr = docs.groupBy(col("source"))
          .agg(sum(col("n_chars")).as("mass"))
          .select(col("source"),
            row_number().over(Window.orderBy(col("mass").desc, col("source")))
              .as("rk"))
        val keyed = docs.select(col("doc_id"), col("source"),
          md5(concat_ws(" ",
            array_sort(array_distinct(Dedup.tokens(col("text"))))))
            .as("vocab_digest"))
        val j = keyed.join(broadcast(pr), Seq("source"))
        val groups = j.groupBy(col("vocab_digest"))
          .agg(count(lit(1)).as("n_copies"),
            count_distinct(col("source")).as("n_sources"))
          .filter(col("n_copies") > 1)
        val survivor = j.withColumn("rn",
            row_number().over(Window.partitionBy(col("vocab_digest"))
              .orderBy(col("rk"), col("doc_id"))))
          .filter(col("rn") === 1)
        groups.join(survivor, Seq("vocab_digest"))
          .select(col("vocab_digest"),
            col("doc_id").as("survivor_doc"),
            col("source").as("survivor_source"),
            col("n_copies"), col("n_sources"))
          .orderBy(col("vocab_digest"))
      },
      Some("""
        WITH pr AS (
          SELECT source,
                 ROW_NUMBER() OVER (ORDER BY SUM(n_chars) DESC, source) AS rk
          FROM documents GROUP BY source),
        d AS (
          SELECT doc_id, source,
                 md5(array_to_string(list_sort(list_distinct(
                   regexp_split_to_array(trim(lower(text)), '\s+'))), ' '))
                   AS vocab_digest
          FROM documents),
        j AS (SELECT d.doc_id, d.source, d.vocab_digest, pr.rk
              FROM d JOIN pr USING (source)),
        g AS (
          SELECT vocab_digest,
                 CAST(COUNT(*) AS BIGINT) AS n_copies,
                 CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
          FROM j GROUP BY vocab_digest HAVING COUNT(*) > 1),
        w AS (
          SELECT vocab_digest, doc_id, source,
                 ROW_NUMBER() OVER (PARTITION BY vocab_digest
                   ORDER BY rk, doc_id) AS rn
          FROM j)
        SELECT g.vocab_digest,
               w.doc_id AS survivor_doc,
               w.source AS survivor_source,
               g.n_copies, g.n_sources
        FROM g JOIN w ON g.vocab_digest = w.vocab_digest AND w.rn = 1
        ORDER BY g.vocab_digest""")),

    QueryDef(
      "q161_minhash_error_audit",
      (s, dir) => {
        val (pairs, nPairs) = truthPairs(s, dir)
        Dedup.minhashErrorAudit(
          Tables.load(s, dir, "documents"), "doc_id", "text",
          k = 32, minJaccard = 0.1,
          stagedPairs = Some(pairs),
          // staged floor count ≥ scored pairs (the 0.1 filter is ≥ the
          // staged floor): single-partition total order, no resample
          pairBound = Some(nPairs))
      },
      // the oracle replays the ENTIRE estimator — md5-based base hash,
      // the seeded 32-permutation family (embedded as VALUES), per-pair
      // signature agreement — next to the exact inverted-index Jaccard
      Some(s"""
        WITH toks AS (
          SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
          FROM documents),
        g AS (
          SELECT DISTINCT doc_id,
                 t[i]||' '||t[i+1]||' '||t[i+2] AS gram
          FROM (SELECT doc_id, t, CAST(unnest(range(1, len(t) - 1)) AS BIGINT) AS i
                FROM toks WHERE len(t) >= 3)),
        hs AS (
          SELECT doc_id,
                 CAST(('0x'||substr(md5(gram), 1, 15)) AS BIGINT) % 2147483647 AS h
          FROM g),
        fam(j, a, b) AS (VALUES ${Dedup.hashFamilySqlValues(32)}),
        mh AS (
          SELECT doc_id, j, MIN((h * a + b) % 2147483647) AS comp
          FROM hs CROSS JOIN fam GROUP BY 1, 2),
        sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY 1),
        inter AS (
          SELECT x.doc_id AS doc_id_a, y.doc_id AS doc_id_b, COUNT(*) AS i
          FROM g x JOIN g y ON x.gram = y.gram AND x.doc_id < y.doc_id
          GROUP BY 1, 2),
        p AS (
          SELECT doc_id_a, doc_id_b,
                 ROUND(CAST(i AS DOUBLE) / CAST(na.n + nb.n - i AS DOUBLE), 6)
                   AS jaccard_sim
          FROM inter JOIN sz na ON na.doc_id = inter.doc_id_a
                     JOIN sz nb ON nb.doc_id = inter.doc_id_b
          WHERE ROUND(CAST(i AS DOUBLE) / CAST(na.n + nb.n - i AS DOUBLE), 6) >= 0.1)
        SELECT p.doc_id_a, p.doc_id_b, p.jaccard_sim,
               CAST(SUM(CASE WHEN a.comp = b.comp THEN 1 ELSE 0 END) AS BIGINT)
                 AS sig_matches,
               CAST(SUM(CASE WHEN a.comp = b.comp THEN 1 ELSE 0 END) * 1000 // 32
                 AS BIGINT) AS est_permille
        FROM p JOIN mh a ON a.doc_id = p.doc_id_a
               JOIN mh b ON b.doc_id = p.doc_id_b AND b.j = a.j
        GROUP BY 1, 2, 3
        ORDER BY doc_id_a, doc_id_b"""),
      headline = true),

    QueryDef(
      "q163_neardup_explain",
      (s, dir) =>
        Dedup.neardupExplain(
          Tables.load(s, dir, "documents"), "doc_id", "text",
          threshold = 0.3,
          stagedPairs = Some(truthPairs(s, dir)._1)),
      // oracle replays the whole explanation: exact truth pairs
      // (shared TruthPairsBody), positioned 3-grams, the diagonal
      // gaps-and-islands, and the run→token conversion
      Some("WITH " + TruthPairsBody + """,
        pos AS (
          SELECT doc_id, i, t[i+1]||' '||t[i+2]||' '||t[i+3] AS g
          FROM (SELECT doc_id, t, CAST(unnest(range(len(t) - 2)) AS BIGINT) AS i
                FROM toks WHERE len(t) >= 3)),
        pts AS (
          SELECT DISTINCT tp.doc_id_a, tp.doc_id_b, tp.jaccard_sim,
                 b.j - a.i AS d, a.i
          FROM truth_pairs tp
          JOIN pos a ON a.doc_id = tp.doc_id_a
          JOIN (SELECT doc_id, i AS j, g FROM pos) b
            ON b.doc_id = tp.doc_id_b AND b.g = a.g),
        runs AS (
          SELECT doc_id_a, doc_id_b, jaccard_sim, d, i,
                 i - ROW_NUMBER() OVER (PARTITION BY doc_id_a, doc_id_b, d
                   ORDER BY i) AS grp
          FROM pts),
        rl AS (
          SELECT doc_id_a, doc_id_b, jaccard_sim, d, grp, COUNT(*) AS run
          FROM runs GROUP BY 1, 2, 3, 4, 5)
        SELECT doc_id_a, doc_id_b, jaccard_sim,
               CAST(SUM(run) AS BIGINT) AS n_shared_positions,
               CAST(MAX(run) + 2 AS BIGINT) AS longest_span_tokens
        FROM rl
        GROUP BY 1, 2, 3
        ORDER BY doc_id_a, doc_id_b""")),

    QueryDef(
      "q168_dedup_threshold_curve",
      (s, dir) => {
        // Threshold-tuning table for near-dup removal: how many pairs
        // fire and how many docs get flagged at every candidate
        // Jaccard threshold (0.1…0.9) — the sensitivity sweep a
        // curation owner reads before fixing the q65 production
        // threshold. Exact pairs compute ONCE at the floor (0.1);
        // the 9 thresholds explode from a literal over the
        // OUTPUT-SCALE pair set (never the corpus), so the sweep
        // costs one pair scan, not nine. Flagged docs are the
        // DISTINCT union of both pair sides per threshold.
        val pairs = truthPairs(s, dir)._1
        val swept = pairs
          .select(col("doc_id_a"), col("doc_id_b"), col("jaccard_sim"),
            explode(expr("sequence(100L, 900L, 100L)")).as("thr_permille"))
          .filter(col("jaccard_sim") >= col("thr_permille") / lit(1000.0))
        val np = swept.groupBy(col("thr_permille"))
          .agg(count(lit(1)).as("n_pairs"))
        val nd = swept
          .select(col("thr_permille"),
            explode(array(col("doc_id_a"), col("doc_id_b"))).as("doc_id"))
          .groupBy(col("thr_permille"))
          .agg(count_distinct(col("doc_id")).as("n_docs_flagged"))
        np.join(nd, Seq("thr_permille"))
          .orderBy(col("thr_permille"))
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
          FROM documents),
        sh AS (
          SELECT doc_id, list_distinct(list_transform(range(1, len(t)-1),
                   i -> t[i]||' '||t[i+1]||' '||t[i+2])) AS s
          FROM toks WHERE len(t) >= 3),
        sz AS (SELECT doc_id, len(s) AS n FROM sh),
        ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
        inter AS (
          SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, count(*) AS i
          FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        p AS (
          SELECT doc_id_a, doc_id_b,
                 ROUND(CAST(i AS DOUBLE) / CAST(na.n + nb.n - i AS DOUBLE), 6)
                   AS jaccard_sim
          FROM inter JOIN sz na ON na.doc_id = inter.doc_id_a
                     JOIN sz nb ON nb.doc_id = inter.doc_id_b
          WHERE ROUND(CAST(i AS DOUBLE) / CAST(na.n + nb.n - i AS DOUBLE), 6) >= 0.1),
        thr AS (SELECT unnest(range(100, 1000, 100)) AS thr_permille),
        swept AS (
          SELECT thr_permille, doc_id_a, doc_id_b
          FROM p JOIN thr ON p.jaccard_sim >= thr.thr_permille / 1000.0),
        np AS (SELECT thr_permille, CAST(COUNT(*) AS BIGINT) AS n_pairs
               FROM swept GROUP BY 1),
        nd AS (
          SELECT thr_permille, CAST(COUNT(DISTINCT doc_id) AS BIGINT)
                   AS n_docs_flagged
          FROM (SELECT thr_permille, doc_id_a AS doc_id FROM swept
                UNION ALL
                SELECT thr_permille, doc_id_b FROM swept)
          GROUP BY 1)
        SELECT CAST(np.thr_permille AS BIGINT) AS thr_permille,
               np.n_pairs, nd.n_docs_flagged
        FROM np JOIN nd USING (thr_permille)
        ORDER BY thr_permille""")),

    QueryDef(
      "q170_source_copy_matrix",
      (s, dir) => {
        // Provenance matrix: which SOURCES share near-duplicate
        // documents (who scrapes whom) — q147's shard-gram view at
        // whole-document granularity. Exact pairs (≥0.3) tag both
        // sides with their source via two broadcast-sized dimension
        // joins; the unordered source pair (least/greatest) keys one
        // output-scale agg. Mean similarity 4dp-rounded.
        val docs = Tables.load(s, dir, "documents")
        val src = docs.select(col("doc_id"), col("source"))
        truthPairs(s, dir)._1.filter(col("jaccard_sim") >= 0.3)
          .join(src.toDF("doc_id_a", "source_a"), Seq("doc_id_a"))
          .join(src.toDF("doc_id_b", "source_b"), Seq("doc_id_b"))
          .select(
            least(col("source_a"), col("source_b")).as("src_lo"),
            greatest(col("source_a"), col("source_b")).as("src_hi"),
            col("jaccard_sim"))
          .groupBy(col("src_lo"), col("src_hi"))
          .agg(count(lit(1)).as("n_pairs"),
            round(avg(col("jaccard_sim")), 4).as("mean_sim"))
          .orderBy(col("src_lo"), col("src_hi"))
      },
      Some("WITH " + TruthPairsBody + """,
        src AS (SELECT doc_id, source FROM documents),
        tagged AS (
          SELECT LEAST(a.source, b.source) AS src_lo,
                 GREATEST(a.source, b.source) AS src_hi,
                 tp.jaccard_sim
          FROM truth_pairs tp
          JOIN src a ON a.doc_id = tp.doc_id_a
          JOIN src b ON b.doc_id = tp.doc_id_b)
        SELECT src_lo, src_hi,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               ROUND(AVG(jaccard_sim), 4) AS mean_sim
        FROM tagged
        GROUP BY 1, 2
        ORDER BY src_lo, src_hi"""))
  )

  /** Shared oracle body for the q86/q151 curation cascade: quality
    * filter → exact dedup (min-doc winner per digest) → near-dup
    * removal via the exact-Jaccard truth set + recursive-CTE closure
    * (an INDEPENDENT algorithm — the engine's LSH path hash-fails
    * here if banding ever loses recall). Callers prepend
    * "WITH RECURSIVE " and append their own final stages.
    */
  private def CurationStagesSql: String = """q AS (
          SELECT doc_id, text,
                 CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok,
                 CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
                   AS DOUBLE) / GREATEST(CAST(length(text) AS DOUBLE), 1.0) AS pr
          FROM documents),
        f AS (
          SELECT doc_id, text FROM q
          WHERE n_tok >= 20 AND n_tok <= 150 AND pr <= 0.05),
        ew AS (
          SELECT MIN(doc_id) AS doc_id FROM f GROUP BY md5(text)),
        s0 AS (SELECT f.doc_id, f.text FROM f JOIN ew USING (doc_id)),
        toks AS (
          SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
          FROM s0),
        sh AS (
          SELECT doc_id, list_distinct(list_transform(range(1, len(t)-1),
                   i -> t[i]||' '||t[i+1]||' '||t[i+2])) AS s
          FROM toks WHERE len(t) >= 3),
        sz AS (SELECT doc_id, len(s) AS n FROM sh),
        ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
        inter AS (
          SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, count(*) AS i
          FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        truth_pairs AS (
          SELECT doc_id_a, doc_id_b
          FROM inter JOIN sz na ON na.doc_id = inter.doc_id_a
                     JOIN sz nb ON nb.doc_id = inter.doc_id_b
          WHERE ROUND(CAST(i AS DOUBLE)/CAST(na.n + nb.n - i AS DOUBLE), 6) >= 0.3),
        edges AS (
          SELECT doc_id_a AS n, doc_id_b AS m FROM truth_pairs
          UNION
          SELECT doc_id_b, doc_id_a FROM truth_pairs),
        reach(n, m) AS (
          SELECT n, m FROM edges
          UNION
          SELECT e.n, r.m FROM edges e JOIN reach r ON r.n = e.m),
        lbl AS (
          SELECT n AS doc_id, LEAST(n, MIN(m)) AS cluster_id
          FROM reach GROUP BY n),
        losers AS (SELECT doc_id FROM lbl WHERE doc_id <> cluster_id),
        s1 AS (
          SELECT s0.doc_id, s0.text FROM s0
          LEFT JOIN losers l ON s0.doc_id = l.doc_id
          WHERE l.doc_id IS NULL)"""

  /** The whole training-data curation workflow as ONE declarative
    * pipeline — quality filter → exact dedup → near-dup removal
    * (LSH + connected components, canonical survivor) → token-budget
    * sequence packing — hash-checked end to end by an oracle that
    * replays every stage in SQL. Each stage is individually proven
    * (q68, q60, q65/q76, q84); this is the composition a real corpus
    * build runs, and the demonstration that the stages stay
    * declarative enough for Catalyst to plan as one DAG (map-side
    * filters → two hash-agg shuffles → bucketed candidate join →
    * per-shard window), with no driver-side orchestration between
    * stages.
    */
  private def curationPipeline: QueryDef = QueryDef(
    "q86_curation_pipeline",
    (s, dir) => {
      import graft.ext.{Dedup, Packing, TextAnalysis}
      val docs = Tables.load(s, dir, "documents")
      // 1. rule-based quality filter
      val kept = docs.filter(TextAnalysis.qualityFilter(col("text"),
        minTokens = 20, maxTokens = 150, maxPunctRatio = 0.05) === "keep")
      // 2. exact dedup: first writer (min doc_id) per content digest,
      // as ONE digest-partitioned window over the filtered stream
      // (r22, guide §2.4). The groupBy(md5)+min + left-semi-join-back
      // shape shuffled three times (digest agg, then BOTH join sides
      // by doc_id — the winner set is ~every distinct doc, far past
      // any broadcast bet at corpus scale); the window keeps the row
      // whose doc_id IS its group's min in the digest exchange the
      // dedup fundamentally needs. Identical rows: doc_id is unique,
      // so "doc_id ∈ {min per group}" ≡ "doc_id = min over own group".
      // (Window skew note: a group = one exact text's copies, the mass
      // duplication exact dedup exists to remove — the buffer is
      // spillable and the alternative shapes shuffle the same rows.)
      val exactW = org.apache.spark.sql.expressions.Window
        .partitionBy(md5(col("text")))
      // disk-staged: the survivor set feeds BOTH the LSH pair pipeline
      // and the final packing pass (no cross-branch plan reuse)
      val s0 = graft.Staging.checkpoint(
        kept.withColumn("min_id", min(col("doc_id")).over(exactW))
          .filter(col("doc_id") === col("min_id")).drop("min_id"),
        "cur-s0")
      // 3. near-dup removal: keep each cluster's canonical (min) doc
      // (candidate bound threaded by value — see minhashDupPairsCounted)
      val (pairs, nCand) =
        Dedup.minhashDupPairsCounted(s0, "doc_id", "text", threshold = 0.3)
      val losers = Dedup.connectedComponents(pairs,
          pairBound = Some(nCand))
        .filter(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id"))
      val s1 = s0.join(losers, Seq("doc_id"), "left_anti")
      // 4. pack survivors into 2000-token shard bins
      val sized = s1.select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        .withColumn("shard", pmod(col("doc_id"), lit(4L)))
      Packing.packByTokenBudget(sized, col("shard"), col("doc_id"),
          col("n_tokens"), budget = 2000L)
        .groupBy(col("shard"), col("bin_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("bin_tokens"),
          min(col("doc_id")).as("first_doc"))
        // live sort: bin-scale output over an already-staged s0/s1 —
        // live-vs-staged A/B put staged at 1.06x (1x) / 0.98 (x10), a wash
        .orderBy(col("shard"), col("bin_id"))
    },
    Some("WITH RECURSIVE " + CurationStagesSql + """,
        sized AS (
          SELECT doc_id,
                 CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
                 doc_id % 4 AS shard
          FROM s1),
        runs AS (
          SELECT doc_id, n_tokens, shard,
                 CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS run_before
          FROM sized),
        bins AS (
          SELECT shard, doc_id, n_tokens,
                 CAST(floor(run_before / 2000.0) AS BIGINT) AS bin_id
          FROM runs)
        SELECT shard, bin_id,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
               MIN(doc_id) AS first_doc
        FROM bins
        GROUP BY shard, bin_id
        ORDER BY shard, bin_id"""),
    headline = true)

  /** Per-stage attrition accounting for the q86 cascade — the
    * observability table a corpus build publishes next to its output
    * (how many documents each successive gate removed, in cascade
    * order). Stage recomputation reuses the exact q86 stage
    * expressions; all four counts are 1-row aggregates unioned and
    * differenced through a 4-row window, so the query's cost is the
    * cascade itself, not the accounting.
    */
  private def curationFunnel: QueryDef = QueryDef(
    "q151_curation_funnel",
    (s, dir) => {
      import graft.ext.{Dedup, TextAnalysis}
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.load(s, dir, "documents")
      val kept = docs.filter(TextAnalysis.qualityFilter(col("text"),
        minTokens = 20, maxTokens = 150, maxPunctRatio = 0.05) === "keep")
      // same digest-window winner selection as q86 (r22) — see the
      // equivalence note there
      val exactW = Window.partitionBy(md5(col("text")))
      val s0 = graft.Staging.checkpoint(
        kept.withColumn("min_id", min(col("doc_id")).over(exactW))
          .filter(col("doc_id") === col("min_id")).drop("min_id"),
        "fun-s0")
      val (pairs, nCand) =
        Dedup.minhashDupPairsCounted(s0, "doc_id", "text", threshold = 0.3)
      val losers = Dedup.connectedComponents(pairs,
          pairBound = Some(nCand))
        .filter(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id"))
      val s1 = s0.join(losers, Seq("doc_id"), "left_anti")
      def stage(label: String, df: org.apache.spark.sql.DataFrame) =
        df.agg(count(lit(1)).as("n_out"))
          .select(lit(label).as("stage"), col("n_out"))
      // 4-row accounting frame: single-partition window is the point
      val w = Window.orderBy(col("stage"))
      stage("0_input", docs)
        .unionByName(stage("1_quality_filter", kept))
        .unionByName(stage("2_exact_dedup", s0))
        .unionByName(stage("3_near_dedup", s1))
        .withColumn("n_in",
          coalesce(lag(col("n_out"), 1).over(w), col("n_out")))
        .withColumn("n_dropped", col("n_in") - col("n_out"))
        .select(col("stage"), col("n_in"), col("n_out"), col("n_dropped"))
        .orderBy(col("stage"))
    },
    Some("WITH RECURSIVE " + CurationStagesSql + """,
        counts AS (
          SELECT '0_input' AS stage,
                 (SELECT COUNT(*) FROM documents) AS n_out
          UNION ALL SELECT '1_quality_filter', (SELECT COUNT(*) FROM f)
          UNION ALL SELECT '2_exact_dedup', (SELECT COUNT(*) FROM s0)
          UNION ALL SELECT '3_near_dedup', (SELECT COUNT(*) FROM s1))
        SELECT stage,
               CAST(COALESCE(LAG(n_out) OVER (ORDER BY stage), n_out) AS BIGINT) AS n_in,
               CAST(n_out AS BIGINT) AS n_out,
               CAST(COALESCE(LAG(n_out) OVER (ORDER BY stage), n_out) - n_out AS BIGINT) AS n_dropped
        FROM counts
        ORDER BY stage"""))

  /** Shared oracle prelude: 60-bit md5 SimHash near-dup pairs at
    * hamming ≤ 3 via pigeonhole blocking (exact recall).
    */
  private def SimhashPairsBody: String = """
        tk AS (
          SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
          FROM documents),
        h AS (
          SELECT doc_id, CAST(('0x'||substr(md5(tok),1,15)) AS BIGINT) AS h
          FROM tk),
        bits AS (
          SELECT doc_id, j,
                 CAST(SUM(CASE WHEN (h >> CAST(j AS INTEGER)) & 1 = 1
                               THEN 1 ELSE 0 END) AS BIGINT) AS ones,
                 COUNT(*) AS n
          FROM h CROSS JOIN range(60) r(j)
          GROUP BY doc_id, j),
        fp AS (
          SELECT doc_id,
                 CAST(SUM(CASE WHEN 2*ones > n
                               THEN (CAST(1 AS BIGINT) << CAST(j AS INTEGER))
                               ELSE 0 END) AS BIGINT) AS simhash
          FROM bits GROUP BY doc_id),
        ch AS (
          SELECT doc_id, simhash, c.j AS chunk_id,
                 (simhash >> CAST(c.j*15 AS INTEGER)) & 32767 AS chunk_value
          FROM fp CROSS JOIN range(4) c(j)),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
                 a.simhash AS sim_a, b.simhash AS sim_b
          FROM ch a JOIN ch b
            ON a.chunk_id = b.chunk_id AND a.chunk_value = b.chunk_value
               AND a.doc_id < b.doc_id),
        simhash_pairs AS (
          SELECT doc_id_a, doc_id_b,
                 CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
          FROM cand
          WHERE bit_count(xor(sim_a, sim_b)) <= 3)"""

  /** Shared oracle prelude: the exact 3-gram Jaccard truth pairs at
    * threshold 0.3 over the full corpus, as an inverted-index join
    * (mirrors the engine's shingle/tokenize semantics op for op).
    */
  private def TruthPairsBody: String = """
        toks AS (
          SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
          FROM documents),
        sh AS (
          SELECT doc_id, list_distinct(list_transform(range(1, len(t)-1),
                   i -> t[i]||' '||t[i+1]||' '||t[i+2])) AS s
          FROM toks WHERE len(t) >= 3),
        sz AS (SELECT doc_id, len(s) AS n FROM sh),
        ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
        inter AS (
          SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, count(*) AS i
          FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        truth_pairs AS (
          SELECT doc_id_a, doc_id_b,
                 ROUND(CAST(i AS DOUBLE)/CAST(na.n + nb.n - i AS DOUBLE), 6)
                   AS jaccard_sim
          FROM inter JOIN sz na ON na.doc_id = inter.doc_id_a
                     JOIN sz nb ON nb.doc_id = inter.doc_id_b
          WHERE ROUND(CAST(i AS DOUBLE)/CAST(na.n + nb.n - i AS DOUBLE), 6) >= 0.3)"""
}
