package graft.queries

import org.apache.spark.sql.functions._
import graft.ext.{Decontam, Sampling}

/** Corpus-curation operators beyond dedup: benchmark decontamination
  * (train/eval n-gram leakage sweep) and deterministic domain-mixture
  * resampling. Both fully DuckDB-hash-checked — gram construction and
  * the md5-gated keep decision replay exactly in SQL.
  */
object CurationQueries {

  /** Target corpus mixture for q90 (parts per million): English-heavy
    * with the four minority languages equal — chosen to force real
    * downsampling against the corpus' natural skew.
    */
  private val MixturePpm: Map[String, Long] = Map(
    "en" -> 400000L, "de" -> 150000L, "zh" -> 150000L,
    "fr" -> 150000L, "es" -> 150000L)

  /** Unsorted q89 core — also the PlanSpec target (the spec pins the
    * operator shape without the presentation sort).
    *
    * Deterministic eval split: every 20th doc plays the benchmark
    * set; the rest is the training corpus to sweep. 4-grams are
    * long enough to be meaningful on this short-doc corpus while
    * producing a non-trivial overlap report.
    */
  def q89Core(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val evalSet = docs.filter(pmod(col("doc_id"), lit(20)) === 0)
    val train = docs.filter(pmod(col("doc_id"), lit(20)) =!= 0)
    Decontam.contaminationPairs(train, evalSet, "doc_id", "text", n = 4)
  }

  /** Unsorted q140 core (PlanSpec target, same contract as
    * [[q89Core]]): q89's sweep through the LARGE-EVAL-SET path — a
    * Bloom filter of the eval grams prefilters the train side
    * map-side, then a forced shuffle join verifies exactly.
    */
  def q140Core(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val evalSet = docs.filter(pmod(col("doc_id"), lit(20)) === 0)
    val train = docs.filter(pmod(col("doc_id"), lit(20)) =!= 0)
    Decontam.bloomContaminationPairs(train, evalSet, "doc_id", "text", n = 4)
  }

  val all: Seq[QueryDef] = Seq(

    QueryDef(
      "q89_decontamination",
      (s, dir) =>
        // live sort: live-vs-staged A/B put the staged variant at 1.27x
        // (1x) / 1.06 (x10) — the round-trip loses here
        q89Core(s, dir).orderBy(col("train_id"), col("eval_id")),
      Some("""
        WITH toks AS (
          SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
          FROM documents),
        grams AS (
          SELECT doc_id,
            list_distinct(list_transform(range(1, len(t) - 2),
              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))
              AS g
          FROM toks),
        ex AS (SELECT doc_id, unnest(g) AS gram FROM grams),
        ev AS (SELECT doc_id AS eval_id, gram FROM ex WHERE doc_id % 20 = 0),
        tr AS (SELECT doc_id AS train_id, gram FROM ex WHERE doc_id % 20 != 0)
        SELECT train_id, eval_id, COUNT(DISTINCT gram) AS n_shared_grams
        FROM tr JOIN ev USING (gram)
        GROUP BY train_id, eval_id
        ORDER BY train_id, eval_id""")),

    QueryDef(
      "q90_domain_mixture",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val totals = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_total"))
        val kept = Sampling.mixtureResample(docs, "lang", "doc_id", MixturePpm)
          .groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
        totals.join(kept, Seq("lang"), "left")
          .select(col("lang"), col("n_total"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"))
          .orderBy(col("lang"))
      },
      Some("""
        WITH c AS (SELECT lang, COUNT(*) AS n_stratum FROM documents GROUP BY 1),
        w(lang, w_ppm) AS (VALUES ('en', 400000), ('de', 150000),
                                  ('zh', 150000), ('fr', 150000),
                                  ('es', 150000)),
        cw AS (SELECT c.lang, n_stratum, w_ppm FROM c JOIN w USING (lang)),
        nt AS (SELECT MIN(n_stratum * 1000000 // w_ppm) AS n_target_total
               FROM cw),
        g AS (SELECT lang, n_stratum,
                     w_ppm * n_target_total // 1000000 AS n_target
              FROM cw, nt),
        k AS (SELECT d.lang,
                CASE WHEN (CAST(('0x'||substr(md5(CAST(d.doc_id AS VARCHAR)),
                             1,15)) AS BIGINT) % 1000000) * g.n_stratum
                       < g.n_target * 1000000
                     THEN 1 ELSE 0 END AS kept
              FROM documents d JOIN g USING (lang))
        SELECT lang, COUNT(*) AS n_total, CAST(SUM(kept) AS BIGINT) AS n_kept
        FROM k GROUP BY lang ORDER BY lang""")),

    QueryDef(
      "q97_group_sample",
      (s, dir) => {
        // fixed-size per-language inspection sample (the "eyeball 20
        // docs per stratum" QA step), deterministic via the md5-ranked
        // reservoir — membership replays exactly in SQL.
        val docs = Tables.load(s, dir, "documents")
        Sampling.groupHashSample(docs, "lang", "doc_id", k = 20)
          .select(col("lang"), col("sample_rank"), col("doc_id"))
          .orderBy(col("lang"), col("sample_rank"))
      },
      Some("""
        WITH h AS (
          SELECT lang, doc_id,
            CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
              AS h60
          FROM documents),
        r AS (
          SELECT lang, doc_id,
            ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h60, doc_id)
              AS sample_rank
          FROM h)
        SELECT lang, sample_rank, doc_id
        FROM r WHERE sample_rank <= 20
        ORDER BY lang, sample_rank""")),

    QueryDef(
      "q100_source_report",
      (s, dir) => {
        // per-source (domain) curation report: exact-dup exposure and
        // token share — the numbers that drive keep/drop/reweight
        // decisions per domain. Shape: one hash join on the text
        // digest (dup groups), one per-source aggregate, a 1-row
        // total crossJoin; the corpus never shuffles twice.
        val docs = Tables.load(s, dir, "documents")
        val base = docs.select(
          col("source"), md5(col("text")).as("h"),
          graft.ext.TextAnalysis.tokenCount(col("text")).as("nt"))
        val dupGroups = base.groupBy(col("h"))
          .agg(count(lit(1)).as("n_copies"))
        val perSource = base.join(dupGroups, Seq("h"))
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("n_copies") > 1, 1L).otherwise(0L)).as("n_dup_docs"),
            sum(col("nt")).as("n_tokens"))
        val total = perSource.agg(sum(col("n_tokens")).as("tok_total"))
        perSource.crossJoin(broadcast(total))
          .select(
            col("source"), col("n_docs"), col("n_dup_docs"),
            round(col("n_dup_docs").cast("double")
              / col("n_docs").cast("double"), 4).as("dup_frac"),
            col("n_tokens"),
            expr("n_tokens * 1000000 DIV tok_total").as("token_share_ppm"))
          .orderBy(col("source"))
      },
      Some("""
        WITH base AS (
          SELECT source, md5(text) AS h,
            CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS nt
          FROM documents),
        dg AS (SELECT h, COUNT(*) AS n_copies FROM base GROUP BY h),
        ps AS (
          SELECT source,
                 COUNT(*) AS n_docs,
                 CAST(SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup_docs,
                 CAST(SUM(nt) AS BIGINT) AS n_tokens
          FROM base JOIN dg USING (h)
          GROUP BY source),
        t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tok_total FROM ps)
        SELECT source, n_docs, n_dup_docs,
               ROUND(CAST(n_dup_docs AS DOUBLE) / n_docs, 4) AS dup_frac,
               n_tokens,
               n_tokens * 1000000 // tok_total AS token_share_ppm
        FROM ps CROSS JOIN t
        ORDER BY source""")),

    QueryDef(
      "q101_source_outlier_trim",
      (s, dir) => {
        // per-source Tukey fences over token counts (exact linear-
        // interpolated quartiles, identical in both engines): the
        // length-outlier trim step of domain curation. Quartiles are
        // one per-source aggregate; the fence test re-joins the tiny
        // per-source frame back (broadcast) — map-side over the
        // corpus.
        val docs = Tables.load(s, dir, "documents")
        val base = docs.select(col("source"),
          graft.ext.TextAnalysis.tokenCount(col("text")).as("nt"))
        val fences = base.groupBy(col("source")).agg(
          expr("percentile(nt, 0.25)").as("q1"),
          expr("percentile(nt, 0.5)").as("med"),
          expr("percentile(nt, 0.75)").as("q3"))
        base.join(broadcast(fences), Seq("source"))
          .withColumn("lo", col("q1") - (col("q3") - col("q1")) * 1.5)
          .withColumn("hi", col("q3") + (col("q3") - col("q1")) * 1.5)
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("nt") < col("lo") || col("nt") > col("hi"), 1L)
              .otherwise(0L)).as("n_outliers"),
            round(first(col("med")), 2).as("median_tokens"))
          .orderBy(col("source"))
      },
      Some("""
        WITH base AS (
          SELECT source,
            CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS nt
          FROM documents),
        f AS (
          SELECT source,
                 quantile_cont(nt, 0.25) AS q1,
                 quantile_cont(nt, 0.5) AS med,
                 quantile_cont(nt, 0.75) AS q3
          FROM base GROUP BY source)
        SELECT base.source,
               COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN nt < q1 - (q3 - q1) * 1.5
                              OR nt > q3 + (q3 - q1) * 1.5
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
               ROUND(ANY_VALUE(med), 2) AS median_tokens
        FROM base JOIN f USING (source)
        GROUP BY base.source
        ORDER BY source""")),

    QueryDef(
      "q104_corpus_shuffle",
      (s, dir) => {
        // deterministic corpus shuffle into training shards — the
        // last step before a corpus ships: every doc gets a shard
        // (content-hash bucket) and a pseudo-random position within
        // it (md5 of a salted id), so the training order is fully
        // reproducible across runs/engines and re-shuffling with a
        // different salt is one constant away. One shuffle on the
        // shard key; position ranks parallelize per shard.
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.load(s, dir, "documents")
        val h = graft.ext.Dedup.md5Hash60(col("doc_id").cast("string"))
        val pos = graft.ext.Dedup.md5Hash60(
          concat(lit("shuffle1:"), col("doc_id").cast("string")))
        val w = Window.partitionBy(col("shard_id"))
          .orderBy(col("posh"), col("doc_id"))
        docs
          .select(col("doc_id"), pmod(h, lit(8L)).as("shard_id"), pos.as("posh"))
          .withColumn("pos_in_shard", row_number().over(w).cast("bigint"))
          .select(col("shard_id"), col("pos_in_shard"), col("doc_id"))
          .orderBy(col("shard_id"), col("pos_in_shard"))
      },
      Some("""
        WITH h AS (
          SELECT doc_id,
            CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
              % 8 AS shard_id,
            CAST(('0x' || substr(md5('shuffle1:' || CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS posh
          FROM documents)
        SELECT shard_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY shard_id
                 ORDER BY posh, doc_id) AS BIGINT) AS pos_in_shard,
               doc_id
        FROM h
        ORDER BY shard_id, pos_in_shard""")),

    QueryDef(
      "q147_shard_overlap",
      (s, dir) => {
        // cross-shard contamination matrix at N-GRAM granularity:
        // after the q104-style deterministic shard assignment, how
        // much distinct 8-gram mass each shard PAIR shares — the
        // repeated-template phrases (q122's signal) that leak across
        // "independent" training shards and make shard-held-out evals
        // optimistic. (Whole-doc digests would be the cheaper check
        // but are vacuous on a corpus whose duplicates are near-dups,
        // not byte-identical.) Shape: shingles form map-side, ONE
        // shuffle into distinct (shard, gram), then a gram equi-self-
        // join whose fan-out is bounded by the shard count per gram
        // (≤ 8 rows/gram post-distinct, ≤ 28 pairs), then an
        // output-scale agg. No pair explosion at any corpus size; at
        // 100 TB the gram column carries a 64-bit digest instead of
        // the phrase.
        val docs = Tables.load(s, dir, "documents")
        val d = graft.ext.Dedup.explodedShingles(docs, "doc_id", "text", 8)
          .select(
            pmod(graft.ext.Dedup.md5Hash60(col("doc_id").cast("string")),
              lit(8L)).as("shard_id"),
            col("s").as("gram")).distinct()
        val a = d.select(col("shard_id").as("shard_a"), col("gram"))
        val b = d.select(col("shard_id").as("shard_b"), col("gram"))
        a.join(b, Seq("gram"))
          .filter(col("shard_a") < col("shard_b"))
          .groupBy(col("shard_a"), col("shard_b"))
          .agg(count_distinct(col("gram")).as("shared_ngrams"))
          .orderBy(col("shard_a"), col("shard_b"))
      },
      Some("""
        WITH t AS (
          SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
          FROM documents),
        d AS (
          SELECT DISTINCT
            CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
              % 8 AS shard_id,
            array_to_string(list_slice(toks, i + 1, i + 8), ' ') AS gram
          FROM (SELECT doc_id, toks, CAST(unnest(range(len(toks) - 7)) AS BIGINT) AS i
                FROM t WHERE len(toks) >= 8))
        SELECT a.shard_id AS shard_a, b.shard_id AS shard_b,
               CAST(COUNT(DISTINCT a.gram) AS BIGINT) AS shared_ngrams
        FROM d a JOIN d b ON a.gram = b.gram AND a.shard_id < b.shard_id
        GROUP BY 1, 2
        ORDER BY 1, 2""")),

    QueryDef(
      "q150_mixture_budget",
      (s, dir) => {
        // mixture construction to a per-domain TOKEN budget (the
        // Pile/Dolma-style step after q90's mixture audit): each
        // language gets an integer token budget; docs fill it in
        // deterministic md5-shuffled order (the q104 convention) until
        // the running total crosses the budget — the crossing doc is
        // kept, everything after is cut. Per-doc verdict out, so the
        // hash gate checks every position + running sum, not just the
        // summary. Shape: ONE shuffle into the per-lang window; the
        // running sum and the keep flag are integer-exact.
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.load(s, dir, "documents")
        val budget = when(col("lang") === "en", lit(24000L))
          .otherwise(lit(9000L))
        val posh = graft.ext.Dedup.md5Hash60(
          concat(lit("mix1:"), col("doc_id").cast("string")))
        val w = Window.partitionBy(col("lang"))
          .orderBy(col("posh"), col("doc_id"))
        docs
          .select(col("doc_id"), col("lang"),
            graft.ext.TextAnalysis.tokenCount(col("text")).as("n_tokens"),
            posh.as("posh"), budget.as("budget"))
          .withColumn("pos_in_lang", row_number().over(w).cast("bigint"))
          .withColumn("cum_tokens",
            sum(col("n_tokens")).over(
              w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("kept",
            ((col("cum_tokens") - col("n_tokens")) < col("budget"))
              .cast("int"))
          .select(col("lang"), col("pos_in_lang"), col("doc_id"),
            col("n_tokens"), col("cum_tokens"), col("kept"))
          .orderBy(col("lang"), col("pos_in_lang"))
      },
      Some("""
        WITH h AS (
          SELECT doc_id, lang,
            CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
            CAST(('0x' || substr(md5('mix1:' || CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS posh,
            CASE WHEN lang = 'en' THEN 24000 ELSE 9000 END AS budget
          FROM documents),
        r AS (
          SELECT lang, doc_id, n_tokens, budget,
            CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY posh, doc_id)
              AS BIGINT) AS pos_in_lang,
            CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY posh, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_tokens
          FROM h)
        SELECT lang, pos_in_lang, doc_id, n_tokens, cum_tokens,
               CASE WHEN cum_tokens - n_tokens < budget THEN 1 ELSE 0 END AS kept
        FROM r
        ORDER BY lang, pos_in_lang""")),

    QueryDef(
      "q105_corpus_datasheet",
      (s, dir) => {
        // one-row corpus datasheet — the numbers a dataset card
        // reports: size, token volume, exact-dup exposure, source
        // spread, and the Shannon entropy of the language mix (how
        // diverse the corpus actually is). All 1-row aggregates
        // crossJoined (scalar broadcasts); the corpus is scanned
        // twice (digest pass + lang pass), never paired or collected.
        val docs = Tables.load(s, dir, "documents")
        val base = docs.select(col("lang"), col("source"),
          md5(col("text")).as("h"),
          graft.ext.TextAnalysis.tokenCount(col("text")).as("nt"))
        val dup = base.groupBy(col("h")).agg(count(lit(1)).as("nc"))
        val counts = base.join(dup, Seq("h")).agg(
          count(lit(1)).as("n_docs"),
          sum(col("nt")).as("n_tokens"),
          sum(when(col("nc") > 1, 1L).otherwise(0L)).as("n_dup_docs"),
          count_distinct(col("source")).as("n_sources"))
        val langs = docs.groupBy(col("lang")).agg(count(lit(1)).as("nl"))
        // per-lang entropy term in 1e-12 fixed-point BITS (the q145
        // convention): −p·ln(p)/ln2 with ln2 an embedded literal —
        // Spark's log(base, x) = ln x / ln base vs DuckDB's native
        // log2 was a latent cross-engine ulp divergence under the
        // hash gate; the long sum (≤ log2(#langs)·1e12) is exact
        val entropy = langs.crossJoin(broadcast(
            docs.agg(count(lit(1)).as("nd"))))
          .withColumn("term_fp", floor(
            -(col("nl").cast("double") / col("nd").cast("double"))
              * log(col("nl").cast("double") / col("nd").cast("double"))
              / lit(0.6931471805599453) * lit(1e12d)).cast("long"))
          .agg(round(sum(col("term_fp")).cast("double") / lit(1e12d), 4)
            .as("lang_entropy_bits"))
        counts.crossJoin(entropy)
      },
      Some("""
        WITH base AS (
          SELECT lang, source, md5(text) AS h,
            CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS nt
          FROM documents),
        dup AS (SELECT h, COUNT(*) AS nc FROM base GROUP BY h),
        counts AS (
          SELECT COUNT(*) AS n_docs,
                 CAST(SUM(nt) AS BIGINT) AS n_tokens,
                 CAST(SUM(CASE WHEN nc > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup_docs,
                 CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
          FROM base JOIN dup USING (h)),
        l AS (SELECT lang, COUNT(*) AS nl FROM documents GROUP BY lang),
        nd AS (SELECT COUNT(*) AS nd FROM documents),
        e AS (
          SELECT ROUND(CAST(SUM(CAST(FLOOR(
              -(CAST(nl AS DOUBLE) / nd) * LN(CAST(nl AS DOUBLE) / nd)
                / 0.6931471805599453 * 1e12) AS BIGINT)) AS DOUBLE) / 1e12, 4)
            AS lang_entropy_bits
          FROM l CROSS JOIN nd)
        SELECT * FROM counts CROSS JOIN e""")),

    QueryDef(
      "q140_bloom_decontam",
      (s, dir) =>
        // the plan for the regime where the eval index outgrows
        // broadcast ([[q140Core]]). Output (and therefore oracle) is
        // IDENTICAL to q89 by construction: the bloom has no false
        // negatives and the exact join kills its false positives, so
        // any sketch bug that drops a true pair hash-fails this gate.
        q140Core(s, dir).orderBy(col("train_id"), col("eval_id")),
      Some("""
        WITH toks AS (
          SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
          FROM documents),
        grams AS (
          SELECT doc_id,
            list_distinct(list_transform(range(1, len(t) - 2),
              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))
              AS g
          FROM toks),
        ex AS (SELECT doc_id, unnest(g) AS gram FROM grams),
        ev AS (SELECT doc_id AS eval_id, gram FROM ex WHERE doc_id % 20 = 0),
        tr AS (SELECT doc_id AS train_id, gram FROM ex WHERE doc_id % 20 != 0)
        SELECT train_id, eval_id, COUNT(DISTINCT gram) AS n_shared_grams
        FROM tr JOIN ev USING (gram)
        GROUP BY train_id, eval_id
        ORDER BY train_id, eval_id""")),

    QueryDef(
      "q162_curriculum_order",
      (s, dir) => {
        // The epoch order file a training loader consumes: every doc
        // gets a GLOBAL position — quality band first (easy→hard
        // curriculum over q157's score bands), deterministic md5
        // shuffle within a band — WITHOUT a global sort. Same two-pass
        // range-partitioned mechanism as q139 (repartitionByRange on
        // the full sort key, FROZEN via Staging.checkpoint because
        // spark_partition_id is per-run; local row_number windows per
        // pid; ≤32 partition counts fold into offsets) — but with
        // row COUNTS instead of revenue sums, so the assembly is
        // exact integer arithmetic: no rounding argument needed at
        // all. No Exchange SinglePartition anywhere (PlanSpec).
        // FLOOR before the bigint cast on the band: Spark casts
        // double→bigint by truncation, DuckDB by rounding.
        import org.apache.spark.sql.expressions.Window
        val scored = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            graft.ext.TextAnalysis.qualityScore(col("text")).as("score"))
          .select(col("doc_id"),
            expr("LEAST(CAST(FLOOR(score * 1000) AS BIGINT) DIV 100, 9L)")
              .as("band"),
            md5(concat(lit("cur:"), col("doc_id").cast("string")))
              .as("shuffle_key"))
        graft.TwoPass.globalRowNumber(scored,
            Seq(col("band"), col("shuffle_key"), col("doc_id")),
            "global_order", tag = "curriculum-ranged")
          .select(col("doc_id"), col("band"), col("global_order"))
          .orderBy(col("global_order"))
      },
      Some(s"""
        WITH sc AS (
          SELECT doc_id,
                 ROUND(${TextQueries.QualityScoreSql}, 4) AS score
          FROM documents),
        k AS (
          SELECT doc_id,
                 LEAST(CAST(FLOOR(score * 1000) AS BIGINT) // 100, 9) AS band,
                 md5('cur:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
          FROM sc)
        SELECT doc_id, band,
               ROW_NUMBER() OVER (ORDER BY band, shuffle_key, doc_id)
                 AS global_order
        FROM k
        ORDER BY global_order""")),

    QueryDef(
      "q164_shard_manifest",
      (s, dir) => {
        // The loader's INDEX artifact over q104's shard layout: for
        // every doc, its shard, position, token count, and the
        // CUMULATIVE token offset where it starts inside the shard —
        // what a sequence-packing reader seeks by without scanning
        // predecessors. Same content-hash shard + salted-md5 order as
        // q104 (one layout, two views). Both windows (position rank,
        // offset cumsum) share ONE shard-key exchange and sort —
        // PlanSpec holds the plan to a single data shuffle.
        import org.apache.spark.sql.expressions.Window
        val h = graft.ext.Dedup.md5Hash60(col("doc_id").cast("string"))
        val pos = graft.ext.Dedup.md5Hash60(
          concat(lit("shuffle1:"), col("doc_id").cast("string")))
        val w = Window.partitionBy(col("shard_id"))
          .orderBy(col("posh"), col("doc_id"))
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), pmod(h, lit(8L)).as("shard_id"),
            pos.as("posh"),
            graft.ext.TextAnalysis.tokenCount(col("text")).as("n_tokens"))
          .withColumn("pos_in_shard", row_number().over(w).cast("bigint"))
          .withColumn("token_offset", coalesce(
            sum(col("n_tokens")).over(
              w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
            .cast("bigint"))
          .select(col("shard_id"), col("pos_in_shard"), col("doc_id"),
            col("n_tokens"), col("token_offset"))
          .orderBy(col("shard_id"), col("pos_in_shard"))
      },
      Some("""
        WITH h AS (
          SELECT doc_id,
            CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
              % 8 AS shard_id,
            CAST(('0x' || substr(md5('shuffle1:' || CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS posh,
            CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
              AS n_tokens
          FROM documents)
        SELECT shard_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY shard_id
                 ORDER BY posh, doc_id) AS BIGINT) AS pos_in_shard,
               doc_id, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard_id
                 ORDER BY posh, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS token_offset
        FROM h
        ORDER BY shard_id, pos_in_shard"""))
  )
}
