package graft.queries

import org.apache.spark.sql.functions._
import graft.ext.Similarity

/** ANN / similarity search over `embeddings` (graft.ext.Similarity).
  * All five queries are DuckDB-hash-checked: the LSH/IVF variants
  * embed their seeded ±1 hyperplane constants into the oracle SQL, so
  * bucketing, probe ranking, and exact re-rank replay bit for bit
  * (sequential-double dot products are identical in both engines).
  */
object SimilarityQueries {

  val all: Seq[QueryDef] = Seq(

    QueryDef(
      "q70_knn_bruteforce",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        Similarity.bruteForceKnn(emb, emb.filter(col("vec_id") < 10), k = 5)
          .orderBy(col("q_vec"), col("rn"))
      },
      Some("""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        q AS (SELECT vec_id AS q_vec, v AS qv FROM e WHERE vec_id < 10),
        n AS (SELECT vec_id AS n_vec, v AS nv FROM e),
        p AS (
          SELECT q_vec, n_vec,
            ROUND(list_dot_product(qv, nv)
              / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(nv, nv))), 6) + 0.0
              AS sim_r
          FROM q, n WHERE q_vec <> n_vec),
        r AS (
          SELECT q_vec, n_vec, sim_r,
                 ROW_NUMBER() OVER (PARTITION BY q_vec
                   ORDER BY sim_r DESC, n_vec) AS rn
          FROM p)
        SELECT q_vec, n_vec, sim_r, rn
        FROM r WHERE rn <= 5
        ORDER BY q_vec, rn"""),
      headline = true),

    QueryDef(
      "q71_neardup_cosine",
      (s, dir) => {
        // exact cosine near-dup over a BOUNDED probe slice: the probe
        // side (vec_id < 100) broadcasts, the corpus side streams —
        // O(|slice|·N) map-side work, no N² cross join, no shuffle of
        // the big side. The unbounded all-pairs form lives only in
        // ScalaTest as the recall ground truth for q72's LSH path.
        graft.functions.GraftFunctions.register(s)
        val e = Tables.load(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding").as("v"))
        val a = e.filter(col("vec_id") < 100)
          .select(col("vec_id").as("vec_a"), col("v").as("va"))
        val b = e.select(col("vec_id").as("vec_b"), col("v").as("vb"))
        b.crossJoin(broadcast(a))
          .filter(col("vec_a") < col("vec_b"))
          .withColumn("sim_r",
            round(Similarity.cosineNative(col("va"), col("vb")), 6))
          .filter(col("sim_r") >= 0.4)
          .select(col("vec_a"), col("vec_b"), col("sim_r"))
          .orderBy(col("vec_a"), col("vec_b"))
      },
      Some("""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        p AS (
          SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
            ROUND(list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)
              AS sim_r
          FROM e a JOIN e b ON a.vec_id < b.vec_id
          WHERE a.vec_id < 100)
        SELECT vec_a, vec_b, sim_r
        FROM p WHERE sim_r >= 0.4
        ORDER BY vec_a, vec_b""")),

    QueryDef(
      "q73_ann_ivf",
      (s, dir) => {
        // hyperplane coarse quantizer (16 cells, margin-ranked 4-probe):
        // training-free and data-independent, so the WHOLE index+query
        // replays in the DuckDB oracle (plane constants embedded as
        // literals below). The k-means IVF variant lives in
        // Similarity.ivfIndex/ivfKnn with a ScalaTest recall spec —
        // same inverted-file scale shape, data-adapted cells, but its
        // trained centroids make it a rows-only driver check.
        val emb = Tables.load(s, dir, "embeddings")
        Similarity.hyperplaneIvfKnn(emb, emb.filter(col("vec_id") < 10),
          k = 5, nProbe = 4, dim = 64, nPlanes = 4)
          .orderBy(col("q_vec"), col("rn"))
      },
      Some(ivfOracle),
      headline = true),

    QueryDef(
      "q75_label_centroids",
      (s, dir) =>
        // element-wise vector mean per label in long form: posexplode →
        // one hash aggregate on (label, pos). At scale this is the
        // map-side-combinable way to average embeddings (no driver
        // collect, no array-length assumptions).
        Tables.load(s, dir, "embeddings")
          .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
          .groupBy(col("label"), (col("pos") + 1).cast("bigint").as("dim"))
          .agg((round(avg(col("v").cast("double")), 6) + lit(0.0)).as("mean_v"),
            count(lit(1)).as("n_vecs"))
          .orderBy(col("label"), col("dim")),
      Some("""
        WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        x AS (SELECT label, UNNEST(v) AS val,
                     UNNEST(range(1, len(v) + 1)) AS dim
              FROM e)
        SELECT label, CAST(dim AS BIGINT) AS dim,
               ROUND(AVG(val), 6) + 0.0 AS mean_v,
               COUNT(*) AS n_vecs
        FROM x
        GROUP BY label, dim
        ORDER BY label, dim""")),

    QueryDef(
      "q74_dedup_embedding_join",
      (s, dir) => {
        // integration: exact-dup text pairs (digest equi-join) scored
        // by their embedding cosine — dedup and similarity surfaces
        // composing through a documents⋈embeddings join
        graft.functions.GraftFunctions.register(s)
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), md5(col("text")).as("hsh"))
        val emb = Tables.load(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val a = docs.select(col("doc_id").as("doc_id_a"), col("hsh"))
        val b = docs.select(col("doc_id").as("doc_id_b"), col("hsh"))
        a.join(b, Seq("hsh"))
          .filter(col("doc_id_a") < col("doc_id_b"))
          .join(emb.select(col("vec_id").as("doc_id_a"),
            col("embedding").as("ea")), Seq("doc_id_a"))
          .join(emb.select(col("vec_id").as("doc_id_b"),
            col("embedding").as("eb")), Seq("doc_id_b"))
          .select(col("doc_id_a"), col("doc_id_b"),
            Similarity.simR(col("ea"), col("eb")).as("emb_sim"))
          .orderBy(col("doc_id_a"), col("doc_id_b"))
      },
      Some("""
        WITH h AS (SELECT doc_id, md5(text) AS hsh FROM documents),
        p AS (
          SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
          FROM h a JOIN h b ON a.hsh = b.hsh AND a.doc_id < b.doc_id),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        SELECT doc_id_a, doc_id_b,
               ROUND(list_dot_product(ea.v, eb.v)
                 / (sqrt(list_dot_product(ea.v, ea.v))
                    * sqrt(list_dot_product(eb.v, eb.v))), 6) + 0.0 AS emb_sim
        FROM p
        JOIN e ea ON ea.vec_id = doc_id_a
        JOIN e eb ON eb.vec_id = doc_id_b
        ORDER BY doc_id_a, doc_id_b""")),

    QueryDef(
      "q72_ann_lsh",
      (s, dir) =>
        // live sort: live-vs-staged A/B put the staged variant at 1.27x
        // (1x) / 1.11 (x10) — the bucket self-join over the staged
        // vectors is cheap enough that the resample costs less than a
        // pair round-trip. PlanSpec pins the core via lshNeighborPairs.
        Similarity.lshNeighborPairs(
          Tables.load(s, dir, "embeddings"), dim = 64,
          threshold = 0.3, nPlanes = 8)
          .orderBy(col("vec_a"), col("vec_b")),
      Some(lshOracle),
      headline = true),

    QueryDef(
      "q106_semantic_decontam",
      (s, dir) => {
        // EMBEDDING-level benchmark decontamination: eval split =
        // every 5th vector, train = the rest; an eval item is
        // contaminated when a train vector shares its hyperplane cell
        // at cosine ≥ 0.3 — the semantic complement of q89's n-gram
        // sweep (catches paraphrased leakage n-grams miss). Shape:
        // cell equi-join, exact cosine on candidates only; train
        // never pairs with itself. UNHINTED: this corpus' eval side
        // is a fifth of the table, not broadcast-small like a real
        // benchmark suite — AQE broadcasts it when it does fit, and
        // the join degrades to a shuffle on the cell key when not.
        graft.functions.GraftFunctions.register(s)
        val e = Tables.load(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding").as("v"),
            Similarity.hyperplaneBucket(col("embedding"), 64, 8).as("bucket"))
        val eval_ = e.filter(pmod(col("vec_id"), lit(5)) === 0)
          .select(col("bucket"), col("vec_id").as("eval_id"), col("v").as("ev"))
        val train = e.filter(pmod(col("vec_id"), lit(5)) =!= 0)
          .select(col("bucket"), col("vec_id").as("train_id"), col("v").as("tv"))
        eval_.join(train, Seq("bucket"))
          .withColumn("sim_r",
            round(Similarity.cosineNative(col("ev"), col("tv")), 6))
          .filter(col("sim_r") >= 0.3)
          .select(col("eval_id"), col("train_id"), col("sim_r"))
          .distinct()
          .orderBy(col("eval_id"), col("train_id"))
      },
      Some(semanticDecontamOracle)),

    QueryDef(
      "q107_quantized_knn",
      (s, dir) => {
        // kNN in the COMPRESSED domain: vectors are stored int8
        // (4× smaller — the difference between an in-memory and a
        // spilled index at 100 TB), queries run against the
        // dequantized reconstructions. Composes q83's quantizer with
        // q70's bounded probe shape; the oracle replays quantize →
        // dequant → cosine → rank end to end, so reconstruction or
        // ranking drift hash-fails.
        graft.functions.GraftFunctions.register(s)
        import org.apache.spark.sql.expressions.Window
        val e = Tables.load(s, dir, "embeddings")
          .select(col("vec_id"),
            Similarity.dequantizeInt8(
              Similarity.quantizeInt8(col("embedding"))).as("r"))
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_vec"), col("r").as("qr"))
        val w = Window.partitionBy(col("q_vec"))
          .orderBy(col("sim_r").desc, col("n_vec"))
        e.select(col("vec_id").as("n_vec"), col("r").as("nr"))
          .crossJoin(broadcast(q))
          .filter(col("q_vec") =!= col("n_vec"))
          .withColumn("sim_r", Similarity.simR(col("qr"), col("nr")))
          .withColumn("rn", row_number().over(w).cast("bigint"))
          .filter(col("rn") <= 5)
          .select(col("q_vec"), col("n_vec"), col("sim_r"), col("rn"))
          .orderBy(col("q_vec"), col("rn"))
      },
      Some("""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        s AS (SELECT vec_id, v,
                list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
              FROM e),
        r AS (SELECT vec_id,
                CASE WHEN scale > 0
                     THEN list_transform(v,
                            x -> CAST(round(x / scale) AS INTEGER) * scale)
                     ELSE list_transform(v, x -> 0.0) END AS rv
              FROM s),
        q AS (SELECT vec_id AS q_vec, rv AS qr FROM r WHERE vec_id < 10),
        n AS (SELECT vec_id AS n_vec, rv AS nr FROM r),
        p AS (
          SELECT q_vec, n_vec,
            ROUND(list_dot_product(qr, nr)
              / (sqrt(list_dot_product(qr, qr)) * sqrt(list_dot_product(nr, nr))), 6) + 0.0
              AS sim_r
          FROM q, n WHERE q_vec <> n_vec),
        rk AS (
          SELECT q_vec, n_vec, sim_r,
                 ROW_NUMBER() OVER (PARTITION BY q_vec
                   ORDER BY sim_r DESC, n_vec) AS rn
          FROM p)
        SELECT q_vec, n_vec, sim_r, CAST(rn AS BIGINT) AS rn
        FROM rk WHERE rn <= 5
        ORDER BY q_vec, rn""")),

    QueryDef(
      "q146_hard_negatives",
      (s, dir) => {
        // contrastive pair mining for embedding-model training: per
        // anchor (bounded probe slice, the q70/q71 broadcast posture),
        // the nearest same-label vector (positive) and the 3 nearest
        // different-label vectors (hard negatives). Full-corpus mining
        // swaps candidate generation to the IVF route — scaladoc on
        // Similarity.contrastivePairs.
        val emb = Tables.load(s, dir, "embeddings")
        Similarity.contrastivePairs(emb, emb.filter(col("vec_id") < 50),
          kNeg = 3)
          .orderBy(col("q_vec"), col("kind"), col("rn"))
      },
      Some("""
        WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
        a AS (SELECT vec_id AS q_vec, label AS q_label, v AS qv
              FROM e WHERE vec_id < 50),
        p AS (
          SELECT q_vec, e.vec_id AS n_vec,
            CASE WHEN e.label = q_label THEN 'pos' ELSE 'neg' END AS kind,
            ROUND(list_dot_product(qv, e.v)
              / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(e.v, e.v))), 6) + 0.0
              AS sim_r
          FROM a, e WHERE q_vec <> e.vec_id),
        r AS (
          SELECT q_vec, kind, n_vec, sim_r,
                 ROW_NUMBER() OVER (PARTITION BY q_vec, kind
                   ORDER BY sim_r DESC, n_vec) AS rn
          FROM p)
        SELECT q_vec, kind, n_vec, sim_r, rn
        FROM r
        WHERE (kind = 'pos' AND rn = 1) OR (kind = 'neg' AND rn <= 3)
        ORDER BY q_vec, kind, rn""")),

    QueryDef(
      "q102_semantic_dedup",
      (s, dir) =>
        // SemDeDup decision layer over the q72 pair search: which
        // vectors drop, kept by whom, at what similarity (greedy
        // lowest-id keeper; see Similarity.semanticDedup scaladoc)
        Similarity.semanticDedup(
          Tables.load(s, dir, "embeddings"), dim = 64,
          threshold = 0.3, nPlanes = 8)
          .orderBy(col("dropped_id")),
      Some(semanticDedupOracle)),

    quantize,

    QueryDef(
      "q159_matryoshka_recall",
      (s, dir) =>
        // recall-vs-prefix-dimension curve (MRL cut sizing); the 64-dim
        // row is the built-in sanity check (overlap ≡ k·|queries|)
        graft.ext.Similarity.matryoshkaRecall(
          Tables.load(s, dir, "embeddings"),
          Tables.load(s, dir, "embeddings").filter(col("vec_id") < 10),
          dims = Seq(8, 16, 32, 64), k = 10),
      Some("""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        q AS (SELECT vec_id AS q_vec, v AS qv FROM e WHERE vec_id < 10),
        n AS (SELECT vec_id AS n_vec, v AS nv FROM e),
        d AS (SELECT unnest([8, 16, 32, 64]) AS dim),
        p AS (
          SELECT dim, q_vec, n_vec,
                 ROUND(list_dot_product(qv[1:dim], nv[1:dim])
                   / (sqrt(list_dot_product(qv[1:dim], qv[1:dim]))
                      * sqrt(list_dot_product(nv[1:dim], nv[1:dim]))), 6) + 0.0 AS sim_r
          FROM q, n, d WHERE q_vec <> n_vec),
        r AS (
          SELECT dim, q_vec, n_vec,
                 ROW_NUMBER() OVER (PARTITION BY dim, q_vec
                   ORDER BY sim_r DESC, n_vec) AS rn
          FROM p),
        t AS (
          SELECT dim, q_vec, list(n_vec) AS nbrs
          FROM r WHERE rn <= 10 GROUP BY 1, 2),
        f AS (SELECT q_vec, nbrs AS full_nbrs FROM t WHERE dim = 64),
        o AS (
          SELECT t.dim, t.q_vec,
                 len(list_intersect(t.nbrs, f.full_nbrs)) AS ov
          FROM t JOIN f USING (q_vec))
        SELECT CAST(dim AS BIGINT) AS dim,
               CAST(COUNT(*) AS BIGINT) AS n_queries,
               CAST(SUM(ov) AS BIGINT) AS total_overlap,
               CAST(SUM(ov) * 1000 // (10 * COUNT(*)) AS BIGINT) AS recall_permille
        FROM o GROUP BY dim ORDER BY dim""")),

    QueryDef(
      "q169_fisher_separability",
      (s, dir) => {
        // Per-dimension Fisher ratio (between-class / within-class
        // sum of squares over the label column) — the feature-pruning table
        // that says which embedding dimensions actually carry the
        // label signal (keep the head, quantize/drop the tail;
        // complements q159's prefix view with a per-dim one). One
        // posexplode (×64, map-side) into one (dim, label) hash-agg —
        // sums/sums-of-squares are the mergeable sufficient stats, so
        // the combine is exact partial aggregation; the per-dim
        // rollup rides the 64×|labels| frame.
        val e = Tables.load(s, dir, "embeddings")
          .select(col("label"), posexplode(col("embedding")))
          .select(col("label"), (col("pos") + 1).cast("bigint").as("dim"),
            col("col").cast("double").as("x"))
        val byClass = e.groupBy(col("dim"), col("label"))
          .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
            sum(col("x") * col("x")).as("sxx"))
        byClass.groupBy(col("dim"))
          .agg(
            sum(col("n")).cast("bigint").as("n_vecs"),
            (sum(col("sx")) / sum(col("n"))).as("mu"),
            sum(col("n") * (col("sx") / col("n")) * (col("sx") / col("n")))
              .as("smu2"),
            sum(col("sxx")).as("sxx"),
            sum(col("sx")).as("sx"))
          .select(col("dim"), col("n_vecs"),
            (round((col("smu2") - col("sx") * col("mu"))
              / nullif(col("sxx") - col("smu2"), lit(0.0)), 4) + lit(0.0))
              .as("fisher_ratio"))
          .orderBy(col("dim"))
      },
      Some("""
        WITH e AS (
          SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        x AS (
          SELECT label, j.j AS dim, v[j.j] AS x
          FROM e CROSS JOIN (SELECT unnest(range(1, 65)) AS j) j),
        bc AS (
          SELECT dim, label, COUNT(*) AS n, SUM(x) AS sx, SUM(x * x) AS sxx
          FROM x GROUP BY 1, 2),
        d AS (
          SELECT dim,
                 CAST(SUM(n) AS BIGINT) AS n_vecs,
                 SUM(sx) / SUM(n) AS mu,
                 SUM(n * (sx / n) * (sx / n)) AS smu2,
                 SUM(sxx) AS sxx,
                 SUM(sx) AS sx
          FROM bc GROUP BY 1)
        SELECT CAST(dim AS BIGINT) AS dim, n_vecs,
               ROUND((smu2 - sx * mu) / NULLIF(sxx - smu2, 0.0), 4) + 0.0
                 AS fisher_ratio
        FROM d
        ORDER BY dim"""))
  )

  private def quantize: QueryDef = QueryDef(
    "q83_embedding_quantize",
    (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val e = Tables.load(s, dir, "embeddings")
        .withColumn("quant", Similarity.quantizeInt8(col("embedding")))
      e.select(
        col("vec_id"),
        round(col("quant.scale"), 6).as("scale_r"),
        md5(concat_ws(",", transform(col("quant.q"), _.cast("string"))))
          .as("codes_md5"),
        // fidelity of the 4×-compressed representation, measured in
        // the metric ANN actually uses
        round(Similarity.cosineNative(col("embedding"),
          Similarity.dequantizeInt8(col("quant"))), 6).as("recon_cos"))
        .orderBy(col("vec_id"))
    },
    Some("""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        s AS (SELECT vec_id, v,
                list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
              FROM e),
        q AS (SELECT vec_id, v, scale,
                CASE WHEN scale > 0
                     THEN list_transform(v, x -> CAST(round(x / scale) AS INTEGER))
                     ELSE list_transform(v, x -> 0) END AS codes
              FROM s),
        d AS (SELECT vec_id, v, scale, codes,
                list_transform(codes, c -> c * scale) AS recon
              FROM q)
        SELECT vec_id,
               ROUND(scale, 6) AS scale_r,
               md5(array_to_string(codes, ',')) AS codes_md5,
               ROUND(list_dot_product(v, recon)
                 / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(recon, recon))), 6)
                 AS recon_cos
        FROM d
        ORDER BY vec_id"""))

  /** ±1 plane constants as a SQL list literal — the SAME seeded values
    * the Spark expressions use (Similarity.planeValues), so the oracle
    * replays the bucketing bit for bit.
    */
  private def planeLit(p: Seq[Double]): String =
    p.map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ", ", "]")

  /** q72 oracle: full replay of 8-plane hyperplane-LSH pair search. */
  private def lshOracle: String = {
    val bucketExpr = Similarity.planeValues(8, 64).zipWithIndex.map {
      case (p, j) =>
        s"(CASE WHEN list_dot_product(v, ${planeLit(p)}) >= 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("\n            + ")
    s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        b AS (SELECT vec_id, v,
            $bucketExpr AS bucket
          FROM e),
        p AS (
          SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b,
            ROUND(list_dot_product(a.v, b2.v)
              / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b2.v, b2.v))), 6)
              AS sim_r
          FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
        SELECT DISTINCT vec_a, vec_b, sim_r
        FROM p WHERE sim_r >= 0.3
        ORDER BY vec_a, vec_b"""
  }

  /** q106 oracle: cell replay + the eval/train split predicate. */
  private def semanticDecontamOracle: String = {
    val bucketExpr = Similarity.planeValues(8, 64).zipWithIndex.map {
      case (p, j) =>
        s"(CASE WHEN list_dot_product(v, ${planeLit(p)}) >= 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("\n            + ")
    s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        b AS (SELECT vec_id, v,
            $bucketExpr AS bucket
          FROM e),
        ev AS (SELECT vec_id AS eval_id, v AS evv, bucket FROM b WHERE vec_id % 5 = 0),
        tr AS (SELECT vec_id AS train_id, v AS tvv, bucket FROM b WHERE vec_id % 5 != 0),
        p AS (
          SELECT eval_id, train_id,
            ROUND(list_dot_product(evv, tvv)
              / (sqrt(list_dot_product(evv, evv)) * sqrt(list_dot_product(tvv, tvv))), 6)
              AS sim_r
          FROM ev JOIN tr USING (bucket))
        SELECT DISTINCT eval_id, train_id, sim_r
        FROM p WHERE sim_r >= 0.3
        ORDER BY eval_id, train_id"""
  }

  /** q102 oracle: the q72 pair replay plus the greedy keep/drop
    * aggregate — arg_min picks the same keeper the engine's min_by
    * does ((vec_a, vec_b) is unique after DISTINCT, so no ties).
    */
  private def semanticDedupOracle: String = {
    val bucketExpr = Similarity.planeValues(8, 64).zipWithIndex.map {
      case (p, j) =>
        s"(CASE WHEN list_dot_product(v, ${planeLit(p)}) >= 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("\n            + ")
    s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        b AS (SELECT vec_id, v,
            $bucketExpr AS bucket
          FROM e),
        p0 AS (
          SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b,
            ROUND(list_dot_product(a.v, b2.v)
              / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b2.v, b2.v))), 6)
              AS sim_r
          FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id),
        p AS (SELECT DISTINCT vec_a, vec_b, sim_r FROM p0 WHERE sim_r >= 0.3)
        SELECT vec_b AS dropped_id,
               MIN(vec_a) AS kept_id,
               arg_min(sim_r, vec_a) AS kept_sim
        FROM p GROUP BY vec_b ORDER BY dropped_id"""
  }

  /** q73 oracle: full replay of the hyperplane-IVF index + 4-probe
    * margin-ranked query + exact re-rank. Margin sums are written as
    * the same left-to-right addition chains the Spark side builds.
    */
  private def ivfOracle: String = {
    val p4 = Similarity.planeValues(4, 64)
    val dCols = p4.zipWithIndex.map { case (p, j) =>
      s"list_dot_product(v, ${planeLit(p)}) AS d$j"
    }.mkString(",\n            ")
    val cellExpr = (0 until 4).map(j =>
      s"(CASE WHEN d$j >= 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
    val scoreExpr = (0 until 4).map(j =>
      s"(CASE WHEN (c.cell_id >> $j) & 1 = 1 THEN d$j ELSE -d$j END)")
      .mkString(" + ")
    s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        d AS (SELECT vec_id, v,
            $dCols
          FROM e),
        idx AS (SELECT vec_id AS n_vec, v AS nv, $cellExpr AS cell_id FROM d),
        q AS (SELECT vec_id AS q_vec, v AS qv, d0, d1, d2, d3 FROM d WHERE vec_id < 10),
        cells AS (
          SELECT q_vec, qv, c.cell_id, $scoreExpr AS score
          FROM q CROSS JOIN (SELECT unnest(range(16)) AS cell_id) c),
        probed AS (
          SELECT q_vec, qv, cell_id FROM cells
          QUALIFY row_number() OVER (PARTITION BY q_vec ORDER BY score DESC, cell_id) <= 4),
        cand AS (
          SELECT q_vec, n_vec,
            ROUND(list_dot_product(qv, nv)
              / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(nv, nv))), 6) + 0.0
              AS sim_r
          FROM probed JOIN idx USING (cell_id)
          WHERE q_vec <> n_vec),
        r AS (
          SELECT q_vec, n_vec, sim_r,
                 row_number() OVER (PARTITION BY q_vec ORDER BY sim_r DESC, n_vec) AS rn
          FROM cand)
        SELECT q_vec, n_vec, sim_r, rn FROM r WHERE rn <= 5 ORDER BY q_vec, rn"""
  }
}
