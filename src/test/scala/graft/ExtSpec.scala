package graft

import org.apache.spark.sql.functions._
import graft.ext.{Dedup, Similarity, TextAnalysis}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bend"), // near-dup of 1
    (3L, "completely different text about distributed query engines and spark"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank"), // exact dup of 1
    (5L, "tiny"),                                                            // < 3 tokens
    (6L, "spark engines distributed about text different completely and query") // same words as 3, diff order
  ).toDF("doc_id", "text")

  test("explodedShingles = set of word 3-grams (matches the Column-expression form)") {
    val viaRows = Dedup.explodedShingles(docs, "doc_id", "text")
      .groupBy("doc_id").agg(sort_array(collect_set(col("s"))).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val viaExpr = docs.withColumn("toks", Dedup.tokens(col("text")))
      .select(col("doc_id"), Dedup.shinglesFromTokens(col("toks")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    assert(viaRows(1L) === viaExpr(1L))
    assert(viaRows(3L) === viaExpr(3L))
    assert(!viaRows.contains(5L) && viaExpr(5L).isEmpty) // <3 tokens → no shingles
    assert(viaRows(1L).contains("the quick brown"))
  }

  test("minhash LSH finds exact + near dups, skips unrelated docs") {
    val pairs = Dedup.minhashDupPairs(docs, "doc_id", "text",
        k = 64, bands = 16, threshold = 0.3)
      .collect().map(r => (r.getLong(1), r.getLong(0))).toSet // (a,b) cols are (doc_id_b, doc_id_a) after joins
    assert(pairs.contains((1L, 4L)) || pairs.contains((4L, 1L))) // exact dup
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 1L))) // near dup
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L ||
      (p._1 == 6L && p._2 != 3L && p._2 != 6L)))
  }

  test("connected components: chains merge into one cluster, islands stay apart") {
    import org.apache.spark.sql.functions.col
    // edges: 1-2, 2-7, 7-9 (one chain) ; 4-5 (island)
    val pairs = Seq((1L, 2L), (2L, 7L), (7L, 9L), (4L, 5L))
      .toDF("doc_id_a", "doc_id_b")
    // both execution paths: driver union-find and iterative propagation
    for (limit <- Seq(1L << 22, 0L)) {
      val cc = Dedup.connectedComponents(pairs, driverLimit = limit).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(cc(1L) === 1L && cc(2L) === 1L && cc(7L) === 1L && cc(9L) === 1L,
        s"limit=$limit")
      assert(cc(4L) === 4L && cc(5L) === 4L, s"limit=$limit")
    }
  }

  test("dedupClusters: exact + near dups collapse to one cluster with min-id survivor") {
    val clusters = Dedup.dedupClusters(docs, "doc_id", "text", threshold = 0.3)
      .collect()
    assert(clusters.length === 1)
    val c = clusters.head
    assert(c.getAs[Long]("keep_doc_id") === 1L)
    assert(c.getAs[Long]("cluster_size") === 3L)
    assert(c.getAs[String]("member_ids") === "1,2,4")
  }

  test("exact-dup pair gets jaccard 1.0") {
    val sims = Dedup.minhashDupPairs(docs, "doc_id", "text", threshold = 0.3)
      .collect().map(r => (r.getLong(1), r.getLong(0)) -> r.getDouble(2)).toMap
    val key = sims.keys.find(k => Set(k._1, k._2) == Set(1L, 4L)).get
    assert(sims(key) === 1.0)
  }

  test("incrementalDupPairs ≡ joint-run cross pairs; precomputed index path identical") {
    import org.apache.spark.sql.functions.col
    // batch = docs 2 and 4 arriving against an indexed history 1,3,5,6
    val newBatch = docs.filter(col("doc_id").isin(2L, 4L))
    val existing = docs.filter(!col("doc_id").isin(2L, 4L))
    val inc = Dedup.incrementalDupPairs(newBatch, existing, "doc_id", "text",
        threshold = 0.3)
      .collect().map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("old_id"),
        r.getAs[Double]("jaccard_sim"))).toSet
    val joint = Dedup.minhashDupPairs(docs, "doc_id", "text", threshold = 0.3)
      .collect().map(r => (r.getAs[Long]("doc_id_a"), r.getAs[Long]("doc_id_b"),
        r.getAs[Double]("jaccard_sim")))
      // keep cross pairs only, oriented (new, old)
      .flatMap { case (a, b, s) =>
        val newSide = Set(2L, 4L)
        if (newSide.contains(a) != newSide.contains(b))
          Some(if (newSide.contains(a)) (a, b, s) else (b, a, s))
        else None
      }.toSet
    assert(inc.nonEmpty && inc === joint)
    // the production path: index precomputed (stored) instead of derived
    val viaIndex = Dedup.incrementalDupPairs(newBatch, existing, "doc_id",
        "text", threshold = 0.3,
        existingIndex = Some(Dedup.lshBandIndex(existing, "doc_id", "text")))
      .collect().map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("old_id"),
        r.getAs[Double]("jaccard_sim"))).toSet
    assert(viaIndex === inc)
  }

  test("incrementalDupPairs reads the staged candidate count from footers: " +
      "no Spark job besides the staging write") {
    import org.apache.spark.sql.functions.col
    val newBatch = docs.filter(col("doc_id").isin(2L, 4L))
    val existing = docs.filter(!col("doc_id").isin(2L, 4L))
    var stageJobs = -1
    val total = jobsRun(Dedup.incrementalDupPairs(newBatch, existing,
      "doc_id", "text", threshold = 0.3, stager = { (df, tag) =>
        var staged: org.apache.spark.sql.DataFrame = null
        stageJobs = jobsRun { staged = graft.Staging.checkpoint(df, tag) }
        staged
      }))
    // the inner jobsRun's marker job is the one extra job the outer
    // count sees; a count() of the staged candidates would add its
    // map-stage and result jobs on top
    assert(stageJobs > 0)
    assert(total === stageJobs + 1, s"total=$total staging=$stageJobs")
  }

  test("connected components: string ids take the iterative path, not getLong") {
    val pairs = Seq(("a", "b"), ("b", "c"), ("x", "y"))
      .toDF("doc_id_a", "doc_id_b")
    val cc = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cc("a") === "a" && cc("b") === "a" && cc("c") === "a")
    assert(cc("x") === "x" && cc("y") === "x")
  }

  test("minhashDupPairs rejects a banding that does not divide k") {
    intercept[IllegalArgumentException] {
      Dedup.minhashDupPairs(docs, "doc_id", "text", k = 64, bands = 128)
    }
    intercept[IllegalArgumentException] {
      Dedup.minhashDupPairs(docs, "doc_id", "text", k = 64, bands = 48)
    }
  }

  test("lshBandIndex fails fast on a non-dividing banding (incremental path)") {
    import org.apache.spark.sql.functions.col
    // bands > k would make every band slice empty → every stored
    // bucket overflows maxBucket → incrementalDupPairs silently
    // returns zero pairs; the shared index builder must reject it
    val newBatch = docs.filter(col("doc_id") === 2L)
    val existing = docs.filter(col("doc_id") =!= 2L)
    val e = intercept[IllegalArgumentException] {
      Dedup.incrementalDupPairs(newBatch, existing, "doc_id", "text",
        k = 64, bands = 128)
    }
    assert(e.getMessage.contains("bands must divide k"), e.getMessage)
    // a non-dividing k silently discards trailing signature components
    intercept[IllegalArgumentException] {
      Dedup.lshBandIndex(existing, "doc_id", "text", k = 64, bands = 48)
    }
  }

  test("incrementalDupPairs drops stored-index buckets past maxBucket") {
    // 8 exact copies in history + 1 matching new doc: every band bucket
    // the new doc touches holds all 8 old members, so maxBucket=7
    // drops them all (zero pairs) while the default cap keeps them
    val txt = "the quick brown fox jumps over the lazy dog near the river bank"
    val existing = (1L to 8L).map(i => (i, txt)).toDF("doc_id", "text")
    val fresh = Seq((100L, txt)).toDF("doc_id", "text")
    val uncapped = Dedup.incrementalDupPairs(fresh, existing, "doc_id", "text",
      threshold = 0.3)
    assert(uncapped.count() === 8L)
    val capped = Dedup.incrementalDupPairs(fresh, existing, "doc_id", "text",
      threshold = 0.3, maxBucket = 7)
    assert(capped.count() === 0L)
  }

  test("simhash: dup/permutation invariances + blocking join ≡ brute-force hamming ≤ 3") {
    val hashes = Dedup.simhashes(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hashes(1L) === hashes(4L)) // exact dup
    // word-order permutation → same token multiset → same simhash (doc 3 vs 6)
    assert(hashes(3L) === hashes(6L))
    // pigeonhole blocking must reproduce the brute-force pair set
    val ids = hashes.keys.toSeq.sorted
    val expected = (for {
      a <- ids; b <- ids if a < b
      if java.lang.Long.bitCount(hashes(a) ^ hashes(b)) <= 3
    } yield (a, b)).toSet
    val got = Dedup.simhashDupPairs(docs, "doc_id", "text", maxDist = 3)
      .select("doc_id_a", "doc_id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === expected)
    assert(got.contains((1L, 4L)) && got.contains((3L, 6L)))
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  // deterministic synthetic embeddings: 3 tight clusters in 8-d
  private val vecs: Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(5)
    (0 until 60).map { i =>
      val center = Array.fill(8)(0.0f)
      center(i % 3) = 1.0f
      (i.toLong, center.map(c => c + (rnd.nextFloat() - 0.5f) * 0.1f))
    }
  }
  private val emb = vecs.toDF("vec_id", "embedding")

  test("cosine expression matches scala-side computation") {
    val got = emb.filter(col("vec_id") < 2)
      .crossJoin(emb.filter(col("vec_id") === 2)
        .select(col("embedding").as("e2")))
      .select(Similarity.cosine(
        Similarity.asDouble(col("embedding")),
        Similarity.asDouble(col("e2"))).as("c"))
      .collect().map(_.getDouble(0))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val (d, na, nb) = (a.zip(b).map { case (x, y) => x.toDouble * y }.sum,
        math.sqrt(a.map(x => x.toDouble * x).sum), math.sqrt(b.map(x => x.toDouble * x).sum))
      d / (na * nb)
    }
    assert(math.abs(got(0) - cos(vecs(0)._2, vecs(2)._2)) < 1e-12)
    assert(math.abs(got(1) - cos(vecs(1)._2, vecs(2)._2)) < 1e-12)
  }

  test("brute-force kNN returns k in-cluster neighbors, ranked by similarity") {
    val res = Similarity.bruteForceKnn(emb, emb.filter(col("vec_id") === 0), k = 5)
      .collect()
    assert(res.length === 5)
    // all neighbors from the same cluster (ids ≡ 0 mod 3)
    assert(res.forall(_.getAs[Long]("n_vec") % 3 === 0))
    val sims = res.sortBy(_.getAs[Long]("rn")).map(_.getAs[Double]("sim_r"))
    assert(sims.toSeq === sims.sorted.reverse.toSeq)
  }

  test("hyperplane LSH recall ≥ 0.8 vs brute-force at threshold 0.9") {
    val truth = {
      val e = emb.select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
      val a = e.select(col("vec_id").as("vec_a"), col("v").as("va"))
      val b = e.select(col("vec_id").as("vec_b"), col("v").as("vb"))
      a.crossJoin(b).filter(col("vec_a") < col("vec_b"))
        .withColumn("s", Similarity.cosine(col("va"), col("vb")))
        .filter(col("s") >= 0.9)
        .select("vec_a", "vec_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val got = Similarity.lshNeighborPairs(emb, dim = 8, threshold = 0.9, nPlanes = 6)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(truth)) // exact re-rank: no false positives
    val recall = got.size.toDouble / truth.size
    assert(recall >= 0.8, s"recall=$recall (${got.size}/${truth.size})")
  }
}

class QuantizeSpec extends SparkSpec {
  import spark.implicits._

  test("int8 round trip: codes in [-127,127], error ≤ scale/2, zero vector safe") {
    val rnd = new scala.util.Random(13)
    val vecs = (0 until 50).map(i =>
      (i.toLong, Array.fill(16)((rnd.nextFloat() - 0.5f) * 4.0f))) :+
      (99L, Array.fill(16)(0.0f))
    val df = vecs.toDF("vec_id", "embedding")
      .withColumn("quant", Similarity.quantizeInt8(col("embedding")))
      .select(col("vec_id"), col("embedding"), col("quant.scale").as("scale"),
        col("quant.q").as("q"),
        Similarity.dequantizeInt8(col("quant")).as("recon"))
    val rows = df.collect()
    rows.foreach { r =>
      val orig = r.getSeq[Float](1)
      val scale = r.getDouble(2)
      val codes = r.getSeq[Int](3)
      val recon = r.getSeq[Double](4)
      assert(codes.forall(c => c >= -127 && c <= 127))
      if (r.getLong(0) == 99L) {
        assert(scale === 0.0 && codes.forall(_ == 0))
      } else {
        orig.zip(recon).foreach { case (o, rc) =>
          assert(math.abs(o - rc) <= scale / 2 + 1e-9, s"vec ${r.getLong(0)}")
        }
      }
    }
  }
}

class PackingSpec extends SparkSpec {
  import spark.implicits._

  test("greedy fill: bins advance at the budget, overflow ≤ one document") {
    val docs = Seq(
      (1L, 400L), (2L, 400L), (3L, 400L), // bin 0: 400+400+400 (doc 3 straddles)
      (4L, 900L),                         // bin 1 (run_before 1200)
      (5L, 100L),                         // bin 2 (run_before 2100)
      (6L, 5000L),                        // bin 2 too (run_before 2200) — huge doc
      (7L, 10L)                           // bin 7 (run_before 7210)
    ).toDF("doc_id", "n_tokens").withColumn("shard", lit(0L))
    val got = graft.ext.Packing.packByTokenBudget(docs, col("shard"),
        col("doc_id"), col("n_tokens"), budget = 1000L)
      .select("doc_id", "bin_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L,
      5L -> 2L, 6L -> 2L, 7L -> 7L))
    // determinism: same input → same bins on re-run
    val again = graft.ext.Packing.packByTokenBudget(docs, col("shard"),
        col("doc_id"), col("n_tokens"), budget = 1000L)
      .select("doc_id", "bin_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again === got)
  }

  test("invariant: non-last bins hold ≥ budget − maxDoc tokens (random data)") {
    // greedy fill bound: a bin's first doc can sit up to (maxDoc−1)
    // past its boundary (the previous doc straddled), so fill ≥
    // budget − maxDoc for every bin except a shard's last
    val rnd = new scala.util.Random(17)
    val maxDoc = 400L
    val docs = (1 to 500).map(i => (i.toLong, 1L + rnd.nextInt(maxDoc.toInt).toLong))
      .toDF("doc_id", "n_tokens")
      .withColumn("shard", pmod(col("doc_id"), lit(3L)))
    val bins = graft.ext.Packing.packByTokenBudget(docs, col("shard"),
        col("doc_id"), col("n_tokens"), budget = 1000L)
      .groupBy(col("shard"), col("bin_id"))
      .agg(sum(col("n_tokens")).as("toks"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val lastBin = bins.keys.groupBy(_._1).map { case (s, ks) => s -> ks.map(_._2).max }
    bins.foreach { case ((shard, bin), toks) =>
      if (bin != lastBin(shard))
        assert(toks >= 1000L - maxDoc, s"shard $shard bin $bin underfilled: $toks")
    }
    // bins are contiguous from 0
    bins.keys.groupBy(_._1).foreach { case (s, ks) =>
      val ids = ks.map(_._2).toSeq.sorted
      assert(ids === (0L to ids.max), s"shard $s bins not contiguous")
    }
  }

  test("shards pack independently") {
    val docs = Seq((1L, 600L, 0L), (2L, 600L, 0L), (3L, 600L, 1L), (4L, 600L, 1L))
      .toDF("doc_id", "n_tokens", "shard")
    val got = graft.ext.Packing.packByTokenBudget(docs, col("shard"),
        col("doc_id"), col("n_tokens"), budget = 1000L)
      .select("doc_id", "bin_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // each shard restarts at bin 0
    assert(got === Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L))
  }

  test("negative token counts fail fast instead of packing garbage") {
    // dirty input: a negative count would make the cumulative sum
    // non-monotone (DIV truncate-toward-zero pins it to bin 0). Three
    // placements, because the guard must not live inside the window
    // aggregate: the (unboundedPreceding, -1) frame never consumes a
    // partition's LAST row, so mid-partition, trailing, and
    // single-row-shard negatives must all throw
    def negFails(rows: Seq[(Long, Long)]): Unit = {
      val docs = rows.toDF("doc_id", "n_tokens").withColumn("shard", lit(0L))
      val e = intercept[Exception] {
        graft.ext.Packing.packByTokenBudget(docs, col("shard"),
          col("doc_id"), col("n_tokens"), budget = 1000L).collect()
      }
      def hasMsg(t: Throwable): Boolean = t != null &&
        (Option(t.getMessage).exists(_.contains("negative token count"))
          || hasMsg(t.getCause))
      assert(hasMsg(e), s"wrong failure: $e")
    }
    negFails(Seq((1L, 600L), (2L, -5L), (3L, 600L))) // mid-partition
    negFails(Seq((1L, 600L), (2L, -5L)))             // trailing row
    negFails(Seq((1L, -5L)))                         // sole row of shard
    // NULL counts stay allowed (sum ignores them — always have been;
    // the guard rejects only NEGATIVE values)
    val withNull = Seq((1L, Some(600L)), (2L, None), (3L, Some(600L)))
      .toDF("doc_id", "n_tokens").withColumn("shard", lit(0L))
    val got = graft.ext.Packing.packByTokenBudget(withNull, col("shard"),
        col("doc_id"), col("n_tokens"), budget = 1000L)
      .select("doc_id", "bin_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 0L, 2L -> 0L, 3L -> 0L)) // null adds 0 tokens
  }
}

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("stopword probes count CONSECUTIVE repeats (doubled-space frame)") {
    // non-overlapping replace over " the the the " counts 2 (adjacent
    // matches share a delimiter space); the doubled-space probe frame
    // gives every occurrence its own delimiters — repetition-heavy
    // spam must not read as stopword-poor
    val df = Seq(
      (1L, "the the the"),   // 3 consecutive
      (2L, "the cat the"),   // 2 separated
      (3L, "a a a a")        // 4 consecutive, 1-char word
    ).toDF("doc_id", "text")
    // stopRatio saturates (hits >= tokens/10) for all three, so probe
    // through the score's stop factor at exact values: score =
    // ntok/200 * 1 * (0.5 + 0.5*min(hits/ntok*10, 1))
    val q = df.select(col("doc_id"),
      TextAnalysis.qualityScore(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(q(1L) === 3.0 / 200.0)  // hits 3/3 → stop factor 1.0
    assert(q(3L) === 4.0 / 200.0)  // hits 4/4 → stop factor 1.0
    // langId: "le le le le le" must beat "the the" on raw counts
    val l = Seq((1L, "le le le le le the the")).toDF("doc_id", "text")
      .select(TextAnalysis.langId(col("text"))).head().getString(0)
    assert(l === "fr")
  }

  test("token/punct counts and fingerprint normalization") {
    val df = Seq(
      (1L, "Hello, world! This is   a test."),
      (2L, "hello world this is a test"),
      (3L, "HELLO,    world! This is a TEST.")).toDF("doc_id", "text")
    val rows = df.select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("n"),
      TextAnalysis.punctCount(col("text")).as("p"),
      TextAnalysis.fingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(rows(1L)._1 === 6L) // "Hello," "world!" "This" "is" "a" "test."
    assert(rows(1L)._2 === 3L) // comma, bang, period
    // fingerprint: case+whitespace-insensitive, but punctuation-sensitive
    assert(rows(1L)._3 === rows(3L)._3)
    assert(rows(1L)._3 !== rows(2L)._3)
  }

  test("langId picks the dominant stopword language; CJK wins outright") {
    val df = Seq(
      (1L, "the cat and the dog walked over the hill and then some"),
      (2L, "le chat et la maison et le jardin sont beaux"),
      (3L, "el perro y los gatos y el sol son bonitos"),
      (4L, "der Hund und die Katze und der Vogel sind hier"),
      (5L, "今天天气很好 we went outside")).toDF("doc_id", "text")
    val got = df.select(col("doc_id"), TextAnalysis.langId(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "en", 2L -> "fr", 3L -> "es", 4L -> "de", 5L -> "zh"))
  }

  test("repetitionRatio: looping text scores high, varied text zero, short text zero") {
    val df = Seq(
      (1L, ("buy cheap pills now " * 10).trim),                     // pure loop
      (2L, "one two three four five six seven eight nine ten"),     // all unique
      (3L, "too short")                                             // < 5 tokens
    ).toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
      TextAnalysis.repetitionRatio(Dedup.tokens(col("text"))).as("r"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) > 0.8, got(1L).toString)   // 36 grams, ~4 distinct
    assert(got(2L) === 0.0)
    assert(got(3L) === 0.0)
  }

  test("redactPii scrubs emails, urls, and long digit runs in precedence order") {
    val df = Seq((1L,
      "mail a.b_c+1@ex-ample.co.uk or visit https://ex.org/p?q=1#f ref 1234567890 done"))
      .toDF("doc_id", "text")
    val got = df.select(TextAnalysis.redactPii(col("text"))).head().getString(0)
    assert(got === "mail <EMAIL> or visit <URL> ref <NUM> done", got)
    // short digit runs survive (dates, quantities)
    val keep = Seq((1L, "order 42 on 20240101")).toDF("doc_id", "text")
    assert(keep.select(TextAnalysis.redactPii(col("text"))).head().getString(0)
      === "order 42 on 20240101")
  }

  test("quality score is in [0,1] and penalizes punctuation soup") {
    val df = Seq(
      (1L, "the quick brown fox and the lazy dog ran a fine race through the park and the meadow"),
      (2L, ";;;,,,!!!...;;;,,,!!!...;;;,,,")).toDF("doc_id", "text")
    val q = df.select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(q.values.forall(v => v >= 0.0 && v <= 1.0))
    assert(q(1L) > q(2L))
  }

  test("stopword probes see newline/tab-delimited words (whitespace-normalized frame)") {
    // the tokenizer splits on \s+, so "chat\net" holds a real "et"
    // token; the space-delimited probe frame must agree with the
    // tokenizer on what delimits a word or multi-line documents
    // undercount every line-adjacent stopword
    val l = Seq((1L, "le chat\net le chien\nla maison"))
      .toDF("doc_id", "text")
      .select(TextAnalysis.langId(col("text"))).head().getString(0)
    assert(l === "fr")
    // same text, space- vs newline/tab-delimited → identical score
    val df = Seq(
      (1L, "the cat and the dog ran a race"),
      (2L, "the cat\nand the dog\tran a race")).toDF("doc_id", "text")
    val q2 = df.select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(q2(1L) === q2(2L), q2.toString)
  }

  test("qualityFilter: NULL text is an explicit drop, not a keep fall-through") {
    // every rule compares against a NULL token/punct count and
    // evaluates NULL, so without the dedicated branch a NULL-text row
    // would land in `otherwise` as "keep" — and then silently vanish
    // downstream (the chunker emits no rows for it while the
    // group-replacement merge still deletes its prior state)
    val df = Seq((1L, Option("the cat and the dog ran a race")),
      (2L, Option.empty[String])).toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
        TextAnalysis.qualityFilter(col("text")).as("gate"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(2L) === "null_text", got.toString)
    assert(got(1L) === "keep")
  }
}
