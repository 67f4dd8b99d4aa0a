package graft

import org.apache.spark.sql.functions._
import graft.pipeline._

/** Training-data pipeline operator tests: dedup, similarity, text analysis,
  * multimodal plumbing. */
class PipelineSpec extends SparkSpec {

  private lazy val docs = spark.createDataFrame(Seq(
    (1L, "the quick brown fox jumps over the lazy dog today"),
    (2L, "the quick brown fox jumps over the lazy dog today"),     // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat today"),     // near dup
    (4L, "completely different words about spark engines running fast"),
    (5L, "")))
    .toDF("doc_id", "text")

  test("exact dedup keeps smallest id and counts dups") {
    val out = Dedup.exact(docs, col("doc_id"), col("text"))
    val dupGroup = out.filter(col("dupCount") === 2).collect()
    assert(dupGroup.length === 1)
    assert(dupGroup.head.getAs[Long]("keepId") === 1L)
    assert(out.count() === 4) // 4 distinct contents
  }

  test("soft dedup keeps every row, weights duplicates at floor(1e6/n)") {
    val out = Dedup.softDedup(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getAs[Long]("docId") ->
        (r.getAs[Long]("dupCount"), r.getAs[Long]("weightMicro"))).toMap
    assert(out.size === 5) // soft = nothing removed
    assert(out(1L) === (2L, 500000L)) // the duplicated pair splits its mass
    assert(out(2L) === (2L, 500000L))
    assert(out(4L) === (1L, 1000000L)) // uniques keep full weight
    assert(out(5L) === (1L, 1000000L)) // empty text is its own group
  }

  test("C4 bad-words filter: exact token hits (adjacent repeats, case and " +
    "punctuation normalized), first-word audit in list order") {
    import spark.implicits._
    val df = Seq(
      (1L, "a SLOW, slow slow query"),       // 3 exact hits incl. adjacent
      (2L, "slowly is not the list word"),   // substring must NOT match
      (3L, "clean text entirely"),
      (4L, "lorem and slow both appear")).toDF("doc_id", "text")
    val f = TextAnalysis.c4BadWords(col("text"), Seq("slow", "lorem")).toMap
    val out = df.select(col("doc_id"), f("bad_hits").as("h"),
        f("first_bad").as("fb"), f("keep").as("k"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), Option(r.getString(2)), r.getBoolean(3))).toMap
    assert(out(1L) === (3L, Some("slow"), false))
    assert(out(2L) === (0L, None, true))
    assert(out(3L) === (0L, None, true))
    assert(out(4L) === (2L, Some("slow"), false)) // list order, not text order
    // totality: NULL text keeps (no bad words in nothing), never NULL-drops
    val nulled = spark.sql("SELECT 9L AS doc_id, CAST(NULL AS STRING) AS text")
    val nf = TextAnalysis.c4BadWords(col("text"), Seq("slow")).toMap
    val nr = nulled.select(nf("bad_hits").as("h"), nf("keep").as("k")).head
    assert(nr.getLong(0) === 0L && nr.getBoolean(1))
  }

  test("ngram jaccard finds exact and near dups, skips unrelated") {
    val pairs = Dedup.ngramJaccardPairs(docs.filter(length(col("text")) > 0),
      col("doc_id"), col("text"), 3, 30)
      .collect().map(r => (r.getAs[Long]("idA"), r.getAs[Long]("idB"))).toSet
    assert(pairs.contains((1L, 2L))) // identical
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L))) // near dup
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("ngram jaccard df-cap drops hot shingles: degenerate corpus with one " +
       "shared gram stays bounded, true near-dups still found") {
    import spark.implicits._
    // 1000 docs share the same leading gram (think boilerplate "terms of
    // service ..."); each has an otherwise-unique tail. Uncapped, the hot
    // shingle alone would feed 1000*999/2 rows into the intersection join.
    val boiler = (1L to 1000L).map(i =>
      (i, s"common header line here unique$i tail$i words$i end$i"))
    // a genuine near-dup pair whose shared shingles are NOT hot (df=2)
    val nearDup = Seq(
      (2001L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2002L, "alpha beta gamma delta epsilon zeta eta iota"))
    val corpus = (boiler ++ nearDup).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(corpus, col("doc_id"), col("text"),
      3, 30, dfCap = 64).collect()
      .map(r => (r.getAs[Long]("idA"), r.getAs[Long]("idB"))).toSet
    // boilerplate-only overlap is gone (the hot shingles were dropped) ...
    assert(!pairs.exists(p => p._1 <= 1000L && p._2 <= 1000L))
    // ... while the low-df near-dup pair survives with capped-set Jaccard
    assert(pairs === Set((2001L, 2002L)))
  }

  test("DSIR importance weights rank target-like docs above raw docs and " +
       "are partition-independent (Xie et al. 2023 §3)") {
    import spark.implicits._
    // target style: 'alpha'-heavy docs; raw style: 'omega'-heavy. A raw
    // doc written in the target style must outrank raw-style docs.
    val corpus = Seq(
      (1L, "alpha beta alpha gamma alpha beta", true),
      (2L, "alpha gamma beta alpha alpha gamma", true),
      (3L, "omega psi omega chi omega psi", false),
      (4L, "omega chi psi omega omega chi", false),
      (5L, "alpha beta alpha gamma beta alpha", false) // target-style raw doc
    ).toDF("doc_id", "text", "is_target")
    def weights(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      Sampling.dsirWeights(df, col("doc_id"), col("text"), col("is_target"))
        .collect().map(r => r.getAs[Long]("docId") ->
          r.getAs[Long]("weightMicro")).toMap
    val w = weights(corpus)
    assert(w(5L) > w(3L) && w(5L) > w(4L))
    assert(w(1L) > w(3L))
    // partition count must not change a single micro-unit (integer sums
    // of per-bucket fixed-point ratios)
    assert(weights(corpus.repartition(7)) === w)
  }

  test("DSIR resampling: Gumbel top-k favors high-weight docs, selects " +
       "without replacement, plans as TakeOrderedAndProject (Xie et al. " +
       "2023 §3.2)") {
    import spark.implicits._
    // one doc with an overwhelming weight must always survive; the rest
    // have equal weight so the Gumbel noise picks among them
    val weights = ((1L, 10_000_000L) +: (2L to 50L).map(i => (i, 0L)))
      .toDF("doc_id", "weight_micro")
    val picked = Sampling.dsirResample(weights, col("doc_id"),
      col("weight_micro"), k = 10, seed = "t1")
    val rows = picked.collect()
    assert(rows.length === 10)
    assert(rows.map(_.getAs[Long]("docId")).distinct.length === 10) // w/o replacement
    assert(rows.map(_.getAs[Long]("docId")).contains(1L))
    assert(rows.map(_.getAs[Long]("rank")).sorted.toSeq === (1L to 10L))
    // determinism + seed sensitivity
    val again = Sampling.dsirResample(weights, col("doc_id"),
      col("weight_micro"), k = 10, seed = "t1").collect()
    assert(again.map(_.toSeq).toSeq === rows.map(_.toSeq).toSeq)
    val other = Sampling.dsirResample(weights, col("doc_id"),
      col("weight_micro"), k = 10, seed = "t2")
      .collect().map(_.getAs[Long]("docId")).toSet
    assert(other !== rows.map(_.getAs[Long]("docId")).toSet)
    // scale shape: global top-k must be a TakeOrderedAndProject, never a
    // full Sort + GlobalLimit
    val plan = Sampling.dsirResample(weights, col("doc_id"),
      col("weight_micro"), k = 10, seed = "t1")
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("exact substring dedup removes duplicated k-token runs, merges " +
       "overlapping windows, spares short docs (Lee et al. 2021 " +
       "EXACTSUBSTR, window-count formulation)") {
    import spark.implicits._
    // docs 1+2 share a 10-token run (> k=8): the union of its duplicated
    // 8-windows covers all 10 shared tokens in both docs; their unique
    // prefix/suffix tokens survive. docs 3+4 are identical but only 5
    // tokens (< k): no windows, intact. doc 5 is unique: intact.
    val shared = "one two three four five six seven eight nine ten"
    val corpus = Seq(
      (1L, s"intro1 $shared tail1"),
      (2L, s"intro2 $shared"),
      (3L, "tiny doc of five words"),
      (4L, "tiny doc of five words"),
      (5L, "a wholly unique document with enough tokens to window")).toDF(
      "doc_id", "text")
    val out = Dedup.dedupSubstrings(corpus, col("doc_id"), col("text"), k = 8)
      .collect().map(r => r.getAs[Long]("docId") ->
        ((r.getAs[Int]("nRemoved"), r.getAs[String]("text")))).toMap
    assert(out(1L) === ((10, "intro1 tail1")))
    assert(out(2L) === ((10, "intro2")))
    assert(out(3L) === ((0, "tiny doc of five words")))
    assert(out(4L) === ((0, "tiny doc of five words")))
    assert(out(5L)._1 === 0)
    // a doc that IS entirely a duplicated span empties out completely
    val twice = Seq((1L, shared), (2L, shared)).toDF("doc_id", "text")
    val wiped = Dedup.dedupSubstrings(twice, col("doc_id"), col("text"), k = 8)
      .collect()
    assert(wiped.forall(_.getAs[String]("text") === ""))
    assert(wiped.forall(_.getAs[Int]("nRemoved") === 10))
  }

  test("BPE training learns the classic merge sequence and encode applies " +
       "it greedily left-to-right (Sennrich 2016 arXiv:1508.07909)") {
    import spark.implicits._
    // 'ababab' dominates: first merge must be (a,b); second, with 'ab'
    // now atomic, (ab,ab). Pair counts are per adjacent POSITION
    // (Sennrich's get_stats counts overlaps: [ab,ab,ab] has two (ab,ab)
    // positions) while the rewrite is greedy non-overlapping, so after
    // merge 2 the word is [abab, ab] and (abab, ab)=5 still beats (c,d)=4
    val corpus = Seq(
      (1L, "ababab ababab ababab"),
      (2L, "ababab ababab"),
      (3L, "cdcd cdcd")).toDF("doc_id", "text")
    val merges = Bpe.train(corpus, col("text"), nMerges = 3)
      .orderBy("rank").collect()
      .map(r => (r.getAs[String]("left_sym"), r.getAs[String]("right_sym"),
        r.getAs[Long]("pair_count")))
    assert(merges(0) === (("a", "b", 15L)))     // 3 positions × 5 words
    assert(merges(1) === (("ab", "ab", 10L)))   // 2 positions × 5 words
    assert(merges(2) === (("abab", "ab", 5L)))
    // encode replays the merges: 'ababab' -> [abab, ab]; unseen chars
    // stay single symbols
    val toks = Bpe.encode(corpus, col("doc_id"), col("text"),
      Seq(("a", "b"), ("ab", "ab"), ("c", "d")))
      .collect().map(r => r.getAs[Long]("docId") ->
        r.getSeq[String](r.fieldIndex("tokens")).toList).toMap
    assert(toks(1L) === Seq("abab", "ab", "abab", "ab", "abab", "ab"))
    assert(toks(3L) === Seq("cd", "cd", "cd", "cd"))
    val freeRow = Bpe.encode(Seq((9L, "xyz ab")).toDF("doc_id", "text"),
      col("doc_id"), col("text"), Seq(("a", "b")))
      .collect().head
    assert(freeRow.getSeq[String](freeRow.fieldIndex("tokens")).toList ===
      Seq("x", "y", "z", "ab"))
    // determinism across partitionings
    val again = Bpe.train(corpus.repartition(4), col("text"), nMerges = 3)
      .orderBy("rank").collect()
      .map(r => (r.getAs[String]("left_sym"), r.getAs[String]("right_sym"),
        r.getAs[Long]("pair_count")))
    assert(again.toSeq === merges.toSeq)
  }

  test("BPE batched-greedy training: symbol-disjoint picks per round, " +
       "conflicting pairs deferred; equals sequential when batches " +
       "don't interfere") {
    import spark.implicits._
    // two independent dominant families — (a,b) and (c,d) share no
    // symbols, so a batch of 2 picks both in one round and the result
    // equals two sequential rounds exactly
    val corpus = Seq(
      (1L, "abab abab abab"),
      (2L, "cdcd cdcd")).toDF("doc_id", "text")
    def tab(df: org.apache.spark.sql.DataFrame) = df.orderBy("rank").collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[String]("left_sym"),
        r.getAs[String]("right_sym"), r.getAs[Long]("pair_count")))
    val seqT = tab(Bpe.train(corpus, col("text"), nMerges = 2))
    val batT = tab(Bpe.train(corpus, col("text"), nMerges = 2, maxBatch = 2))
    assert(batT.toSeq === seqT.toSeq)
    // a batch whose 2nd-RANKED pair CONFLICTS with the 1st: 'ababab'
    // counts (a,b)=9 and (b,a)=6, 'cd' only 4 — the greedy scan must
    // skip (b,a) (shares both symbols with the first pick) and take the
    // next disjoint pair (c,d) to fill the batch
    val corpus2 = Seq(
      (1L, "ababab ababab ababab"),
      (2L, "cd cd cd cd")).toDF("doc_id", "text")
    val bat2 = tab(Bpe.train(corpus2, col("text"), nMerges = 2, maxBatch = 2))
    assert(bat2(0)._2 === "a" && bat2(0)._3 === "b")
    assert(bat2(1)._2 === "c" && bat2(1)._3 === "d")
  }

  test("BPE encode at a 1000-merge table: the chunked UDF path compiles, " +
       "runs, and matches the literal-chain path on the effective merges") {
    import spark.implicits._
    val corpus = Seq((1L, "ababab xyz"), (2L, "cdcd ab")).toDF("doc_id", "text")
    val real = Seq(("a", "b"), ("ab", "ab"), ("c", "d"))
    // pad with merges that can never fire (symbols outside the corpus)
    val padded = real ++ (1 to 997).map(i => (s"q$i", s"z$i"))
    assert(padded.size === 1000)
    def toks(ms: Seq[(String, String)]) =
      Bpe.encode(corpus, col("doc_id"), col("text"), ms)
        .collect().map(r => r.getAs[Long]("docId") ->
          r.getSeq[String](r.fieldIndex("tokens")).toList).toMap
    assert(toks(padded) === toks(real))
  }

  test("CCNet perplexity buckets: reference-like text scores head, " +
       "out-of-distribution text tail (Wenzek 2020 arXiv:1911.00359 §4.3)") {
    import spark.implicits._
    // reference corpus = repeated in-distribution phrase; the crawl has
    // one doc echoing it (should land head with the lowest ce) and one of
    // unseen vocabulary (every bigram bucket unsmoothed-unseen -> tail)
    val corpus = (1L to 6L).map(i => (i, "the cat sat on the mat", true)) ++
      Seq((7L, "the cat sat on the mat", false),
        (8L, "zq wx vk jj qq pp", false),
        (9L, "the cat sat on the mat", false))
    val out = Perplexity.perplexityBuckets(corpus.toDF("id", "text", "ref"),
      col("id"), col("text"), col("ref"), buckets = 256)
      .collect().map(r => r.getAs[Long]("docId") ->
        ((r.getAs[Long]("ce_micro"), r.getAs[String]("ppl_bucket")))).toMap
    assert(out.size === 9)
    // echo docs score identically to the reference docs and sit in head
    assert(out(7L) === out(1L))
    assert(out(7L)._2 === "head")
    // unseen vocabulary pays the unsmoothed-bucket price: strictly worse
    // ce than every reference doc, bucketed tail
    assert(out(8L)._1 > out(1L)._1)
    assert(out(8L)._2 === "tail")
    // determinism across partitionings
    val again = Perplexity.perplexityBuckets(
      corpus.toDF("id", "text", "ref").repartition(7),
      col("id"), col("text"), col("ref"), buckets = 256)
      .collect().map(r => r.getAs[Long]("docId") ->
        ((r.getAs[Long]("ce_micro"), r.getAs[String]("ppl_bucket")))).toMap
    assert(again === out)
  }

  test("perplexity buckets: empty reference corpus fails fast, not NPE") {
    import spark.implicits._
    val crawlOnly = Seq((1L, "no reference here", false),
      (2L, "still none", false)).toDF("id", "text", "ref")
    val e = intercept[IllegalArgumentException] {
      Perplexity.perplexityBuckets(crawlOnly, col("id"), col("text"),
        col("ref"), buckets = 256).collect()
    }
    assert(e.getMessage.contains("non-empty reference corpus"))
  }

  test("minhash LSH candidates include identical docs") {
    val sigs = Dedup.minHashSignatures(docs.filter(length(col("text")) > 0),
      col("doc_id"), col("text"), 3, 8)
    assert(sigs.columns.toSet.contains("mh0") && sigs.columns.size === 9)
    val cands = Dedup.minHashLshPairs(sigs, 8, 2)
      .collect().map(r => (r.getAs[Long]("idA"), r.getAs[Long]("idB"))).toSet
    assert(cands.contains((1L, 2L))) // identical docs always collide
    assert(!cands.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhash LSH: degenerate corpus (all-identical docs) stays bounded " +
       "under the bucket-size cap and still pairs within salt groups") {
    import spark.implicits._
    val degenerate = (1L to 1000L).map(i => (i, "same text repeated here ok"))
      .toDF("doc_id", "text")
    val sigs = Dedup.minHashSignatures(degenerate, col("doc_id"), col("text"), 3, 8)
    val pairs = Dedup.minHashLshPairs(sigs, 8, 2, maxBucketSize = 50)
    val n = pairs.count()
    // uncapped would emit 1000*999/2 = 499500 pairs per band; salted
    // sub-buckets bound the blow-up while still finding in-bucket dups
    assert(n > 0)
    assert(n < 499500L)
    // every pair is still a true duplicate pair (idA < idB in range)
    val bad = pairs.filter(col("idA") >= col("idB") ||
      col("idA") < 1 || col("idB") > 1000).count()
    assert(bad === 0)
  }

  test("seeded LSH + multi-probe finds the brute-force nearest neighbor") {
    val emb = spark.createDataFrame(Seq(
      (0L, Array(1.0f, 1.0f, -1.0f, 0.5f)),
      (1L, Array(0.9f, 0.8f, -0.7f, 0.4f)),   // near 0
      (2L, Array(-1.0f, 1.0f, 1.0f, -0.2f)),
      (3L, Array(0.1f, -0.9f, 0.3f, 0.8f))))
      .toDF("vec_id", "embedding")
    val out = Similarity.lshTopKSeeded(emb, emb.filter(col("vec_id") === 0),
      k = 1, nPlanes = 4, dim = 4, seed = 42L).collect()
    assert(out.length === 1 && out.head.getAs[Long]("cid") === 1L)
    // determinism: same seed → same buckets → same result
    val again = Similarity.lshTopKSeeded(emb, emb.filter(col("vec_id") === 0),
      k = 1, nPlanes = 4, dim = 4, seed = 42L).collect()
    assert(again.head.getAs[Long]("cid") === 1L)
    // an empty corpus yields an empty result, not a head() crash
    val empty = Similarity.lshTopKSeeded(emb.filter(col("vec_id") < 0),
      emb.filter(col("vec_id") === 0), k = 1, nPlanes = 4, dim = 4,
      seed = 42L)
    assert(empty.count() === 0)
    // a wrong-dim QUERY frame is rejected too (it would silently bucket
    // every query to 0) — r17: the check is per-row (raise_error in the
    // quantize projection), so it catches a MIXED-dimension frame whose
    // FIRST row matches dim (the r16 first-non-null probe missed that),
    // and it fires at execution time
    val bad = spark.createDataFrame(Seq(
      (8L, Array(1.0f, 2.0f, 3.0f, 4.0f)),   // first row matches dim=4
      (9L, Array(1.0f, 2.0f))))              // later row deviates
      .toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      Similarity.lshTopKSeeded(emb, bad, k = 1, nPlanes = 4, dim = 4,
        seed = 42L).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("2 dims")))
  }

  test("simhash: identical docs equal, near dups close, distinct docs far") {
    val sig = Dedup.simHash32(docs.filter(length(col("text")) > 0),
      col("doc_id"), col("text"))
      .collect().map(r => r.getAs[Long]("docId") -> r.getAs[Long]("simhash")).toMap
    assert(sig(1L) === sig(2L))
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sig(1L), sig(3L)) < hamming(sig(1L), sig(4L)))
  }

  test("brute-force cosine top-k ranks an identical vector first") {
    val emb = spark.createDataFrame(Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f, 0.0f)),     // identical direction to 0
      (2L, Array(0.9f, 0.1f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f)),
      (4L, Array(-1.0f, 0.0f, 0.0f))))
      .toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") === 0), 3)
      .orderBy("rank").collect()
    assert(out.map(_.getAs[Long]("cid")).toSeq === Seq(1L, 2L, 3L))
    assert(out.head.getAs[Double]("cosine") === 1.0)
  }

  test("ANN recall telemetry: per-method hits bounded by returned and " +
    "denom, micro recall exact") {
    import spark.implicits._
    // 12 vectors in 3 well-separated directions; queries = ids % 4 == 0
    val emb = (0L until 12L).map { i =>
      val d = (i % 3).toInt
      val v = Array.fill(3)(0.01f * i); v(d) = 1.0f
      (i, v)
    }.toDF("vec_id", "embedding")
    val q = emb.filter(col("vec_id") % 4 === 0)
    val brute = Similarity.bruteForceTopK(emb, q, 3)
      .select(col("qid"), col("cid"))
    val sq8 = Similarity.sq8TopK(emb, q, 3)
      .select(lit("sq8").as("method"), col("qid"), col("cid"))
    val denom = brute.count()
    val hits = sq8.join(brute, Seq("qid", "cid")).count()
    val recallMicro = 1000000L * hits / denom
    // SQ8 at this separation reproduces brute force exactly
    assert(denom === q.count() * 3)
    assert(hits === denom)
    assert(recallMicro === 1000000L)
  }

  test("SQ8 top-k: codes bounded at ±127, identical direction ranks first, " +
    "zero-vector corpus member scores 0 (not NaN)") {
    val emb = spark.createDataFrame(Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f, 0.0f)),      // identical direction to 0
      (2L, Array(0.9f, 0.1f, 0.0f)),
      (3L, Array(0.0f, 2.0f, 0.0f)),      // sets the scale s = 2e6
      (4L, Array(0.0f, 0.0f, 0.0f))))     // zero vector: guard must fire
      .toDF("vec_id", "embedding")
    val out = Similarity.sq8TopK(emb, emb.filter(col("vec_id") === 0), 4)
      .orderBy("rank").collect()
    assert(out.map(_.getAs[Long]("cid")).toSeq === Seq(1L, 2L, 3L, 4L))
    assert(out.head.getAs[Double]("cosine") === 1.0)
    // zero vector ranks last at exactly 0 — the NaN guard
    assert(out.last.getAs[Double]("cosine") === 0.0)
    // the scale-setting vector's own code hits exactly ±127 and no code
    // can exceed it (s = max|x| bounds every ratio at 1)
    val codes = emb.select(graft.pipeline.Similarity.quantize(col("embedding")).as("cv"))
    val s = codes.agg(max(array_max(transform(col("cv"), abs(_))))).head.getLong(0)
    assert(s === 2000000L)
    // an out-of-corpus query past the scale SATURATES at ±127 (codes stay
    // byte-ranged) and still ranks the matching direction first
    val qBig = spark.createDataFrame(Seq((99L, Array(5.0f, 0.0f, 0.0f))))
      .toDF("vec_id", "embedding")
    val outBig = Similarity.sq8TopK(emb, qBig, 1).head
    assert(outBig.getAs[Long]("cid") === 0L)
    assert(outBig.getAs[Double]("cosine") === 1.0)
  }

  test("LSH-bucketed top-k agrees with brute force for in-bucket neighbors") {
    val emb = spark.createDataFrame(Seq(
      (0L, Array(1.0f, 1.0f, -1.0f)),
      (1L, Array(0.9f, 0.8f, -0.7f)),
      (2L, Array(-1.0f, 1.0f, 1.0f))))
      .toDF("vec_id", "embedding")
    val out = Similarity.lshTopK(emb, emb.filter(col("vec_id") === 0), 1, 3)
      .collect()
    assert(out.length === 1 && out.head.getAs[Long]("cid") === 1L)
  }

  test("SemDeDup: within-cluster near-dups collapse to the lowest id, " +
       "cross-cluster lookalikes and distinct vectors survive, the " +
       "cluster cap bounds the pivot set (Abbas 2023 arXiv:2303.09540)") {
    // two tight direction families; 0/1/2 are near-identical (one
    // cluster), 3/4 near-identical in the opposite family, 5 isolated
    val emb = spark.createDataFrame(Seq(
      (0L, Array(1.0f, 0.02f, 0.01f, 0.0f)),
      (1L, Array(0.99f, 0.03f, 0.0f, 0.01f)),
      (2L, Array(1.0f, 0.0f, 0.02f, 0.02f)),
      (3L, Array(-0.01f, 1.0f, 0.02f, 0.0f)),
      (4L, Array(0.0f, 0.98f, 0.0f, 0.03f)),
      (5L, Array(0.0f, 0.01f, -1.0f, 0.4f))))
      .toDF("vec_id", "embedding")
    val out = Similarity.semDedup(emb, threshold = 0.9, nCentroids = 2,
      lloydIters = 1)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("kept"))
      .toMap
    assert(out === Map(0L -> true, 1L -> false, 2L -> false,
      3L -> true, 4L -> false, 5L -> true))
    // determinism across partitionings
    val again = Similarity.semDedup(emb.repartition(5), threshold = 0.9,
      nCentroids = 2, lloydIters = 1)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("kept"))
      .toMap
    assert(again === out)
    // a cluster cap of 1 leaves only one pivot per cluster: every doc
    // beyond the pivot's reach survives, but the pivot still prunes its
    // own above-threshold neighbors — the md5-first member of the 0/1/2
    // cluster is doc 0 (md5("0") sorts first among 0,1,2)
    val capped = Similarity.semDedup(emb, threshold = 0.9, nCentroids = 2,
      lloydIters = 1, maxClusterSize = 1)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("kept"))
      .toMap
    assert(capped.count(!_._2) <= out.count(!_._2)) // cap only loses recall
    assert(capped(0L) && capped(3L) && capped(5L))  // keepers never flip
  }

  test("SemDeDup block salt is EXACT: forced multi-block output is " +
       "set-identical to the unblocked join, including on a degenerate " +
       "identical-vector mass spanning many blocks") {
    import spark.implicits._
    // 40 identical vectors (one direction, ids interleaved so md5-hashed
    // blocks split the mass arbitrarily) + 5 distinct tail directions
    val rows = (0L until 40L).map(i => (i, Array(1.0f, 0.01f, 0.0f, 0.0f))) ++
      Seq((100L, Array(0.0f, 1.0f, 0.0f, 0.1f)),
        (101L, Array(0.0f, 0.95f, 0.05f, 0.1f)),
        (102L, Array(0.0f, 0.0f, 1.0f, -0.3f)),
        (103L, Array(0.3f, 0.0f, -1.0f, 0.2f)),
        (104L, Array(-0.5f, 0.5f, 0.5f, 0.5f)))
    val emb = rows.toDF("vec_id", "embedding")
    def run(blockSize: Int): Map[Long, (String, Boolean)] =
      Similarity.semDedup(emb, threshold = 0.9, nCentroids = 3,
        lloydIters = 1, saltBlockSize = blockSize)
        .collect().map(r => r.getAs[Long]("vec_id") ->
          ((r.getAs[String]("cluster"), r.getAs[Boolean]("kept")))).toMap
    val unblocked = run(Int.MaxValue)      // single-block plain join
    val salted = run(4)                    // the 40-mass spans ~10 blocks
    assert(salted === unblocked)
    // the mass collapses to exactly one keeper (its smallest id, 0)
    assert(unblocked(0L)._2)
    assert((1L until 40L).forall(i => !unblocked(i)._2))
    // partitioning invariance holds through the blocked path too
    val saltedRepart = Similarity.semDedup(emb.repartition(7),
      threshold = 0.9, nCentroids = 3, lloydIters = 1, saltBlockSize = 4)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[String]("cluster"), r.getAs[Boolean]("kept")))).toMap
    assert(saltedRepart === unblocked)
  }

  test("SemDeDup exact-mode envelope: a cluster just past 64*saltBlockSize " +
       "saturates the block cap, warns loudly, and stays set-identical " +
       "to the unblocked join (work envelope, never semantics)") {
    import spark.implicits._
    // saltBlockSize = 1 → envelope = 64; a 70-member identical-direction
    // cluster sits just past it (nblk caps at 64) + 3 distinct tails
    assert(Similarity.semDedupExactEnvelope(1) === 64L)
    assert(Similarity.semDedupExactEnvelope(256) === 16384L)
    val rows = (0L until 70L).map(i => (i, Array(1.0f, 0.01f, 0.0f, 0.0f))) ++
      Seq((100L, Array(0.0f, 1.0f, 0.0f, 0.1f)),
        (101L, Array(0.0f, 0.0f, 1.0f, -0.3f)),
        (102L, Array(-0.5f, 0.5f, 0.5f, 0.5f)))
    val emb = rows.toDF("vec_id", "embedding")
    def run(blockSize: Int): Map[Long, Boolean] =
      Similarity.semDedup(emb, threshold = 0.9, nCentroids = 2,
        lloydIters = 1, saltBlockSize = blockSize)
        .collect().map(r => r.getAs[Long]("vec_id") ->
          r.getAs[Boolean]("kept")).toMap
    val unblocked = run(Int.MaxValue)
    // capture the envelope warning: the boundary cluster (70 > 64) must
    // name its size and the saltBlockSize that restores bounded tasks
    val errBuf = new java.io.ByteArrayOutputStream()
    val realErr = System.err
    val salted = try {
      System.setErr(new java.io.PrintStream(errBuf, true, "UTF-8"))
      run(1)
    } finally System.setErr(realErr)
    assert(salted === unblocked)
    assert(unblocked(0L) && (1L until 70L).forall(i => !unblocked(i)))
    val warning = errBuf.toString("UTF-8")
    assert(warning.contains("past the work envelope 64*saltBlockSize=64"))
    assert(warning.contains("70 members"))
    assert(warning.contains(">= 2")) // ceil(70/64) — the suggested size
  }

  test("cluster-balanced sample caps head clusters, keeps tails whole, " +
    "and is invariant to partitioning") {
    import spark.implicits._
    // 20 near-identical head vectors vs 3 orthogonal tail vectors
    val rows = (0L until 20L).map(i =>
      (i, Array(1.0f, 0.001f * i, 0.0f))) ++ Seq(
      (100L, Array(0.0f, 1.0f, 0.0f)),
      (101L, Array(0.0f, 0.9f, 0.1f)),
      (102L, Array(0.0f, 0.0f, 1.0f)))
    val emb = rows.toDF("vec_id", "embedding")
    val out = Similarity.clusterSample(emb, perCluster = 5, nCentroids = 3)
    val perCluster = out.filter(col("kept")).groupBy("cluster").count()
      .collect().map(_.getLong(1))
    assert(perCluster.forall(_ <= 5))
    assert(out.filter(col("kept")).count() < 23) // the head cluster was capped
    // every rank within a cluster is the md5 order: rank 1..n contiguous
    val ranks = out.filter(col("cluster") === out.filter(col("vec_id") === 0L)
      .select("cluster").head.getString(0))
      .select("sampleRank").collect().map(_.getLong(0)).sorted
    assert(ranks.toSeq === (1L to ranks.length).toSeq)
    // partitioning invariance (the md5 order is data, not physical, order)
    val out2 = Similarity.clusterSample(emb.repartition(7), perCluster = 5,
      nCentroids = 3)
    assert(out.orderBy("vec_id").collect().toSeq ===
      out2.orderBy("vec_id").collect().toSeq)
  }

  test("D4 prototype pruning drops the most-centroid-like fraction of " +
       "each cluster, keeps outliers, is partition-independent " +
       "(Tirumala 2023 arXiv:2308.12284)") {
    // one tight family around +x whose most prototypical member is 0 (the
    // exact axis) and whose least prototypical member is 3 (largest
    // off-axis component); a second family around +y
    val emb = spark.createDataFrame(Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.05f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.06f, 0.0f)),
      (3L, Array(0.8f, 0.3f, 0.3f, 0.0f)),
      (4L, Array(0.0f, 1.0f, 0.02f, 0.0f)),
      (5L, Array(0.02f, 1.0f, 0.0f, 0.0f))))
      .toDF("vec_id", "embedding")
    val out = Similarity.prototypePrune(emb, dropFraction = 0.5,
      nCentroids = 2, lloydIters = 1)
    val rows = out.collect()
    assert(rows.length === 6)
    val kept = rows.map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("kept")).toMap
    val byCluster = rows.groupBy(_.getAs[String]("cluster"))
    // every cluster keeps size - floor(0.5*size) members
    byCluster.values.foreach { members =>
      val expectKept = members.length - members.length / 2
      assert(members.count(_.getAs[Boolean]("kept")) === expectKept)
    }
    // the least prototypical member of the x-family (doc 3) survives; in
    // its 4-member cluster exactly the 2 most prototypical are dropped
    assert(kept(3L))
    // scores are cosines to the member's own centroid: within [−1, 1]
    assert(rows.forall { r =>
      val p = r.getAs[Double]("proto"); p >= -1.0 && p <= 1.0 })
    // partition independence
    val again = Similarity.prototypePrune(emb.repartition(5),
      dropFraction = 0.5, nCentroids = 2, lloydIters = 1)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("kept")).toMap
    assert(again === kept)
  }

  test("D4 composition: SemDeDup survivors feed the prototype phase — " +
       "removed near-dups are absent, the output equals prototypePrune " +
       "run on the survivor set (Tirumala 2023 §2)") {
    val emb = spark.createDataFrame(Seq(
      (0L, Array(1.0f, 0.02f, 0.01f, 0.0f)),
      (1L, Array(0.99f, 0.03f, 0.0f, 0.01f)),   // near-dup of 0 → removed
      (2L, Array(1.0f, 0.0f, 0.02f, 0.02f)),    // near-dup of 0 → removed
      (3L, Array(-0.01f, 1.0f, 0.02f, 0.0f)),
      (4L, Array(0.0f, 0.98f, 0.0f, 0.03f)),    // near-dup of 3 → removed
      (5L, Array(0.0f, 0.01f, -1.0f, 0.4f))))
      .toDF("vec_id", "embedding")
    val out = Similarity.d4(emb, threshold = 0.9, dropFraction = 0.5,
      nCentroids = 2, lloydIters = 1).collect()
    // phase 1 removed 1, 2, 4 (the SemDeDup test's exact outcome)
    assert(out.map(_.getAs[Long]("vec_id")).sorted.toSeq === Seq(0L, 3L, 5L))
    // identical to running the prototype phase directly on the survivors
    val direct = Similarity.prototypePrune(
      emb.filter(col("vec_id").isin(0L, 3L, 5L)), dropFraction = 0.5,
      nCentroids = 2, lloydIters = 1)
      .collect().map(r => (r.getAs[Long]("vec_id"),
        r.getAs[Boolean]("kept"))).toMap
    assert(out.map(r => (r.getAs[Long]("vec_id"),
      r.getAs[Boolean]("kept"))).toMap === direct)
  }

  test("IVF top-k agrees with brute force when probing enough cells, and " +
       "is deterministic") {
    val emb = spark.createDataFrame(Seq(
      (0L, Array(1.0f, 1.0f, -1.0f, 0.5f)),
      (1L, Array(0.9f, 0.8f, -0.7f, 0.4f)),   // near 0
      (2L, Array(-1.0f, 1.0f, 1.0f, -0.2f)),
      (3L, Array(0.1f, -0.9f, 0.3f, 0.8f)),
      (4L, Array(0.8f, 0.9f, -0.9f, 0.6f))))  // also near 0
      .toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") === 0)
    // probing ALL cells makes IVF exhaustive → must equal brute force
    val ivfAll = Similarity.ivfTopK(emb, queries, k = 2,
      nCentroids = 3, nProbe = 3).orderBy("rank").collect()
    val brute = Similarity.bruteForceTopK(emb, queries, 2)
      .orderBy("rank").collect()
    assert(ivfAll.map(_.getAs[Long]("cid")).toSeq ===
      brute.map(_.getAs[Long]("cid")).toSeq)
    assert(ivfAll.map(_.getAs[Double]("cosine")).toSeq ===
      brute.map(_.getAs[Double]("cosine")).toSeq)
    // single-probe search still finds the in-cell nearest neighbor and is
    // stable across runs (deterministic centroid sample + tie-breaks)
    val p1a = Similarity.ivfTopK(emb, queries, k = 1, nCentroids = 3, nProbe = 1)
      .collect().map(r => (r.getAs[Long]("cid"), r.getAs[Double]("cosine"))).toSeq
    val p1b = Similarity.ivfTopK(emb, queries, k = 1, nCentroids = 3, nProbe = 1)
      .collect().map(r => (r.getAs[Long]("cid"), r.getAs[Double]("cosine"))).toSeq
    assert(p1a === p1b)
    assert(p1a.nonEmpty)
  }

  test("connected components: large-star/small-star fixpoint equals naive " +
       "union-find on chains, cliques, and a random graph") {
    import scala.util.Random
    // deterministic random graph + known shapes
    val rnd = new Random(42)
    val chain = (0L until 10L).sliding(2).map(s => (s(0), s(1))).toSeq
    val clique = for (a <- 20L to 24L; b <- (a + 1) to 24L) yield (a, b)
    val randomEdges = Seq.fill(60)((rnd.nextInt(40) + 100L, rnd.nextInt(40) + 100L))
      .filter { case (a, b) => a != b }
    // degenerate hub: one node adjacent to 2000 others — the shape that
    // would blow up a per-node neighbor-set agg buffer; the agg+join
    // formulation streams it
    val hub = (1L to 2000L).map(i => (1000000L, 1000000L + i))
    val edges = chain ++ clique ++ randomEdges ++ hub
    // naive union-find reference
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(n => (n, find(n))).toMap
    val df = spark.createDataFrame(edges).toDF("idA", "idB")
    val got = Clusters.connectedComponents(df).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === expected)
  }

  test("dedupDecisions keeps exactly the component minima and singletons") {
    val docs = spark.range(0, 10).toDF("doc_id")
    val pairs = spark.createDataFrame(Seq((1L, 3L), (3L, 5L), (7L, 8L)))
      .toDF("idA", "idB")
    val out = Clusters.dedupDecisions(docs, "doc_id", pairs).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getBoolean(2)))).toMap
    assert(out(1L) === ((1L, true)) && out(3L) === ((1L, false)) &&
      out(5L) === ((1L, false)))
    assert(out(7L) === ((7L, true)) && out(8L) === ((7L, false)))
    // singletons keep themselves
    assert(Seq(0L, 2L, 4L, 6L, 9L).forall(i => out(i) === ((i, true))))
  }

  test("mixture rates realize the target mix at the no-upsampling maximum " +
       "and mixtureSample keeps per-source hash membership") {
    import spark.implicits._
    // 100/50/10 docs of a/b/c; targets 50/30/20 → M* = min(200, 166.6, 50)
    // = 50 → rates: a = .5*50/100 = 0.25, b = .3*50/50 = 0.3, c = 1.0
    val docs = ((1 to 100).map(i => (i.toLong, "a")) ++
      (101 to 150).map(i => (i.toLong, "b")) ++
      (151 to 160).map(i => (i.toLong, "c"))).toDF("doc_id", "source")
    val rates = Sampling.mixtureRates(docs, col("source"),
      Map("a" -> 0.5, "b" -> 0.3, "c" -> 0.2)).orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(3))).toSeq
    assert(rates === Seq(("a", 100L, 0.25), ("b", 50L, 0.3), ("c", 10L, 1.0)))
    val sampled = Sampling.mixtureSample(docs, col("source"), col("doc_id"),
      Map("a" -> 0.5, "b" -> 0.3, "c" -> 0.2), "seed-x")
    // binding source keeps everything; unlisted would drop (none here);
    // membership = the stratifiedSample hash rule, reproducible
    val bySrc = sampled.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("c") === 10L)
    assert(bySrc("a") > 0 && bySrc("a") < 100)
    val again = Sampling.mixtureSample(docs, col("source"), col("doc_id"),
      Map("a" -> 0.5, "b" -> 0.3, "c" -> 0.2), "seed-x")
    assert(again.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ===
      sampled.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)
    // unlisted sources drop entirely
    val plus = docs.union(Seq((999L, "zz")).toDF("doc_id", "source"))
    assert(Sampling.mixtureSample(plus, col("source"), col("doc_id"),
      Map("a" -> 0.5, "b" -> 0.3, "c" -> 0.2), "seed-x")
      .filter(col("source") === "zz").count() === 0L)
    // a listed source with no documents is an error, not a silent renorm
    intercept[IllegalArgumentException] {
      Sampling.mixtureRates(docs, col("source"),
        Map("a" -> 0.5, "ghost" -> 0.5)).collect()
    }
  }

  test("deterministic shuffle: partitions are hash-contiguous and " +
       "internally sorted (ranged sort, no global single-partition sort)") {
    val docs = spark.range(0, 500).toDF("doc_id")
    val shuffled = Sampling.deterministicShuffle(docs, col("doc_id"), "s", 8)
    val perPart = shuffled.select(col("shuffle_key"))
      .rdd.mapPartitionsWithIndex { (i, it) =>
        val keys = it.map(_.getString(0)).toVector
        Iterator((i, keys))
      }.collect().sortBy(_._1)
    // within-partition sorted
    assert(perPart.forall { case (_, ks) => ks == ks.sorted })
    // cross-partition ranges disjoint and ascending
    val nonEmpty = perPart.filter(_._2.nonEmpty)
    nonEmpty.sliding(2).foreach {
      case Array((_, a), (_, b)) => assert(a.last <= b.head)
      case _ =>
    }
    // it is a permutation of the input
    assert(perPart.flatMap(_._2).length === 500)
  }

  test("multimodal claim pointers: large payloads drop inline bytes and " +
       "materialize lazily from the claim URI (FlowFile.h:44-50)") {
    val dir = java.nio.file.Files.createTempDirectory("claims")
    val bigPath = dir.resolve("big.bin")
    java.nio.file.Files.write(bigPath, Array.fill[Byte](100)(7))
    val df = spark.createDataFrame(Seq(
      (1L, "tiny", "unused"),
      (2L, "x" * 100, bigPath.toString)))
      .toDF("id", "content", "uri")
    val wrapped = Multimodal.wrapBinary(df, col("id"), col("content"),
      "application/octet-stream", col("uri"))
    val claimed = Multimodal.claimPointers(wrapped, inlineMax = 10)
    val rows = claimed.orderBy("mmId")
      .select(col("payload").isNull.as("spilled"),
        Multimodal.materializePayload(col("payload"), col("meta.sourceUri"))
          .as("bytes"))
      .collect()
    assert(rows(0).getBoolean(0) === false) // small: stays inline
    assert(rows(1).getBoolean(0) === true)  // large: claim pointer only
    assert(new String(rows(0).getAs[Array[Byte]]("bytes")) === "tiny")
    // large payload materializes from the claim file, not the row
    assert(rows(1).getAs[Array[Byte]]("bytes").toSeq === Seq.fill(100)(7.toByte))
  }

  test("claim-pointer pixel decode: a spilled image payload materializes " +
       "from its claim URI at the consumer and decodes to the exact pixel " +
       "stats — the decode-where-the-consumer-runs story with REAL pixels") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("imgclaims")
    // a 4×3 synthetic PNG spilled to a claim file (over the inline cap)
    // and a tiny one that stays inline — both must decode identically
    // whether the bytes ride the row or the claim
    val bigPng = Multimodal.synthPng(11L, 4, 3)
    val bigPath = dir.resolve("big.png")
    java.nio.file.Files.write(bigPath, bigPng)
    val smallPng = Multimodal.synthPng(5L, 1, 1)
    val df = Seq(
      (1L, smallPng, "unused"),
      (2L, bigPng, bigPath.toString)).toDF("id", "img", "uri")
    val wrapped = Multimodal.wrapBinary(df, col("id"), col("img"),
      "image/png", col("uri"))
    val claimed = Multimodal.claimPointers(wrapped,
      inlineMax = smallPng.length)
    // the spill actually happened (the big image is a pointer now)
    assert(claimed.filter(col("mmId") === 2 && col("payload").isNull)
      .count() === 1)
    val materialized = claimed.withColumn("payload",
      Multimodal.materializePayload(col("payload"), col("meta.sourceUri")))
    val out = Multimodal.imagePixelStats(materialized).collect()
      .map(r => r.getLong(0) -> r).toMap
    def expect(seed: Long, w: Int, h: Int) = {
      val pix = for (y <- 0 until h; x <- 0 until w) yield (
        (seed + 3 * x + 5 * y) % 256,
        (2 * seed + 7 * x + 11 * y) % 256,
        (3 * seed + 13 * x + 17 * y) % 256)
      (w.toLong, h.toLong, pix.map(_._1).sum, pix.map(_._2).sum,
        pix.map(_._3).sum)
    }
    val (w2, h2, r2, g2, b2) = expect(11L, 4, 3)
    assert(out(2L).getAs[Long]("width") === w2)
    assert(out(2L).getAs[Long]("height") === h2)
    assert(out(2L).getAs[Long]("sumR") === r2)
    assert(out(2L).getAs[Long]("sumG") === g2)
    assert(out(2L).getAs[Long]("sumB") === b2)
    val (_, _, r1, g1, b1) = expect(5L, 1, 1)
    assert(out(1L).getAs[Long]("nPixels") === 1L)
    assert((out(1L).getAs[Long]("sumR"), out(1L).getAs[Long]("sumG"),
      out(1L).getAs[Long]("sumB")) === ((r1, g1, b1)))
  }

  test("language id picks the max-marker language deterministically") {
    val d = spark.createDataFrame(Seq(
      (1L, "x the y the z the w"), (2L, "x data y data z"), (3L, "nothing here")))
      .toDF("doc_id", "text")
    val out = d.select(col("doc_id"), TextAnalysis.languageId(col("text"), Seq(
      "en" -> Seq("the"), "es" -> Seq("data"))).as("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(1L -> "en", 2L -> "es", 3L -> "und"))
  }

  test("token counts: whitespace vs BPE-ish") {
    val d = spark.createDataFrame(Seq(
      (1L, "hello world42 !"), (2L, ""))).toDF("doc_id", "text")
    val out = d.select(col("doc_id"),
      TextAnalysis.tokenCountWhitespace(col("text")),
      TextAnalysis.tokenCountBpeIsh(col("text"))).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSet === Set((1L, 3L, 4L), (2L, 0L, 0L)))
    // BPE-ish tokens: hello | world | 42 | !
  }

  test("htmlToText: strips script/style/comments wholesale, decodes basic " +
    "entities with &amp; last, collapses whitespace") {
    import spark.implicits._
    val page = "<html><head><style>p{a:1}</style>" +
      "<script>if (1 < 2) { alert('x'); }</script></head>" +
      "<body><!-- chrome --><h1>Title</h1>\n\n" +
      "<p>Fish &amp; chips &lt;b&gt; &amp;lt;literal&amp;gt; " +
      "&quot;q&quot; &#39;s&#39;&nbsp;end</p></body></html>"
    val out = Seq(Tuple1(page)).toDF("html")
      .select(TextAnalysis.htmlToText(col("html")).as("t"))
      .head.getString(0)
    assert(out === "Title Fish & chips <b> &lt;literal&gt; \"q\" 's' end")
  }

  test("winnowing: docs sharing a run of >= w+k-1 words share a " +
    "fingerprint; short docs emit nothing; partitioning-invariant") {
    import spark.implicits._
    val shared = "alpha beta gamma delta epsilon zeta eta theta" // 8 = w+k-1
    val df = Seq(
      (1L, s"one two three $shared four five six seven"),
      (2L, s"nine ten $shared eleven twelve thirteen fourteen"),
      (3L, "entirely unrelated words with no overlap at all here"),
      (4L, "too short")).toDF("doc_id", "text")
    val fps = TextAnalysis.winnowing(df, col("doc_id"), col("text"), 5, 4)
    val byDoc = fps.collect().groupBy(_.getAs[Long]("docId"))
      .map { case (k, v) => k -> v.map(_.getAs[Long]("fp")).toSet }
    // the SIGMOD guarantee: >= one shared fingerprint for the shared run
    assert((byDoc(1L) intersect byDoc(2L)).nonEmpty)
    assert((byDoc(1L) intersect byDoc(3L)).isEmpty)
    assert(!byDoc.contains(4L)) // below w+k-1: no full window
    // positions are in-range k-gram anchors
    val pos = fps.filter(col("docId") === 1L).select("fpPos")
      .collect().map(_.getLong(0))
    assert(pos.forall(p => p >= 0 && p <= 15 - 5)) // 15 words, k=5
    val fps2 = TextAnalysis.winnowing(df.repartition(5), col("doc_id"),
      col("text"), 5, 4)
    assert(fps.orderBy("docId", "fp", "fpPos").collect().toSeq ===
      fps2.orderBy("docId", "fp", "fpPos").collect().toSeq)
  }

  test("gram novelty: first doc owns its grams, an exact copy scores 0, " +
    "partial overlap in between") {
    import spark.implicits._
    import graft.pipeline.Wimbd
    val base = (1 to 12).map(i => s"base$i").mkString(" ")
    val df = Seq(
      (1L, base),                                   // all novel
      (2L, base),                                   // exact copy: 0 novel
      (3L, base + " " + (1 to 6).map(i => s"new$i").mkString(" ")),
      (4L, (1 to 12).map(i => s"other$i").mkString(" "))) // disjoint: all novel
      .toDF("doc_id", "text")
    val out = Wimbd.gramNovelty(df, col("doc_id"), col("text"), n = 5)
      .collect().map(r => r.getAs[Long]("docId") ->
        (r.getAs[Long]("nGrams"), r.getAs[Long]("nNovel"))).toMap
    assert(out(1L) === (8L, 8L))
    assert(out(2L) === (8L, 0L))
    assert(out(4L) === (8L, 8L))
    val (n3, nov3) = out(3L)
    assert(n3 === 14L && nov3 > 0L && nov3 < 14L) // the appended tail is new
  }

  test("zipf fit: a 1/r corpus slopes near -1, a uniform corpus near 0") {
    import spark.implicits._
    import graft.pipeline.Wimbd
    // counts c_r = 2*(64/r): rank r word repeated that many times
    val zipfText = (1 to 64).flatMap(r =>
      Seq.fill(2 * (64 / r).max(1))(s"w%02d".format(r))).mkString(" ")
    val slope = Wimbd.zipfFit(Seq(Tuple1(zipfText)).toDF("text"),
      col("text"), topV = 64).head.getAs[Long]("slope_micro")
    assert(slope < -800000L && slope > -1200000L, s"slope=$slope")
    val uniText = (1 to 64).flatMap(r => Seq.fill(5)(s"u$r")).mkString(" ")
    val flat = Wimbd.zipfFit(Seq(Tuple1(uniText)).toDF("text"),
      col("text"), topV = 64).head.getAs[Long]("slope_micro")
    assert(flat === 0L, s"flat=$flat")
    // empty corpus: a zero row, not a divide crash
    val empty = Wimbd.zipfFit(Seq(Tuple1("")).toDF("text")
      .filter(col("text") =!= ""), col("text"), topV = 64).head
    assert((empty.getLong(0), empty.getLong(1), empty.getLong(2)) ===
      ((0L, 0L, 0L)))
  }

  test("calibration table: decile binning, truncating means, the 1e6 " +
    "boundary clamps into the last bin") {
    import spark.implicits._
    import graft.pipeline.Classifier
    val scored = Seq(
      (1L, 50000L, false),   // bin 0
      (2L, 149999L, true),   // bin 1
      (3L, 150000L, false),  // bin 1 (boundary goes UP at exactly .15e6*10)
      (4L, 999999L, true),   // bin 9
      (5L, 1000000L, true))  // exactly 1.0 clamps into bin 9
      .toDF("doc_id", "p", "y")
    val out = Classifier.calibration(scored, col("doc_id"), col("p"),
      col("y"), bins = 10)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(0L) === (1L, 50000L, 0L))
    assert(out(1L) === (2L, 149999L, 500000L)) // (149999+150000) div 2; 1 of 2 pos
    assert(out(9L) === (2L, 999999L, 1000000L))
    assert(out.keySet === Set(0L, 1L, 9L))
  }

  test("KMV sketch: exact below k, identical sources fully intersect, " +
    "disjoint sources intersect at zero") {
    import spark.implicits._
    import graft.pipeline.Sketches
    val textA = (1 to 30).map(i => s"alpha$i").mkString(" ")  // 26 shingles
    val textB = (1 to 30).map(i => s"beta$i").mkString(" ")   // disjoint
    val df = Seq(("a", textA), ("a2", textA), ("b", textB))
      .toDF("source", "text")
    val sk = Sketches.kmvSketch(df, col("source"), col("text"), n = 5, k = 64)
    val est = Sketches.kmvEstimates(sk, 64).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // below k: the sketch IS the value set — estimate exact
    assert(est("a") === (26L, 26L))
    assert(est("a2") === (26L, 26L))
    assert(est("b") === (26L, 26L))
    val pairs = Sketches.kmvPairOps(sk, 64).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(4), r.getLong(5))).toMap
    // identical sources: union = each, intersection = each
    assert(pairs(("a", "a2")) === (26L, 26L))
    // disjoint: union = sum, intersection = 0
    assert(pairs(("a", "b")) === (52L, 0L))
  }

  test("winnowing overlap: shared-run pairs found, boilerplate fps over " +
    "the df-cap carry no signal, minShared demands multiple witnesses") {
    import spark.implicits._
    val run = (1 to 12).map(i => s"shared$i").mkString(" ")
    val boiler = (1 to 12).map(i => s"boiler$i").mkString(" ")
    // docs 1,2 share a real 12-word run; EVERY doc carries the boilerplate
    val df = Seq(
      (1L, s"one two three four five $run"),
      (2L, s"six seven eight nine ten $run"),
      (3L, "eleven twelve thirteen fourteen fifteen sixteen seventeen er"))
      .toDF("doc_id", "text")
      .withColumn("text", concat(col("text"), lit(" " + boiler)))
    val pairs = TextAnalysis.winnowOverlapPairs(df, col("doc_id"),
      col("text"), k = 5, w = 4, minShared = 2, dfCap = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // boilerplate fps have df = 3 > 2 → dropped; only the true pair remains
    assert(pairs === Set((1L, 2L)))
    // with the cap relaxed the boilerplate makes every pair a candidate
    val loose = TextAnalysis.winnowOverlapPairs(df, col("doc_id"),
      col("text"), k = 5, w = 4, minShared = 2, dfCap = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(loose === Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("fingerprint is stable under id and sensitive to content") {
    val out = docs.filter(length(col("text")) > 0).select(col("doc_id"),
      TextAnalysis.fingerprint(col("text"), 3).as("fp")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === out(2L))
    assert(out(1L) !== out(4L))
  }

  test("repetition features: duplicated words/bigrams counted per doc " +
       "(C4/Gopher-style filters)") {
    val reps = spark.createDataFrame(Seq(
      (1L, "a a a a"),          // one word repeated 4x
      (2L, "a b a b a b"),      // bigram 'a b' 3x (of 5 bigrams)
      (3L, "x y z"),            // no repetition
      (4L, "solo")))            // single word: 1 unigram, 1 "bigram" (whole text)
      .toDF("doc_id", "text")
    val uni = TextAnalysis.repetitionFeatures(reps, col("doc_id"),
      col("text"), 1).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    assert(uni(1L) === ((4L, 1L, 4L, 4L)))  // 4 grams, 1 distinct, top 4, all dup
    assert(uni(3L) === ((3L, 3L, 1L, 0L)))
    assert(uni(4L) === ((1L, 1L, 1L, 0L)))
    val bi = TextAnalysis.repetitionFeatures(reps, col("doc_id"),
      col("text"), 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    assert(bi(2L) === ((5L, 2L, 3L, 5L)))  // 'a b'x3 + 'b a'x2 — all duplicated
    assert(bi(4L) === ((1L, 1L, 1L, 0L)))  // short doc folds to whole text
  }

  test("PII redaction replaces emails/IPs/phones and counts them") {
    val rows = spark.createDataFrame(Seq(
      (1L, "mail bob.smith+x@sub.example.org now"),
      (2L, "host 192.168.0.1 and phone 555-0123"),
      (3L, "clean text with nothing sensitive"),
      (4L, "a@b.co 1.2.3.4 999-1111 all three")))
      .toDF("id", "s")
    val out = rows.select(col("id"),
      TextAnalysis.redactPii(col("s")).as("r"),
      TextAnalysis.piiCounts(col("s")).toMap.apply("n_emails").as("e"),
      TextAnalysis.piiCounts(col("s")).toMap.apply("n_ips").as("i"),
      TextAnalysis.piiCounts(col("s")).toMap.apply("n_phones").as("p"))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out(1L) === (("mail [EMAIL] now", 1L, 0L, 0L)))
    assert(out(2L) === (("host [IP] and phone [PHONE]", 0L, 1L, 1L)))
    assert(out(3L)._1 === "clean text with nothing sensitive")
    assert(out(4L) === (("[EMAIL] [IP] [PHONE] all three", 1L, 1L, 1L)))
  }

  test("multimodal: binary wrap preserves bytes and decode batches features") {
    val wrapped = Multimodal.wrapBinary(docs.filter(col("doc_id") === 1),
      col("doc_id"), col("text"), "text/plain", lit("mem"))
    val m = wrapped.collect().head
    assert(new String(m.getAs[Array[Byte]]("payload"), "UTF-8")
      .startsWith("the quick"))
    val feats = Multimodal.decodeFeatures(wrapped).collect().head
    val size = m.getStruct(2).getLong(1)
    assert(feats.getAs[Long]("width") === size % 640 + 1)
    assert(feats.getAs[Long]("nFrames") === size / 100 + 1)
  }

  test("image header decode parses real PNG/JPEG/GIF bytes from the JDK " +
       "encoders and decodeFeatures uses them over the stub") {
    import java.awt.image.BufferedImage
    import javax.imageio.ImageIO
    import java.io.ByteArrayOutputStream
    val img = new BufferedImage(17, 23, BufferedImage.TYPE_INT_RGB)
    def encode(fmt: String): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      assert(ImageIO.write(img, fmt, bos), s"no JDK writer for $fmt")
      bos.toByteArray
    }
    assert(Multimodal.pngDims(encode("png")) === Some((17, 23)))
    assert(Multimodal.jpegDims(encode("jpg")) === Some((17, 23)))
    assert(Multimodal.gifDims(encode("gif")) === Some((17, 23)))
    assert(Multimodal.imageDims("plain text payload".getBytes("UTF-8")) === None)
    assert(Multimodal.imageDims(Array[Byte]()) === None)
    // end to end: a real PNG payload through wrap + decode gets real dims
    import spark.implicits._
    val one = Seq((42L, encode("png"), "mem")).toDF("id", "img", "src")
    val wrapped = Multimodal.wrapBinary(one, col("id"), col("img"),
      "image/png", col("src"))
    val feats = Multimodal.decodeFeatures(wrapped).collect().head
    assert(feats.getAs[Long]("width") === 17L)
    assert(feats.getAs[Long]("height") === 23L)
    assert(feats.getAs[Long]("nFrames") === 1L)
  }

  test("REAL pixel decode: imagePixelStats recovers the exact per-channel " +
       "sums/maxima of a synthetic lossless PNG, and non-image payloads " +
       "yield the total zero row") {
    import spark.implicits._
    // 3×2 image, seed 7: replay the synthPng formula by hand
    val seed = 7L
    val pix = for (y <- 0 until 2; x <- 0 until 3) yield (
      (seed + 3 * x + 5 * y) % 256,
      (2 * seed + 7 * x + 11 * y) % 256,
      (3 * seed + 13 * x + 17 * y) % 256)
    val df = Seq(
      (1L, Multimodal.synthPng(seed, 3, 2), "mem"),
      (2L, "definitely not an image".getBytes("UTF-8"), "mem"))
      .toDF("id", "img", "src")
    val wrapped = Multimodal.wrapBinary(df, col("id"), col("img"),
      "image/png", col("src"))
    val out = Multimodal.imagePixelStats(wrapped).collect()
      .map(r => r.getLong(0) -> r).toMap
    val img = out(1L)
    assert(img.getAs[Long]("width") === 3L)
    assert(img.getAs[Long]("height") === 2L)
    assert(img.getAs[Long]("nPixels") === 6L)
    assert(img.getAs[Long]("sumR") === pix.map(_._1).sum)
    assert(img.getAs[Long]("sumG") === pix.map(_._2).sum)
    assert(img.getAs[Long]("sumB") === pix.map(_._3).sum)
    assert(img.getAs[Long]("maxR") === pix.map(_._1).max)
    assert(img.getAs[Long]("maxG") === pix.map(_._2).max)
    assert(img.getAs[Long]("maxB") === pix.map(_._3).max)
    val zero = out(2L)
    assert(zero.getAs[Long]("nPixels") === 0L)
    assert(zero.getAs[Long]("sumR") === 0L && zero.getAs[Long]("maxB") === 0L)
    // channel formulas cross 255 in the 3×2/seed-7 grid? keep the fixture
    // honest: a bigger grid exercises the modulo wrap too
    val big = Seq((3L, Multimodal.synthPng(250L, 8, 6), "mem"))
      .toDF("id", "img", "src")
    val bigStats = Multimodal.imagePixelStats(Multimodal.wrapBinary(
      big, col("id"), col("img"), "image/png", col("src"))).collect().head
    val bigPix = for (y <- 0 until 6; x <- 0 until 8) yield (
      (250L + 3 * x + 5 * y) % 256,
      (2 * 250L + 7 * x + 11 * y) % 256,
      (3 * 250L + 13 * x + 17 * y) % 256)
    assert(bigStats.getAs[Long]("sumR") === bigPix.map(_._1).sum)
    assert(bigStats.getAs[Long]("sumG") === bigPix.map(_._2).sum)
    assert(bigStats.getAs[Long]("sumB") === bigPix.map(_._3).sum)
  }

  test("export_windows: stride-overlap chunking covers every token, " +
    "clamps the tail window, and keeps short docs whole") {
    import spark.implicits._
    val df = Seq(
      (1L, (1 to 20).map(i => s"w$i").mkString(" ")), // 20 tokens
      (2L, "a b c"),                                   // shorter than seqLen
      (3L, (1 to 8).map(i => s"v$i").mkString(" ")))   // exactly seqLen
      .toDF("doc_id", "text")
    val out = Sampling.exportWindows(df, col("doc_id"), col("text"),
      seqLen = 8, stride = 4)
      .collect().groupBy(_.getAs[Long]("docId"))
    // doc 1: 1 + ceil(12/4) = 4 windows at starts 0,4,8,12
    val d1 = out(1L).sortBy(_.getAs[Long]("windowId"))
    assert(d1.map(_.getAs[Long]("start")).toSeq === Seq(0L, 4L, 8L, 12L))
    assert(d1.forall(_.getAs[Long]("nTokens") === 8L))
    assert(d1.last.getAs[String]("text") ===
      (13 to 20).map(i => s"w$i").mkString(" ")) // tail covered exactly
    // doc 2: one whole-text window
    assert(out(2L).map(r => (r.getAs[Long]("start"),
      r.getAs[Long]("nTokens"), r.getAs[String]("text"))).toSeq ===
      Seq((0L, 3L, "a b c")))
    // doc 3 (n == seqLen): exactly one window, no phantom second
    assert(out(3L).length === 1)
    // 17 tokens with stride 4: tail window CLAMPS to start 9 (not 12)
    val d4 = Sampling.exportWindows(
      Seq((4L, (1 to 17).map(i => s"u$i").mkString(" "))).toDF("doc_id", "text"),
      col("doc_id"), col("text"), seqLen = 8, stride = 4)
      .collect().sortBy(_.getAs[Long]("windowId"))
    assert(d4.map(_.getAs[Long]("start")).toSeq === Seq(0L, 4L, 8L, 9L))
  }

  test("pack_sequences: bins follow the greedy offset rule, are a pure " +
       "function of (corpus, seed), and never start mid-budget") {
    val docs = spark.range(0, 400).toDF("doc_id")
      .withColumn("n_tokens", (col("doc_id") % 97 + 3).cast("long"))
    val packed = Sampling.packSequences(docs, col("doc_id"),
      col("n_tokens"), 256L, "p")
    val rows = packed.collect()
    assert(rows.length === 400)                       // every doc assigned
    // recompute the reference assignment sequentially on the driver
    def key(id: Long): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"p|$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val ordered = (0L until 400L).map(i => (key(i), i, i % 97 + 3)).sortBy(_._1)
    var acc = 0L
    val expect = ordered.map { case (_, id, tok) =>
      val bin = acc / 256L; acc += tok; id -> bin }.toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("bin") === expect(r.getAs[Long]("docId")),
        s"doc ${r.getAs[Long]("docId")}") }
    // determinism: a different partitioning yields identical bins
    val repacked = Sampling.packSequences(docs.repartition(7), col("doc_id"),
      col("n_tokens"), 256L, "p").collect()
      .map(r => r.getAs[Long]("docId") -> r.getAs[Long]("bin")).toMap
    assert(rows.map(r => r.getAs[Long]("docId") -> r.getAs[Long]("bin")).toMap
      === repacked)
  }

  test("dedupSegments: global first occurrence survives, later exact " +
       "segments vanish, fully-duplicated docs drop out") {
    val segDocs = spark.createDataFrame(Seq(
      (1L, "a b c d"),        // seg(2): "a b", "c d"
      (2L, "a b x y"),        // "a b" duplicates doc1 seg0 -> only "x y" kept
      (3L, "a b c d"),        // both segs duplicate doc1 -> doc vanishes
      (4L, "q q q q"),        // within-doc repeat: "q q" twice -> first kept
      (5L, "z z")))           // unique
      .toDF("doc_id", "text")
    val out = Dedup.dedupSegments(segDocs, col("doc_id"),
      Dedup.wordWindows(col("text"), 2))
      .collect().map(r => r.getAs[Long]("docId") -> r.getAs[String]("text")).toMap
    assert(out === Map(1L -> "a b c d", 2L -> "x y", 4L -> "q q", 5L -> "z z"))
    // separator-delimited corpora keep their separator through reassembly
    val lineDocs = spark.createDataFrame(Seq(
      (1L, "para one\npara two"), (2L, "para one\npara three")))
      .toDF("doc_id", "text")
    val byLine = Dedup.dedupSegments(lineDocs, col("doc_id"),
      split(col("text"), "\n"), joiner = "\n")
      .collect().map(r => r.getAs[Long]("docId") -> r.getAs[String]("text")).toMap
    assert(byLine === Map(1L -> "para one\npara two", 2L -> "para three"))
  }

  test("decontaminate flags n-gram overlap with the benchmark and " +
       "removeContaminated drops exactly those docs") {
    val corpus = spark.createDataFrame(Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "an entirely unrelated document about spark plans"),
      (3L, "we said the quick brown fox jumps again here")))
      .toDF("doc_id", "text")
    val bench = spark.createDataFrame(Seq(
      (100L, "quick brown fox jumps over a fence")))
      .toDF("doc_id", "text")
    val flagged = Decontaminate.contaminated(corpus, col("doc_id"),
      col("text"), bench, col("text"), 4)
      .collect().map(r => r.getAs[Long]("docId") -> r.getAs[Long]("nOverlaps")).toMap
    // 4-grams of bench: "quick brown fox jumps", "brown fox jumps over", ...
    assert(flagged.keySet === Set(1L, 3L))
    assert(flagged(1L) === 2L)  // "quick brown fox jumps" + "brown fox jumps over"
    assert(flagged(3L) === 1L)  // "quick brown fox jumps"
    val clean = Decontaminate.removeContaminated(corpus, col("doc_id"),
      col("text"), bench, col("text"), 4)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(clean === Set(2L))
  }

  test("span decontamination cuts padded windows around matches, keeps " +
       "surviving pieces, removes splintered docs (Brown 2020 " +
       "arXiv:2005.14165 App. C, word-granular)") {
    val bench = spark.createDataFrame(Seq((100L, "x y z")))
      .toDF("doc_id", "text")
    val corpus = spark.createDataFrame(Seq(
      (1L, "a b c d x y z e f g h"),        // one match at pos 4
      (2L, "totally clean words here"),      // no match
      (3L, "x y z q x y z"),                 // two merging matches → all cut
      // three far-apart matches → 4 surviving pieces > maxPieces=2
      (4L, "p p p x y z q q q q q x y z r r r r r x y z s s s")))
      .toDF("doc_id", "text")
    val out = Decontaminate.decontaminateSpans(corpus, col("doc_id"),
      col("text"), bench, col("text"),
      n = 3, padWords = 1, minPieceWords = 2, maxPieces = 2)
      .collect().map(r => r.getAs[Long]("docId") ->
        ((r.getAs[Long]("nMatches"), r.getAs[Int]("nPieces"),
          r.getAs[String]("action"), r.getAs[String]("text")))).toMap
    // doc 1: span [3,8) removes "d x y z e" → pieces "a b c" + "f g h"
    assert(out(1L) === ((1L, 2, "split", "a b c f g h")))
    assert(out(2L) === ((0L, 1, "clean", "totally clean words here")))
    // doc 3: matches at 0 and 4 merge (gap 4 < n+2·pad = 5) → one span
    // covering everything → zero surviving pieces
    assert(out(3L) === ((2L, 0, "removed", "")))
    // doc 4: spans [2,7) [10,15) [18,23) → pieces of 2/3/3/2 words = 4 > 2
    assert(out(4L) === ((3L, 4, "removed", "")))
    // determinism across partitionings
    val again = Decontaminate.decontaminateSpans(corpus.repartition(5),
      col("doc_id"), col("text"), bench, col("text"),
      n = 3, padWords = 1, minPieceWords = 2, maxPieces = 2)
      .collect().map(r => r.getAs[Long]("docId") ->
        ((r.getAs[Long]("nMatches"), r.getAs[Int]("nPieces"),
          r.getAs[String]("action"), r.getAs[String]("text")))).toMap
    assert(again === out)
  }

  test("PQ top-k (Jégou 2011): deterministic across partitionings, and " +
       "the ADC ranking recalls most of the brute-force top set") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") % 100 === 0)
    def run(df: org.apache.spark.sql.DataFrame) =
      Similarity.pqTopK(df, queries, topK = 5, m = 8, k = 16, iters = 2)
        .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank"),
          r.getAs[Long]("cid"), r.getAs[Double]("cosine")))
    val out = run(emb)
    val again = run(emb.repartition(7))
    assert(out.toSeq === again.toSeq)
    // recall vs brute force at the same k. Uniform-random fixture
    // embeddings are PQ's WORST case (no cluster structure — the paper's
    // recall curves are on structured SIFT/GIST data; probed here: 0.24
    // at m=8 up to 0.60 at m=32): the floor is a broken-ADC guard — a
    // random top-5 of 500 would recall ~0.01
    val brute = Similarity.bruteForceTopK(emb, queries, 5)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"))).toSet
    val pq = out.map(t => (t._1, t._3)).toSet
    val recall = (pq & brute).size.toDouble / brute.size
    assert(recall >= 0.15, s"PQ recall $recall below the broken-ADC floor")
    // every query returns exactly topK ranked rows
    assert(out.groupBy(_._1).values.forall(_.map(_._2).sorted.toSeq == Seq(1, 2, 3, 4, 5)))
  }

  test("contaminatedSemantic (Gunasekar 2023): a scaled copy of a benchmark " +
       "vector flags at cosine 1, an orthogonal one stays clean, and the " +
       "nearest-bench attribution is deterministic across partitionings") {
    import spark.implicits._
    val bench = Seq((100L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
                    (200L, Array(0.0f, 1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Array(2.0f, 0.0f, 0.0f, 0.0f)),   // scaled copy of bench 100
      (2L, Array(0.0f, 0.0f, 3.0f, 0.0f)),   // orthogonal to both
      (3L, Array(1.0f, 1.0f, 0.0f, 0.0f)))   // cos ~0.707 to both, tie->100
      .toDF("vec_id", "embedding")
    def run(c: org.apache.spark.sql.DataFrame) =
      Decontaminate.contaminatedSemantic(c, bench, threshold = 0.9)
        .collect().map(r => (r.getAs[Long]("vec_id"),
          r.getAs[Double]("max_cosine"), r.getAs[Long]("nearest_bench"),
          r.getAs[Boolean]("contaminated"))).sortBy(_._1)
    val out = run(corpus)
    assert(out.toSeq === run(corpus.repartition(5)).toSeq)
    assert(out(0) === ((1L, 1.0, 100L, true)))
    assert(out(1)._2 === 0.0 && !out(1)._4)
    assert(out(2)._3 === 100L && out(2)._2 === 0.707107 && !out(2)._4)
  }

  test("quality classifier (Brown 2020 App. A): NB log-odds separate the " +
       "classes, probability is length-stable, Pareto rule keeps a " +
       "low-score tail and is deterministic across partitionings") {
    import spark.implicits._
    // positives share a vocabulary; negatives another; a few mixed docs
    val hiWords = Seq("theorem", "lemma", "proof", "analysis", "journal")
    val loWords = Seq("click", "buy", "cheap", "deal", "subscribe")
    val rows =
      (0 until 40).map { i => (i.toLong, true,
        (0 until 30).map(j => hiWords((i + j) % 5)).mkString(" ")) } ++
      (40 until 80).map { i => (i.toLong, false,
        (0 until 30).map(j => loWords((i + j) % 5)).mkString(" ")) } ++
      // unlabeled-crawl stand-ins scored against the trained model: one
      // hi-vocab doc, one lo-vocab doc, at DIFFERENT lengths
      Seq((80L, false, (0 until 300).map(j => hiWords(j % 5)).mkString(" ")),
          (81L, false, (0 until 300).map(j => loWords(j % 5)).mkString(" ")))
    val df = rows.toDF("doc_id", "is_hq", "text")
    def run(d: org.apache.spark.sql.DataFrame) =
      Classifier.qualityFilterPareto(d, col("doc_id"), col("text"),
        col("is_hq")).collect()
        .map(r => (r.getAs[Long]("docId"), r.getAs[Long]("probMicro"),
          r.getAs[Long]("paretoMicro"), r.getAs[Boolean]("kept")))
        .sortBy(_._1)
    val out = run(df)
    assert(out.toSeq === run(df.repartition(7)).toSeq)
    val byId = out.map(t => t._1 -> t).toMap
    // class separation: every hi-vocab doc outscores every lo-vocab doc
    val hiProbs = (0L until 40L).map(byId(_)._2) :+ byId(80L)._2
    val loProbs = (40L until 80L).map(byId(_)._2) :+ byId(81L)._2
    assert(hiProbs.min > loProbs.max)
    // length normalization: the 300-token hi doc scores like the
    // 30-token hi docs (saturated sums would pin it to 1e6 regardless
    // of the per-token evidence)
    assert(math.abs(byId(80L)._2 - byId(0L)._2) < 100000)
    // the Pareto acceptance is stochastic, not a threshold — keep
    // probability is (2 − score)^(−9), so even well-scored docs keep at
    // a minority rate (the paper kept ~10% of CommonCrawl) and the rates
    // order by score: hi docs keep strictly more often than lo docs, and
    // neither class is all-or-nothing deterministic
    val hiKeep = out.filter(t => hiProbs.min <= t._2).count(_._4)
    val loKeep = out.filter(t => t._2 <= loProbs.max).count(_._4)
    assert(hiKeep > loKeep)
    assert(hiKeep > 0 && hiKeep < hiProbs.size)
    // the variate really is pareto(9)-shaped: all draws positive
    assert(out.forall(_._3 > 0L))
  }

  test("IVF-PQ (Jégou 2011 IVFADC): deterministic across partitionings, " +
       "exhaustive probing recalls at least as well as the broken-ADC " +
       "floor, and probing fewer cells only narrows the candidate pool") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") % 100 === 0)
    def run(df: org.apache.spark.sql.DataFrame, nProbe: Int) =
      Similarity.ivfPqTopK(df, queries, topK = 5, nCells = 8, m = 8,
        k = 16, iters = 2, nProbe = nProbe)
        .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank"),
          r.getAs[Long]("cid"), r.getAs[Double]("cosine")))
    val out = run(emb, 8)
    assert(out.toSeq === run(emb.repartition(7), 8).toSeq)
    // exhaustive probing scores EVERY candidate through its residual
    // reconstruction — recall vs brute force must clear the broken-ADC
    // floor (probed: 0.12 on these uniform-random fixtures, the
    // no-structure worst case, vs ~0.01 for a random top-5 of 500; the
    // oracle is the exactness check — it independently replays the same
    // reconstruction and hash-matches)
    val brute = Similarity.bruteForceTopK(emb, queries, 5)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"))).toSet
    val full = out.map(t => (t._1, t._3)).toSet
    val recall = (full & brute).size.toDouble / brute.size
    assert(recall >= 0.08, s"IVFADC recall $recall below the broken-ADC floor")
    // every query still fills its top-5 at nProbe=8 (2000 vectors / 8
    // cells leaves hundreds per probe set)
    assert(out.groupBy(_._1).values.forall(_.map(_._2).sorted.toSeq == Seq(1, 2, 3, 4, 5)))
    // nProbe=1: each query's candidates come from ONE cell — the result
    // set per query is a subset of the exhaustive candidate pool, so
    // every returned (qid, cid) also scored identically at nProbe=8
    val one = run(emb, 1)
    val fullByPair = out.map(t => ((t._1, t._3), t._4)).toMap
    val oneScored = Similarity.ivfPqTopK(emb, queries, topK = 5, nCells = 8,
      m = 8, k = 16, iters = 2, nProbe = 8)
      .collect().map(r => ((r.getAs[Long]("qid"), r.getAs[Long]("cid")),
        r.getAs[Double]("cosine"))).toMap
    assert(one.forall(t => oneScored.get((t._1, t._3)).forall(_ == t._4)))
  }

  test("substring-dedup hot-key salting is output-invariant: a hot span " +
       "pushed past the threshold salts into sub-partitions and the " +
       "result rows equal the unsalted shape's exactly (r16)") {
    val span = (1 to 12).map(i => s"saltprop$i").mkString(" ")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("text",
        when(col("doc_id") % 2 === 0, concat(col("text"), lit(" " + span)))
          .otherwise(col("text")))
    def run(thr: Long) =
      Dedup.dedupSubstrings(docs, col("doc_id"), col("text"), k = 8,
        hotKeyThreshold = thr)
        .orderBy("docId")
        .collect().map(r => (r.getAs[Long]("docId"),
          r.getAs[Int]("nTokens"), r.getAs[Int]("nRemoved"),
          r.getAs[String]("text"))).toSeq
    val unsalted = run(0L)
    assert(run(2L) === unsalted)    // every dup key detected-hot
    assert(run(50L) === unsalted)   // only the span keys hot
    // the derivation actually removed something (the span is a real dup)
    assert(unsalted.exists(_._3 > 0))
  }

  test("Bpe.train maxRounds: conflict-starved rounds yield < maxBatch " +
       "picks (a 2-letter alphabet bounds round 0 at <= 2 disjoint " +
       "picks), and a deeper round budget EXTENDS the same merge " +
       "sequence — greedy prefix stability") {
    import spark.implicits._
    val tiny = Seq((1L, "abab baba abba baab aabb bbaa"),
        (2L, "ab ba aa bb abba babb"))
      .toDF("doc_id", "text")
    def merges(maxRounds: Int) =
      Bpe.train(tiny, col("text"), nMerges = 8, maxBatch = 4,
        maxRounds = maxRounds)
        .orderBy("rank").collect()
        .map(r => (r.getAs[String]("left_sym"), r.getAs[String]("right_sym")))
        .toSeq
    val two = merges(2)      // the default ceil(8/4) budget
    val four = merges(4)
    // round 0's candidates are pairs over {a, b}: any pick consumes at
    // least one letter plus its concatenation, so the round lands at
    // most 2 of its 4 wanted picks — the default budget cannot reach 8
    assert(two.size < 8)
    // a deeper budget extends, never rewrites, the earlier sequence
    assert(four.take(two.size) === two)
    assert(four.size >= two.size)
  }

  test("excess loss (RHO-style, Mindermann 2022 / RHO-1): the fused " +
       "two-model pass reproduces two independent crossEntropy passes " +
       "exactly; selection = positive excess") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = Perplexity.excessLoss(docs, col("doc_id"), col("text"),
      col("lang") === "en", col("lang") =!= "en")
      .collect().map(r => r.getAs[Long]("docId") ->
        ((r.getAs[Long]("ce_target_micro"), r.getAs[Long]("ce_alt_micro"),
          r.getAs[Long]("excess_micro"), r.getAs[Boolean]("selected")))).toMap
    def ce(ref: org.apache.spark.sql.Column): Map[Long, Long] =
      Perplexity.crossEntropy(docs, col("doc_id"), col("text"), ref)
        .collect().map(r => r.getAs[Long]("docId") ->
          r.getAs[Long]("ce_micro")).toMap
    val tgt = ce(col("lang") === "en")
    val alt = ce(col("lang") =!= "en")
    assert(out.keySet === tgt.keySet)
    out.foreach { case (id, (ct, ca, ex, sel)) =>
      assert(ct === tgt(id))
      assert(ca === alt(id))
      assert(ex === ca - ct)
      assert(sel === (ex > 0))
    }
    // direction on a vocabulary-disjoint mini corpus (the sf fixture
    // shares one vocabulary across langs, so excess has no guaranteed
    // sign there): in-domain docs carry positive excess, off-domain
    // negative
    import spark.implicits._
    val mini = Seq(
      (1L, "aa bb aa bb aa bb", "en"), (2L, "aa bb aa bb", "en"),
      (3L, "xx yy xx yy xx yy", "xx"), (4L, "xx yy xx yy", "xx"))
      .toDF("doc_id", "text", "lang")
    val sel = Perplexity.excessLoss(mini, col("doc_id"), col("text"),
      col("lang") === "en", col("lang") =!= "en")
      .collect().map(r => r.getAs[Long]("docId") ->
        r.getAs[Boolean]("selected")).toMap
    assert(sel(1L) && sel(2L) && !sel(3L) && !sel(4L))
  }

  test("native PQ kernels (PqArgMinQ/PqAdcQ) match a direct reference " +
       "computation — argmin with ties to the smallest code index, ADC " +
       "dots per codeword (the r17 HOF-replacement cannot change results)") {
    import spark.implicits._
    // 3 codewords of sub=2, flat layout; sv chosen so codes 0 and 2 TIE
    // on distance (both at L2² 2 from sv) — the kernel must pick 0
    val sv = Seq(1L, 1L)
    val cwFlat = Seq(2L, 2L, 10L, 10L, 0L, 0L)   // w0=(2,2) w1=(10,10) w2=(0,0)
    val cn = Seq(8L, 200L, 0L)
    val df = Seq((sv, cwFlat, cn)).toDF("sv", "cw", "cn")
    val shim = org.apache.spark.sql.GraftColumnShim
    val argmin = shim.column(graft.functions.PqArgMinQ(
      shim.expression(col("sv")), shim.expression(col("cw")),
      shim.expression(col("cn"))))
    val adc = shim.column(graft.functions.PqAdcQ(
      shim.expression(col("sv")), shim.expression(col("cw"))))
    val r = df.select(argmin.as("j"), adc.as("a")).collect()(0)
    // dists (cn - 2 dot): w0 = 8-8 = 0, w1 = 200-40 = 160, w2 = 0-0 = 0
    // → tie between 0 and 2 at 0; smallest index wins
    assert(r.getInt(0) === 0)
    assert(r.getSeq[Long](1) === Seq(4L, 20L, 0L))
    // shape mismatch (flat codebook not a multiple of sv length) → null
    val bad = Seq((Seq(1L, 1L, 1L), cwFlat, cn)).toDF("sv", "cw", "cn")
    assert(bad.select(argmin).collect()(0).isNullAt(0))
    // seeded LSH: the broadcast plane-matrix path equals the literal path
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") % 100 === 0)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank"),
        r.getAs[Long]("cid"), r.getAs[Double]("cosine"))).toSeq
    assert(
      rows(Similarity.lshTopKSeeded(emb, queries, k = 5, nPlanes = 8,
        dim = 64, seed = 7L, literalPlanesBudget = 0L)) ===
      rows(Similarity.lshTopKSeeded(emb, queries, k = 5, nPlanes = 8,
        dim = 64, seed = 7L)))
  }

  test("ivfTopKTrained: deterministic across runs and partitionings; " +
       "exhaustive probing equals brute force after training") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") % 100 === 0)
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.pipeline.Similarity.ivfTopKTrained(df, queries, 3,
        nCentroids = 4, nProbe = 4, lloydIters = 2)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .toSeq.sorted
    val a = run(emb)
    val b = run(emb.repartition(7))   // partition-independent training
    assert(a === b && a.nonEmpty)
    val brute = graft.pipeline.Similarity.bruteForceTopK(emb, queries, 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .toSeq.sorted
    assert(a === brute)               // exhaustive probe = exact ranking
  }

  test("contaminatedBloom: superset of the exact overlap set (no false " +
       "negatives), equal on this fixture at tight fpp") {
    import spark.implicits._
    val bench = Seq((100L, "quick brown fox jumps over a fence"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "totally unrelated words only here"),
      (3L, "prefix quick brown fox jumps suffix")).toDF("doc_id", "text")
    val exact = graft.pipeline.Decontaminate.contaminated(corpus,
      col("doc_id"), col("text"), bench, col("text"), 4)
      .collect().map(r => r.getAs[Long]("docId") -> r.getAs[Long]("nOverlaps")).toMap
    val bloom = graft.pipeline.Decontaminate.contaminatedBloom(corpus,
      col("doc_id"), col("text"), bench, col("text"), 4,
      expectedGrams = 1000L, fpp = 1e-9)
      .collect().map(r => r.getAs[Long]("docId") -> r.getAs[Long]("nOverlaps")).toMap
    // no false negatives: every exact hit present with >= its exact count
    exact.foreach { case (id, cnt) => assert(bloom.getOrElse(id, 0L) >= cnt) }
    // at fpp 1e-9 on this vocabulary the sets coincide
    assert(bloom === exact)
    // empty benchmark → empty contamination set (null bloom blob guarded)
    val none = graft.pipeline.Decontaminate.contaminatedBloom(corpus,
      col("doc_id"), col("text"), bench.filter(lit(false)), col("text"), 4,
      expectedGrams = 1000L, fpp = 1e-9)
    assert(none.count() === 0L)
    assert(none.columns.toSeq === Seq("docId", "nOverlaps"))
  }

  test("tfIdfTopTerms: hand-computed smooth-idf scores, rank ties break " +
       "on term order") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple apple banana"),
      (2L, "banana cherry"),
      (3L, "cherry cherry cherry date")).toDF("doc_id", "text")
    val out = graft.pipeline.TextAnalysis
      .tfIdfTopTerms(docs, col("doc_id"), col("text"), 2)
      .orderBy("docId", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3)))
    // N=3; df: apple 1, banana 2, cherry 2, date 1
    // idf(df=1) = ln(4/2)+1 = 1.693147; idf(df=2) = ln(4/3)+1 = 1.287682
    // the operator rounds AFTER the tf multiply — mirror that here
    def score(tf: Int, df: Int): Double =
      math.round(tf * (math.log(4.0 / (df + 1)) + 1) * 1e6) / 1e6
    assert(out.toSeq === Seq(
      (1L, 1, "apple", score(2, 1)),  // tf=2 on the rare term wins
      (1L, 2, "banana", score(1, 2)),
      (2L, 1, "banana", score(1, 2)), // equal scores: term order breaks tie
      (2L, 2, "cherry", score(1, 2)),
      (3L, 1, "cherry", score(3, 2)),
      (3L, 2, "date", score(1, 1))))
  }

  test("wavInfo parses the canonical RIFF/WAVE header; malformed bytes " +
       "fall to the stub path") {
    import graft.pipeline.Multimodal
    // 44-byte canonical header: 2ch, 44100 Hz, 16-bit, 88200 data bytes
    val bb = java.nio.ByteBuffer.allocate(44)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + 88200)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(2).putInt(44100).putInt(44100 * 2 * 2)
      .putShort(4).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(88200)
    val wav = bb.array()
    assert(Multimodal.wavInfo(wav) === Some((2, 44100L, 16, 88200L)))
    assert(Multimodal.wavInfo("RIFFnot really a wav".getBytes) === None)
    assert(Multimodal.wavInfo(Array.emptyByteArray) === None)
    assert(Multimodal.wavInfo(null) === None)
    // one-second stereo CD-rate clip: duration math through audioFeatures
    import spark.implicits._
    val df = Seq((7L, wav)).toDF("mmId", "payload")
      .withColumn("meta", struct(lit("audio/wav").as("mimeType"),
        octet_length(col("payload")).cast("long").as("sizeBytes"),
        lit("mem").as("sourceUri")))
    val r = Multimodal.audioFeatures(df).collect()(0)
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ===
      ((2L, 44100L, 16L, 500L))) // 88200 bytes / 176400 B/s = 0.5 s
  }

  test("refinedWebLineCorrections (Penedo 2023 App. G.2): each line rule " +
       "binds on its crafted line, clean lines survive, and the >5% " +
       "document rule drops heavily-corrected docs") {
    import spark.implicits._
    val page = Seq(
      "this line is a perfectly normal sentence with words",
      "THIS LINE IS SHOUTING IN ALL UPPERCASE AT EVERYONE",
      "8675309",
      "42 likes",
      "17 retweets",
      "subscribe",
      "another normal line that should definitely survive here",
      "Mixed Case Title Line With Initial Capitals Only").mkString("\n")
    val df = Seq((1L, page),
      // a doc where the only content is bad lines -> keep = false
      (2L, Seq("AAAA BBBB CCCC", "999", "one").mkString("\n")),
      // all-clean doc: nothing removed, keep = true
      (3L, "just a tiny clean doc with several normal words here"))
      .toDF("doc_id", "text")
    val fmap = TextAnalysis.refinedWebLineCorrections(col("text")).toMap
    val out = df.select(col("doc_id"), fmap("cleaned").as("cleaned"),
        fmap("kept_lines").as("kl"), fmap("keep").as("keep"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("cleaned"), r.getAs[Long]("kl"),
          r.getAs[Boolean]("keep")))).toMap
    val (clean1, kl1, keep1) = out(1L)
    // exactly the three normal-ish lines survive: the shouting line,
    // digits, both counters, and the one-word line all drop; the
    // Initial-Capitals line stays (8 of 41 letters uppercase < 0.6)
    assert(kl1 === 3L)
    assert(clean1.linesIterator.toSeq === Seq(
      "this line is a perfectly normal sentence with words",
      "another normal line that should definitely survive here",
      "Mixed Case Title Line With Initial Capitals Only"))
    assert(!keep1)  // removed well over 5% of the page
    assert(out(2L)._2 === 0L && !out(2L)._3)
    assert(out(3L) === ((
      "just a tiny clean doc with several normal words here", 1L, true)))
  }

  test("c4Clean: each published line and page rule binds " +
       "(Raffel et al. 2020 §2.2)") {
    import spark.implicits._
    val page = Seq(
      "this line ends with a period.",     // kept
      "no terminal punctuation here",      // dropped: no terminal mark
      "too short.",                        // dropped: < 3 words
      "enable javascript to continue.",    // dropped: javascript
      "is this a question?",               // kept
      "quoted line \"ends in a quote\"",   // dropped: quote not terminal? no — ends with '"' => kept
      "an exclamation happens here!"       // kept
    ).mkString("\n")
    val docs = Seq(
      (1L, page),
      (2L, page + "\nsome lorem ipsum filler."),    // page rule: lorem
      (3L, page + "\njson blob { inside }."),       // page rule: brace
      (4L, "one sentence only line here.")          // < 5 sentences
    ).toDF("doc_id", "text")
    val fmap = graft.pipeline.TextAnalysis.c4Clean(col("text"),
      minSentences = 4).toMap
    val out = docs.select(col("doc_id"), fmap("cleaned").as("cleaned"),
      fmap("kept_lines").as("kl"), fmap("sentences").as("sn"),
      fmap("keep").as("keep")).orderBy("doc_id").collect()
    val cleaned1 = out(0).getString(1)
    assert(cleaned1.split("\n").toSeq === Seq(
      "this line ends with a period.",
      "is this a question?",
      "quoted line \"ends in a quote\"",
      "an exclamation happens here!"))
    assert(out(0).getLong(2) === 4L)         // kept lines
    assert(out(0).getLong(3) === 3L)         // . ? ! (the quote is no sentence mark)
    assert(!out(0).getBoolean(4))            // 3 sentences < 4
    assert(!out(1).getBoolean(4))            // lorem ipsum page
    assert(!out(2).getBoolean(4))            // '{' page
    assert(!out(3).getBoolean(4))            // single sentence
    // a page clearing the sentence bar keeps
    val ok = Seq((9L, Seq.fill(5)("five words ending with period.")
      .mkString("\n"))).toDF("doc_id", "text")
    assert(ok.select(fmap("keep")).collect()(0).getBoolean(0))
  }

  test("gopherRules: each published rule binds on a crafted document " +
       "(Rae et al. 2021, Appendix A)") {
    import spark.implicits._
    val good = ("the data and that " * 15).trim  // 60 words, 2+ stop words
    val docs = Seq(
      (1L, good),                                    // passes every rule
      (2L, "the of and short"),                      // under min word count
      (3L, good + " " + ("# " * 20).trim),           // symbol ratio > 0.1
      (4L, (1 to 60).map(_ => "ab").mkString(" ")),  // no stop words
      (5L, Seq.fill(10)("- " + good).mkString("\n")), // 100% bullet lines
      (6L, Seq.fill(10)(good + " so...").mkString("\n")), // ellipsis lines
      (7L, ("the be " * 10 + "12 34 56 78 90 " * 10).trim), // alpha < 0.8
      (8L, ("synthesizing " * 60).trim))             // mean word len > 10
      .toDF("doc_id", "text")
    val fmap = graft.pipeline.TextAnalysis.gopherRules(col("text")).toMap
    val out = docs.select(col("doc_id"), fmap("keep").as("keep"),
      fmap("symbol_ratio").as("sym"), fmap("bullet_frac").as("bul"),
      fmap("ellipsis_frac").as("ell"), fmap("alpha_frac").as("alf"),
      fmap("stop_hits").as("sh"), fmap("mean_word_len").as("mwl"))
      .orderBy("doc_id").collect()
    assert(out.map(r => r.getLong(0) -> r.getBoolean(1)).toMap ===
      Map(1L -> true, 2L -> false, 3L -> false, 4L -> false,
        5L -> false, 6L -> false, 7L -> false, 8L -> false))
    // the rule that kills each: crafted feature actually crossed the bound
    assert(out(2).getDouble(2) > 0.1)   // doc 3 symbol ratio
    assert(out(3).getLong(6) < 2)       // doc 4 stop hits
    assert(out(4).getDouble(3) > 0.9)   // doc 5 bullet fraction
    assert(out(5).getDouble(4) > 0.3)   // doc 6 ellipsis fraction
    assert(out(6).getDouble(5) < 0.8)   // doc 7 alpha fraction
    assert(out(7).getDouble(7) > 10.0)  // doc 8 mean word length
  }

  test("gopherRepetition: matches a plain-Scala reference on crafted docs; " +
       "every repetition rule binds (Rae et al. 2021, Table A1)") {
    import spark.implicits._
    // plain-Scala reference implementation of the same published rules
    def r6(d: Double): Double =
      BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def grams(words: Array[String], n: Int): Seq[String] =
      if (words.length < n) Seq(words.mkString(" "))
      else words.sliding(n).map(_.mkString(" ")).toSeq
    def ref(text: String): (Double, Double, Map[Int, Double], Boolean) = {
      val nChars = text.length
      val lines = text.split("\n", -1)
      val lcounts = lines.groupBy(identity).view.mapValues(_.length).toMap
      val dupLineFrac = r6(
        lcounts.collect { case (_, c) if c > 1 => c }.sum.toDouble / lines.length)
      val lchars = lcounts.map { case (l, c) => l.length.toLong * c }.sum
      val dupLineCharFrac = r6(if (lchars == 0) 0.0 else
        lcounts.collect { case (l, c) if c > 1 => l.length.toLong * c }.sum
          .toDouble / lchars)
      val words = text.split(" ", -1)
      val byN = (2 to 10).map { n =>
        val gc = grams(words, n).groupBy(identity).view.mapValues(_.length)
        val chars: Long =
          if (n <= 4) {
            val (g, c) = gc.toSeq.minBy { case (g, c) => (-c, g) }
            if (c > 1) g.length.toLong * c else 0L
          } else gc.collect { case (g, c) if c > 1 => g.length.toLong * c }.sum
        n -> r6(if (nChars > 0) chars.toDouble / nChars else 0.0)
      }.toMap
      val keep = dupLineFrac <= 0.30 && dupLineCharFrac <= 0.20 &&
        (2 to 4).forall(n => byN(n) <= TextAnalysis.GopherTopGramLimits(n)) &&
        (5 to 10).forall(n => byN(n) <= TextAnalysis.GopherDupGramLimits(n))
      (dupLineFrac, dupLineCharFrac, byN, keep)
    }
    val varied = (1 to 80).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      1L -> varied,                                   // clean → keep
      2L -> ("x y z\nx y z\n" + varied),              // duplicate lines
      3L -> (("a b " * 30).trim + " " + varied),      // hot top 2-gram
      4L -> ((1 to 4).map(_ => "p q r s t").mkString(" ") + " " + varied),
                                                      // duplicated 5-grams
      5L -> "",                                       // empty text guard
      6L -> "one two")                                // fewer words than n
    val out = TextAnalysis.gopherRepetition(
      docs.toDF("doc_id", "text"), col("doc_id"), col("text"))
      .orderBy("docId").collect()
    docs.sortBy(_._1).zip(out).foreach { case ((id, text), row) =>
      val (dlf, dlcf, byN, keep) = ref(text)
      assert(row.getAs[Double]("dup_line_frac") === dlf, s"doc $id dup_line_frac")
      assert(row.getAs[Double]("dup_line_char_frac") === dlcf, s"doc $id char")
      (2 to 10).foreach { n =>
        val cn = if (n <= 4) s"top_${n}gram_char_frac" else s"dup_${n}gram_char_frac"
        assert(row.getAs[Double](cn) === byN(n), s"doc $id $cn")
      }
      assert(row.getAs[Boolean]("rep_keep") === keep, s"doc $id keep")
    }
    // the crafted corpus exercises both outcomes of each rule family
    val keepById = out.map(r => r.getAs[Long]("docId") -> r.getAs[Boolean]("rep_keep")).toMap
    assert(keepById(1L) && !keepById(2L) && !keepById(3L) && !keepById(4L))
    assert(out(1).getAs[Double]("dup_line_frac") > 0.30)         // doc 2
    assert(out(2).getAs[Double]("top_2gram_char_frac") > 0.20)   // doc 3
    assert(out(3).getAs[Double]("dup_5gram_char_frac") > 0.15)   // doc 4
  }

  test("count-min sketch never underestimates and is near-exact at low " +
       "load factor (Cormode & Muthukrishnan 2005)") {
    import spark.implicits._
    // Zipf-ish token stream: token t_i appears 201-2i times — known exact
    // counts, ~100 distinct tokens in a 4×1024 sketch (load factor ~0.1)
    val toks = (1 to 100).flatMap(i => Seq.fill(201 - 2 * i)(s"tok$i"))
      .toDF("tok")
    val cells = Sketches.countMinCells(toks, col("tok"))
    // state bound: at most depth×width cells regardless of stream size
    assert(cells.count() <= 4L * 1024)
    val probes = (1 to 100).map(i => s"tok$i").toDF("tok")
    val est = Sketches.cmsEstimates(cells, probes, col("tok"))
      .collect().map(r => r.getAs[String]("token") -> r.getAs[Long]("est_count"))
      .toMap
    (1 to 100).foreach { i =>
      val exact = 201L - 2 * i
      assert(est(s"tok$i") >= exact, s"tok$i underestimated")  // CMS guarantee
      assert(est(s"tok$i") <= exact + 400, s"tok$i error blown") // ε·N bound
    }
    // min-over-rows is exact for most probes at this load factor
    val exactHits = (1 to 100).count(i => est(s"tok$i") == 201L - 2 * i)
    assert(exactHits >= 90)
    // absent token estimates 0 or a small collision count, never negative
    val ghost = Sketches.cmsEstimates(cells, Seq("neverseen").toDF("tok"),
      col("tok")).collect()(0).getAs[Long]("est_count")
    assert(ghost >= 0L && ghost <= 400L)
  }

  test("scalable IVF (kmeans|| seeding + Lloyd refinement) at exhaustive " +
       "probe matches the md5-init path exactly — seeding only moves " +
       "where the recall knob bites") {
    import spark.implicits._
    val pts = (0 until 300).map { i =>
      val axis = i % 3
      val v = Array.fill(6)(0.02f + (i % 5) * 0.003f)
      v(axis) = 1.0f
      (i.toLong, v.toSeq)
    }
    val emb = pts.toDF("vec_id", "embedding")
    val qs = emb.filter(col("vec_id") % 50 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("qid"), col("rank").cast("long"), col("cid"),
          col("cosine"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).sorted.toSeq
    val scal = rows(Similarity.ivfTopKScalable(emb, qs, 3,
      nCentroids = 4, nProbe = 4, lloydIters = 1))
    val base = rows(Similarity.ivfTopKTrained(emb, qs, 3,
      nCentroids = 4, nProbe = 4, lloydIters = 1))
    assert(scal === base)
    // partial probe still emits k rows per query and stays deterministic
    // under repartitioning
    val part = rows(Similarity.ivfTopKScalable(emb.repartition(5), qs, 3,
      nCentroids = 4, nProbe = 2, lloydIters = 1))
    assert(part === rows(Similarity.ivfTopKScalable(emb, qs, 3,
      nCentroids = 4, nProbe = 2, lloydIters = 1)))
    assert(part.groupBy(_._1).forall(_._2.size == 3))
  }

  test("FineWeb custom filters: punctuation / duplicated-line-chars / " +
       "short-line rules at the published thresholds (Penedo 2024 §3.6)") {
    import spark.implicits._
    val long = "this line carries enough characters to clear thirty."
    val docs = Seq(
      1L -> Seq(long, long + "?", long.dropRight(1) + "!").mkString("\n"),
      2L -> Seq(long, long.dropRight(1), long.dropRight(2)).mkString("\n"),
      3L -> Seq(long, long, long, "unique closing line of this doc here.")
        .mkString("\n"),
      4L -> Seq(long, "short.", "tiny.", "wee.").mkString("\n"),
      5L -> "").toDF("doc_id", "text")
    val fw = TextAnalysis.fineWebFilters(col("text")).toMap
    val out = docs.select(col("doc_id"), fw("n_lines").as("nl"),
        fw("punct_frac").as("pf"), fw("short_frac").as("sf"),
        fw("dup_char_frac").as("df"), fw("keep").as("keep"))
      .orderBy("doc_id").collect()
    // doc 1: all lines punctuated, unique, long → keep
    assert(out(0).getAs[Double]("pf") === 1.0 && out(0).getAs[Boolean]("keep"))
    // doc 2: only 1/3 lines end in punctuation → 0.33 > 0.12 still keeps;
    // the rule binds at <= 0.12
    assert(math.abs(out(1).getAs[Double]("pf") - 1.0 / 3) < 1e-9)
    assert(out(1).getAs[Boolean]("keep"))
    // doc 3: two duplicated copies of a 53-char line out of ~4 lines →
    // dup-char fraction far above 0.1 → drop
    assert(out(2).getAs[Double]("df") > 0.1 && !out(2).getAs[Boolean]("keep"))
    // doc 4: 3 of 4 lines under 30 chars → 0.75 >= 0.67 → drop
    assert(out(3).getAs[Double]("sf") === 0.75 && !out(3).getAs[Boolean]("keep"))
    // doc 5: empty text → one empty line: short and unpunctuated → drop,
    // no division blowup
    assert(out(4).getAs[Long]("nl") === 1L && !out(4).getAs[Boolean]("keep"))
  }

  test("k-means|| oversampling seeds every separated cluster and is " +
       "partition-independent (Bahmani 2012)") {
    import spark.implicits._
    // two well-separated direction bundles (axis 0 vs axis 3), 200 points
    // each with tiny deterministic jitter — kmeans++-quality seeding must
    // place seeds in BOTH bundles, and most attraction mass splits evenly
    val pts = (0 until 400).map { i =>
      val axis = if (i < 200) 0 else 3
      val v = Array.fill(6)(0.01f + (i % 7) * 0.001f)
      v(axis) = 1.0f
      (i.toLong, v.toSeq)
    }
    val emb = pts.toDF("cid", "emb")
      .select(col("cid"), Similarity.quantize(col("emb")).as("cq"))
      .withColumn("cn", Similarity.normSqQ(col("cq")))
    val out = Similarity.kmeansParallelInit(emb, k = 4, l = 6, rounds = 2)
      .collect()
    assert(out.length === 4)
    val ids = out.map(_.getAs[Long]("cid"))
    assert(ids.exists(_ < 200) && ids.exists(_ >= 200)) // both bundles seeded
    // ranks are 1..k by (weight desc, id); weights cover most of the corpus
    assert(out.map(_.getAs[Long]("rank")).toSeq === Seq(1L, 2L, 3L, 4L))
    val w = out.map(_.getAs[Long]("weight"))
    assert(w.sameElements(w.sortBy(-_)) && w.sum <= 400)
    assert(w.sum > 300) // top-4 candidates attract the bulk
    // partition independence: same seeds and weights at any layout
    val rep = Similarity.kmeansParallelInit(emb.repartition(7), k = 4,
      l = 6, rounds = 2).collect()
    assert(rep.map(r => (r.getAs[Long]("rank"), r.getAs[Long]("cid"),
        r.getAs[Long]("weight"))).toSeq ===
      out.map(r => (r.getAs[Long]("rank"), r.getAs[Long]("cid"),
        r.getAs[Long]("weight"))).toSeq)
  }

  test("Dolma paragraph dedup drops prior-seen and within-batch duplicate " +
       "segments, removes emptied docs (Soldaini 2024 §4)") {
    import spark.implicits._
    val prior = Seq((100L, "p1 w2 w3")).toDF("doc_id", "text")
    val now = Seq(
      (1L, "p1 w2 w3 a1 a2 a3"),  // first window in history → trimmed
      (2L, "b1 b2 b3 c1 c2 c3"),  // fresh, first occurrence of b-window
      (3L, "b1 b2 b3 d1 d2 d3"),  // within-batch dup of doc 2's window
      (4L, "p1 w2 w3"))           // fully seen → emptied, absent
      .toDF("doc_id", "text")
    def run(pri: org.apache.spark.sql.DataFrame) =
      Dedup.dedupSegmentsBloom(now, col("doc_id"),
        Dedup.wordWindows(col("text"), 3), pri,
        Dedup.wordWindows(col("text"), 3),
        expectedItems = 1000L, fpp = 1e-9)
        .selectExpr("docId", "cast(nSegments as long) ns",
          "cast(nDropped as long) nd", "text")
        .collect().map(r => r.getAs[Long]("docId") ->
          ((r.getAs[Long]("ns"), r.getAs[Long]("nd"),
            r.getAs[String]("text")))).toMap
    val out = run(prior)
    assert(out.keySet === Set(1L, 2L, 3L))        // doc 4 emptied
    assert(out(1L) === ((2L, 1L, "a1 a2 a3")))    // history plane
    assert(out(2L) === ((2L, 0L, "b1 b2 b3 c1 c2 c3")))
    assert(out(3L) === ((2L, 1L, "d1 d2 d3")))    // batch keeper = doc 2
    // empty prior: only the within-batch plane fires — doc 1 now keeps
    // its p-window (first occurrence), which empties doc 4 instead
    val noPrior = run(prior.filter(lit(false)))
    assert(noPrior.keySet === Set(1L, 2L, 3L))
    assert(noPrior(1L) === ((2L, 0L, "p1 w2 w3 a1 a2 a3")))
    assert(noPrior(3L)._2 === 1L)
  }

  test("DoReMi mirror ascent upweights high-excess-loss domains, keeps a " +
       "normalized smoothed simplex (Xie 2023 Alg. 1)") {
    import spark.implicits._
    // three domains: loss 9, 7, 5 mean micro-nats (per-doc variation
    // cancels in the integer means)
    val losses = Seq(
      ("hard", 9000000L), ("hard", 9000000L),
      ("mid", 7000000L), ("mid", 7000000L),
      ("easy", 5000000L), ("easy", 5000000L)).toDF("domain", "loss")
    val w = Mixing.doremiWeights(losses, col("domain"), col("loss"))
      .collect().map(r => r.getAs[String]("domain") ->
        (r.getAs[Long]("excess_micro"), r.getAs[Long]("alpha_micro"))).toMap
    // excess = max(0, domain mean − global mean 7e6)
    assert(w("hard")._1 === 2000000L && w("mid")._1 === 0L && w("easy")._1 === 0L)
    // ascent concentrates on the binding domain; ties stay equal
    assert(w("hard")._2 > w("mid")._2)
    assert(w("mid")._2 === w("easy")._2)
    // simplex: alphas sum to 1e12 within per-domain rounding
    val total = w.values.map(_._2).sum
    assert(math.abs(total - 1000000000000L) <= 3)
    // smoothing floor: no domain collapses to zero
    assert(w.values.forall(_._2 > 100000000L))
    // equal losses → uniform weights exactly
    val flat = Mixing.doremiWeights(
      Seq(("a", 5L), ("b", 5L)).toDF("d", "l"), col("d"), col("l"))
      .collect().map(_.getAs[Long]("alpha_micro")).toSet
    assert(flat === Set(500000000000L))
  }

  test("training-example export packs documents in deterministic order " +
       "with eos delimiters, cuts exact fixed-length windows, drops the " +
       "tail (Brown 2020 §2.3)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a1 a2 a3"), (2L, "b1 b2 b3 b4 b5"), (3L, "c1 c2"))
      .toDF("doc_id", "text")
    // stream = docs in md5('s|id') order, eos after each: 3+1+5+1+2+1 =
    // 13 tokens → two full 5-token examples, 3-token tail dropped
    val out = Sampling.exportExamples(docs, col("doc_id"), col("text"),
        seqLen = 5L, seed = "s")
      .orderBy("exampleId").collect()
    assert(out.length === 2)
    assert(out.forall(_.getAs[Long]("nTokens") === 5L))
    val joined = out.map(_.getAs[String]("text")).mkString(" ")
    // reconstruct the expected stream on the driver
    val order = Seq(1L, 2L, 3L).sortBy(id =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"s|$id".getBytes("UTF-8")).map("%02x".format(_)).mkString)
    val stream = order.flatMap {
      case 1L => Seq("a1", "a2", "a3", "<|eos|>")
      case 2L => Seq("b1", "b2", "b3", "b4", "b5", "<|eos|>")
      case 3L => Seq("c1", "c2", "<|eos|>")
    }
    assert(joined === stream.take(10).mkString(" "))
    // examples cross document boundaries and carry the eos delimiters
    assert(joined.contains("<|eos|>"))
    // partition independence: identical examples at any layout
    val rep = Sampling.exportExamples(docs.repartition(5), col("doc_id"),
        col("text"), seqLen = 5L, seed = "s")
      .orderBy("exampleId").collect().map(_.getAs[String]("text")).toSeq
    assert(rep === out.map(_.getAs[String]("text")).toSeq)
  }

  test("temperature sampling upweights tail languages, is proportional at " +
       "alpha=1 and flattens toward uniform as alpha drops (XLM-R §3.1)") {
    import spark.implicits._
    // 80/15/5 split — the classic head/tail multilingual shape
    val corpus = (Seq.fill(80)("en") ++ Seq.fill(15)("fr") ++
      Seq.fill(5)("sw")).zipWithIndex.map(_.swap).toDF("id", "lang")
    def shares(a: Double) =
      Mixing.temperatureShares(corpus, col("lang"), alpha = a)
        .collect().map(r => r.getAs[String]("source") ->
          (r.getAs[Long]("natural_micro"), r.getAs[Long]("q_micro"),
            r.getAs[Long]("boost_micro"))).toMap
    val t03 = shares(0.3)
    assert(t03("en")._1 === 800000L && t03("sw")._1 === 50000L)
    // tail boosted, head damped; shares still a simplex
    assert(t03("sw")._2 > t03("sw")._1 && t03("en")._2 < t03("en")._1)
    assert(t03("sw")._3 > 1000000L && t03("en")._3 < 1000000L)
    assert(math.abs(t03.values.map(_._2).sum - 1000000L) <= 2)
    // alpha = 1 recovers proportional sampling exactly
    val t1 = shares(1.0)
    assert(t1.values.forall { case (nat, q, _) => math.abs(q - nat) <= 1 })
    // lower alpha is flatter: sw's share grows monotonically as α drops
    val t01 = shares(0.1)
    assert(t01("sw")._2 > t03("sw")._2)
    // ordering never flips: bigger language keeps the bigger share
    assert(t01("en")._2 > t01("fr")._2 && t01("fr")._2 > t01("sw")._2)
  }

  test("UniMax waterfilling caps small languages at the epoch budget and " +
       "splits the remainder over the head (Chung 2023)") {
    import spark.implicits._
    // sizes 10, 20, 1000; budget 200, cap 4 epochs: both small languages
    // fit 4 full epochs under the equal split; the big one gets the rest
    val corpus = Seq(("tiny", 10L), ("small", 20L), ("big", 1000L))
      .toDF("src", "chars")
    val out = Mixing.unimaxAllocation(corpus, col("src"), col("chars"),
      budget = 200L, maxEpochs = 4L)
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("alloc_chars"), r.getAs[Long]("epochs_micro"))).toMap
    assert(out("tiny") === ((40L, 4000000L)))     // capped: 4 epochs
    assert(out("small") === ((80L, 4000000L)))    // capped: 4 epochs
    assert(out("big") === ((80L, 80000L)))        // remainder: 200-120
    // budget conservation: never exceeds, undershoots only by division
    assert(out.values.map(_._1).sum <= 200L)
    // all-capped corner: budget ample → every language at the cap
    val all = Mixing.unimaxAllocation(corpus, col("src"), col("chars"),
      budget = 100000L, maxEpochs = 2L)
      .collect().map(r => r.getAs[Long]("epochs_micro")).toSet
    assert(all === Set(2000000L))
    // none-capped corner: budget tiny → pure equal split
    val none = Mixing.unimaxAllocation(corpus, col("src"), col("chars"),
      budget = 30L, maxEpochs = 4L)
      .collect().map(r => r.getAs[Long]("alloc_chars")).toSet
    assert(none === Set(10L))
  }

  test("HyperLogLog estimates cardinality within the published error band " +
       "(Flajolet 2007: ~1.04/sqrt(m) = 3.3% at m=1024)") {
    import spark.implicits._
    // 5000 distinct tokens, each repeated 3x (cardinality must ignore
    // multiplicity); 5000/1024 ≈ 4.9 fill → raw estimator regime
    val toks = (1 to 5000).flatMap(i => Seq.fill(3)(s"word$i")).toDF("tok")
    val r = Sketches.hllEstimate(toks, col("tok")).collect()(0)
    assert(r.getAs[Long]("m") === 1024L)
    val est = r.getAs[Long]("est_distinct")
    assert(math.abs(est - 5000.0) / 5000.0 < 0.10, s"est $est vs 5000")
    // small-cardinality corpus lands in the linear-counting branch and
    // is near-exact there
    val small = (1 to 40).map(i => s"w$i").toDF("tok")
    val rs = Sketches.hllEstimate(small, col("tok")).collect()(0)
    assert(rs.getAs[Long]("zeros") > 0L)
    val estS = rs.getAs[Long]("est_distinct")
    assert(math.abs(estS - 40.0) <= 3.0, s"linear-counting est $estS vs 40")
  }

  test("NFC normalization composes decomposed sequences, is zero-copy on " +
       "ASCII, propagates null (SlimPajama stage 1)") {
    import spark.implicits._
    val rows = Seq(
      ("decomp", "Cafe\u0301 au lait"),      // e + combining acute
      ("composed", "Caf\u00e9 au lait"),     // already NFC
      ("ascii", "plain ascii stays put"),
      ("angstrom", "\u212b"),                 // ANGSTROM SIGN → U+00C5
      ("empty", ""),
      ("nul", null))
      .toDF("k", "t")
    val out = rows.select(col("k"), TextAnalysis.nfc(col("t")).as("n"))
      .collect().map(r => r.getAs[String]("k") -> r.getAs[String]("n")).toMap
    assert(out("decomp") === "Caf\u00e9 au lait")
    assert(out("decomp") === out("composed"))
    assert(out("ascii") === "plain ascii stays put")
    assert(out("angstrom") === "\u00c5")
    assert(out("empty") === "")
    assert(out("nul") === null)
    // length counts CHARS: composition shortens the decomposed form,
    // which is what the SlimPajama 200-char gate measures
    val lens = rows.filter(col("k").isin("decomp", "composed"))
      .select(length(TextAnalysis.nfc(col("t")))).collect().map(_.getInt(0))
    assert(lens.toSeq === Seq(12, 12))
  }

  test("RedPajama-v2 signal battery: hand-computed doc (caps, ellipsis " +
       "lines, lorem, curly, entropy in pre-rounded micro-nats)") {
    import spark.implicits._
    val page = "AA bb AA cc...\n{ lorem ipsum } of the end."
    val df = Seq((1L, page)).toDF("doc_id", "t")
    val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val sig = df.select(TextAnalysis.rpv2Signals(col("t"), stops)
      .map { case (n, c) => c.as(n) }: _*).collect()(0)
    assert(sig.getAs[Long]("ccnet_nlines") === 2L)
    assert(sig.getAs[Long]("num_sentences") === 2L) // "..." is ONE run
    assert(sig.getAs[Long]("word_count") === 11L)
    // AA AA are the all-caps words ("{" has no alpha; "cc..." is lower)
    assert(sig.getAs[Long]("all_caps_frac_micro") === Math.round(2.0 / 11 * 1e6))
    // "{" "}" have no alphabetic char
    assert(sig.getAs[Long]("no_alph_frac_micro") === Math.round(2.0 / 11 * 1e6))
    assert(sig.getAs[Long]("lorem_ipsum_n") === 1L)
    // stop hits: " of " and " the " once each, space-padded occurrences
    assert(sig.getAs[Long]("stop_frac_micro") === Math.round(2.0 / 11 * 1e6))
    // 1 of 2 lines ends with "..."
    assert(sig.getAs[Long]("ellipsis_line_frac_micro") === 500000L)
    assert(sig.getAs[Long]("curly_frac_micro") > 0L)

    val ent = TextAnalysis.unigramEntropyMicro(df, col("doc_id"), col("t"))
      .collect()(0)
    assert(ent.getAs[Long]("n_tokens") === 11L)
    // counts: AA×2, 9 singletons; H_micro = lnµ(11) − (2·lnµ(2)) div 11
    val expected = Math.round(math.log(11) * 1e6) -
      (2L * Math.round(math.log(2) * 1e6)) / 11L
    assert(ent.getAs[Long]("entropy_micro") === expected)
  }

  test("data-constrained scaling: under-one-epoch source keeps face value, " +
       "repeated source decays per Eq. 6, asymptote bounded by U(1+R*)") {
    import spark.implicits._
    // source A: 100 unique tokens; B: 400 — budget 500, equal split 250
    val docs = (Seq.fill(10)(("a", 10L)) ++ Seq.fill(10)(("b", 40L)))
      .toDF("src", "t")
    val out = Mixing.dataConstrainedEffective(docs, col("src"), col("t"),
        budget = 500L)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    val a = out("a"); val b = out("b")
    assert(b.getAs[Long]("seen_tokens") === 250L)
    assert(b.getAs[Long]("epochs_micro") === 625000L)  // 250/400
    assert(b.getAs[Long]("effective_tokens") === 250L) // fresh = face value
    assert(b.getAs[Long]("utility_micro") === 1000000L)
    assert(a.getAs[Long]("epochs_micro") === 2500000L) // 250/100
    val en = Math.round(math.exp(-1.5 / 15.39) * 1e9)
    val expected = 100L +
      Math.round(100.0 * 15.39 * (1.0 - en.toDouble / 1e9))
    assert(a.getAs[Long]("effective_tokens") === expected)
    assert(a.getAs[Long]("effective_tokens") < 250L)   // decay bites
    assert(a.getAs[Long]("effective_tokens") > 100L)   // repeats still help
    assert(a.getAs[Long]("utility_micro") < 1000000L)
    // deep-repeat asymptote: ep = 1000 on 1 unique token → ~U·(1+R*)
    val deep = Mixing.dataConstrainedEffective(
      Seq(("c", 1L)).toDF("src", "t"), col("src"), col("t"), budget = 1000L)
      .collect()(0)
    assert(deep.getAs[Long]("effective_tokens") === 16L) // 1 + 15.39 rounded
  }

  test("SlimPajama dedup-key preprocessing lowercases and strips " +
       "punctuation, keeping digits and spaces") {
    import spark.implicits._
    val got = Seq("Hello, World! 42 -- na\u00efve (test)").toDF("t")
      .select(TextAnalysis.slimPajamaDedupText(col("t"))).collect()(0).getString(0)
    assert(got === "hello world 42  nave test")
  }

  test("source overlap sketch: identical sources estimate Jaccard 1, " +
       "disjoint sources 0, a half-shared source lands in between; " +
       "deterministic across partitionings") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val other = "one two three four five six seven eight nine ten"
    val corpus = Seq(
      (1L, "sA", base), (2L, "sB", base),              // identical
      (3L, "sC", other),                               // disjoint from A/B
      (4L, "sD", base + " " + other))                  // contains both
      .toDF("doc_id", "source", "text")
    val out = Dedup.sourceOverlap(corpus, col("source"), col("text"))
      .collect()
      .map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b")) ->
        r.getAs[Long]("jaccard_micro")).toMap
    assert(out(("sA", "sB")) === 1000000L)
    // r16: zero-overlap pairs are REPORTED (jaccard 0), never absent —
    // every unordered source pair has exactly one row
    assert(out(("sA", "sC")) === 0L)
    assert(out.size === 6)   // C(4, 2) pairs
    val ad = out(("sA", "sD"))
    assert(ad > 0L && ad < 1000000L)
    // n_a is the exact distinct-shingle count: 10 words → 6 5-gram shingles
    val rows = Dedup.sourceOverlap(corpus, col("source"), col("text"))
      .filter(col("source_a") === "sA" && col("source_b") === "sB")
      .collect()(0)
    assert(rows.getAs[Long]("n_a") === 6L)
    assert(rows.getAs[Long]("bins_match") === rows.getAs[Long]("bins_either"))
    val again = Dedup.sourceOverlap(corpus.repartition(7), col("source"),
      col("text")).collect()
      .map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b")) ->
        r.getAs[Long]("jaccard_micro")).toMap
    assert(again === out)
  }

  test("logistic classifier: two full-batch GD epochs reproduce the " +
       "hand-derived weights on a separable pair, probabilities " +
       "separate by label, determinism across partitionings") {
    import spark.implicits._
    val docs = Seq((1L, "aaa aaa", true), (2L, "bbb bbb", false))
      .toDF("doc_id", "text", "hq")
    val out = Classifier.logisticScores(docs, col("doc_id"), col("text"),
      col("hq"), steps = 2).collect()
      .map(r => r.getAs[Long]("docId") ->
        (r.getAs[Long]("dotMicro"), r.getAs[Long]("probMicro"))).toMap
    // epoch 1: sigma = 0.5 both, r = ±5e5, grad = ±1e6, w = ±1e6/4;
    // epoch 2: sigma(0.25) = 562177, r = ±437823, grad = ±875646,
    // w = ±(250000 + 218911) = ±468911 → dot = ±937822
    assert(out(1L)._1 === 937822L)
    assert(out(2L)._1 === -937822L)
    val expectHq = math.round(1e6 / (1.0 + math.exp(-0.468911)))
    assert(out(1L)._2 === expectHq)
    assert(out(2L)._2 === 1000000L - expectHq)
    assert(out(1L)._2 > out(2L)._2)
    val again = Classifier.logisticScores(docs.repartition(5),
      col("doc_id"), col("text"), col("hq"), steps = 2).collect()
      .map(r => r.getAs[Long]("docId") ->
        (r.getAs[Long]("dotMicro"), r.getAs[Long]("probMicro"))).toMap
    assert(again === out)
  }

  /** The per-(doc, bucket) groupBy formulation of the logistic trainer:
    * a count sliver, a doc-keyed scoring aggregate, a residual join and
    * a bucket-keyed gradient aggregate per epoch, plus a separate bias
    * sum. Kept as the reference the bucket-aggregate trainer must match
    * bit for bit. */
  private def refLogisticModel(df: org.apache.spark.sql.DataFrame,
                               buckets: Int, steps: Int): (Map[Long, Long], Long) = {
    import org.apache.spark.sql.GraftColumnShim.{column => kcol, expression => kexpr}
    val (lrNum, lrDen) = (1L, 2L)
    val toks = df.select(col("doc_id").as("docId"), col("hq").as("isHq"),
      explode(kcol(graft.functions.TokenBuckets(kexpr(col("text")), buckets)))
        .as("b"))
    val cnts = toks.groupBy("docId", "b")
      .agg(count(lit(1)).as("cnt"), first(col("isHq")).as("isHq"))
    val docs = cnts.groupBy("docId")
      .agg(sum("cnt").as("n"), first(col("isHq")).as("isHq"))
    val nDocs = docs.count()
    def score(w: Map[Long, Long], bias: Long) = {
      val wCol =
        if (w.isEmpty) lit(0L)
        else coalesce(element_at(typedlit(w), col("b")), lit(0L))
      val s = cnts.groupBy("docId").agg(sum(col("cnt") * wCol).as("dotMicro"))
      docs.join(s, "docId").withColumn("probMicro",
        round(lit(1e6) / (lit(1.0) + exp(
          -(col("dotMicro").cast("double") / col("n").cast("double")
            + bias.toDouble) / 1e6))).cast("long"))
    }
    var w = Map.empty[Long, Long]
    var bias = 0L
    (1 to steps).foreach { _ =>
      val scored = score(w, bias).withColumn("r",
        when(col("isHq"), lit(1000000L)).otherwise(lit(0L)) - col("probMicro"))
      val grads = cnts.join(scored.select("docId", "r"), "docId")
        .groupBy("b")
        .agg(sum(expr("CAST(cnt AS DECIMAL(38,0)) * r")).as("g"))
        .collect().map(x => x.getAs[Long]("b") ->
          BigInt(x.getAs[java.math.BigDecimal]("g").toBigInteger)).toMap
      val bg = BigInt(scored
        .agg(coalesce(sum(expr("CAST(r AS DECIMAL(38,0))")),
          lit(java.math.BigDecimal.ZERO)).as("g"))
        .collect()(0).getAs[java.math.BigDecimal]("g").toBigInteger)
      val den = BigInt(lrDen) * nDocs
      w = (w.keySet ++ grads.keySet).iterator.map { b =>
        b -> (w.getOrElse(b, 0L) +
          ((BigInt(lrNum) * grads.getOrElse(b, BigInt(0))) / den).toLong)
      }.toMap
      bias += ((BigInt(lrNum) * bg) / den).toLong
    }
    (w, bias)
  }

  test("logisticModel: the one-aggregate-per-epoch trainer returns exactly " +
       "the (w, bias) of the groupBy formulation — steps 1..3, null text, " +
       "repeated tokens, all-negative labels, bucket collisions") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "aaa aaa aaa bbb", true),
      (2L, "bbb ccc ddd", false),
      (3L, null, true), // null text: no tokens, not a document
      (4L, "eee eee fff fff fff ggg", true),
      (5L, "the quick brown fox jumps over the lazy dog", false),
      (6L, "", false), // one empty token
      (7L, "aaa ggg zzz zzz", true),
      (8L, "ccc  ddd", false)) // the empty token between the spaces
      .toDF("doc_id", "text", "hq")
    val allNeg = corpus.withColumn("hq", lit(false))
    for ((df, label) <- Seq(corpus -> "mixed", allNeg -> "all-false");
         buckets <- Seq(5, 1024); steps <- 1 to 3) {
      val got = Classifier.logisticModel(df.repartition(3), col("text"),
        col("hq"), buckets = buckets, steps = steps)
      assert(got === refLogisticModel(df, buckets, steps),
        s"$label buckets=$buckets steps=$steps")
    }
  }

  test("logisticModel: an empty corpus (or only null text) is rejected") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String, Boolean)].toDF("doc_id", "text", "hq")
    val nullOnly = Seq((1L, null: String, true)).toDF("doc_id", "text", "hq")
    Seq(empty, nullOnly).foreach { df =>
      val e = intercept[IllegalArgumentException](
        Classifier.logisticModel(df, col("text"), col("hq")))
      assert(e.getMessage.contains("logistic training needs a non-empty corpus"))
    }
  }

  test("logisticModel runs 1 + 2·steps jobs over a non-shuffled input: " +
       "one staging barrier, then one aggregate (map + result job) per epoch") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val corpus = spark.range(40).select(col("id").as("doc_id"),
      concat_ws(" ", lit("w"), (col("id") % 7).cast("string"),
        (col("id") % 3).cast("string")).as("text"),
      (col("id") % 2 === 0).as("hq"))
    (1 to 3).foreach { steps =>
      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      try {
        Classifier.logisticModel(corpus, col("text"), col("hq"), steps = steps)
        org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
      } finally spark.sparkContext.removeSparkListener(listener)
      assert(jobs.get === 1 + 2 * steps, s"steps=$steps")
    }
  }

  test("good-turing: hand-computed count-of-counts, turing-smoothed " +
       "counts, unseen mass at r=0, determinism across partitionings") {
    import spark.implicits._
    val docs = Seq((1L, "a a a b b c")).toDF("doc_id", "text")
    val out = Wimbd.goodTuring(docs, col("text"), maxR = 3).collect()
      .map(r => r.getAs[Long]("r") -> (r.getAs[Long]("n_r"),
        r.getAs[Long]("rstar_micro"), r.getAs[Long]("mass_micro"))).toMap
    // counts a:3 b:2 c:1 → n1=n2=n3=1, N=6
    assert(out(0L) === ((0L, 0L, 166666L)))       // unseen mass = n1/N
    assert(out(1L) === ((1L, 2000000L, 333333L))) // r*=2·n2/n1
    assert(out(2L) === ((1L, 3000000L, 500000L)))
    assert(out(3L) === ((1L, 0L, 0L)))            // n4=0 → r* undefined
    val again = Wimbd.goodTuring(docs.repartition(5), col("text"), maxR = 3)
      .collect().map(_.toSeq).toSeq
    assert(again === Wimbd.goodTuring(docs, col("text"), maxR = 3)
      .collect().map(_.toSeq).toSeq)
  }

  test("heaps curve: 256 monotone rows, totals equal corpus token and " +
       "type counts, repeated words count once at first appearance, " +
       "determinism across partitionings") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta gamma"), (2L, "alpha beta delta"),
      (3L, "alpha epsilon"), (4L, "zeta")).toDF("doc_id", "text")
    val out = Wimbd.heapsCurve(docs, col("doc_id"), col("text"), "h1")
      .collect()
    assert(out.length === 256)
    val toksCum = out.map(_.getAs[Long]("tokens_cum"))
    val vocabCum = out.map(_.getAs[Long]("vocab_cum"))
    assert(toksCum.last === 9L)   // 3+3+2+1 tokens
    assert(vocabCum.last === 6L)  // alpha beta gamma delta epsilon zeta
    assert(toksCum.zip(toksCum.tail).forall { case (a, b) => a <= b })
    assert(vocabCum.zip(vocabCum.tail).forall { case (a, b) => a <= b })
    // vocab never exceeds tokens at any prefix
    assert(toksCum.zip(vocabCum).forall { case (t, v) => v <= t })
    val again = Wimbd.heapsCurve(docs.repartition(5), col("doc_id"),
      col("text"), "h1").collect()
    assert(again.map(_.toSeq).toSeq === out.map(_.toSeq).toSeq)
  }

  test("funnel report: hand-computed stage attrition, cumulative flags, " +
       "exact-dedup terminal stage counts keepers not copies, " +
       "determinism across partitionings") {
    import spark.implicits._
    // 4 docs: d4 fails stage A; d3 fails stage B; d1/d2 survive both
    // and are exact clones → dedup keeps 1
    val docs = Seq(
      (1L, "x y z", true, true), (2L, "x y z", true, true),
      (3L, "p q", true, false), (4L, "r s t u", false, false))
      .toDF("doc_id", "text", "ka", "kb")
    val toks = size(split(col("text"), " ")).cast("long")
    val out = Funnel.report(docs, toks,
      Seq(("stage_a", col("ka"), toks), ("stage_b", col("kb"), toks)),
      dedupOn = Some(col("text")))
      .collect().map(r => (r.getAs[Long]("stage_idx"),
        r.getAs[String]("stage"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_tokens"))).toSeq
    assert(out === Seq(
      (0L, "raw", 4L, 12L),        // 3+3+2+4
      (1L, "stage_a", 3L, 8L),     // d1 d2 d3
      (2L, "stage_b", 2L, 6L),     // d1 d2
      (3L, "exact_dedup", 1L, 3L)))
    val again = Funnel.report(docs.repartition(5), toks,
      Seq(("stage_a", col("ka"), toks), ("stage_b", col("kb"), toks)),
      dedupOn = Some(col("text")))
      .collect().map(_.toSeq).toSeq
    assert(again === out.map(t => Seq(t._1, t._2, t._3, t._4)))
  }

  test("wimbd: exact top-k n-grams with string tie-break, summary card " +
       "hand-computed (dup gram/doc mass, histogram median), short-doc " +
       "n-gram guard, determinism across partitionings") {
    import spark.implicits._
    val docs = Seq((1L, "a b c a b c"), (2L, "a b c a b c"), (3L, "x y"))
      .toDF("doc_id", "text")
    val top = Wimbd.topNgrams(docs.filter(col("doc_id") === 1), col("text"),
      n = 2, k = 3).collect()
    assert(top.map(r => (r.getAs[Long]("rank"), r.getAs[String]("gram"),
      r.getAs[Long]("cnt"))).toSeq ===
      Seq((1L, "a b", 2L), (2L, "b c", 2L), (3L, "c a", 1L)))
    val s = Wimbd.summary(docs, col("text"), n = 3).collect()(0)
    // trigram stream: 2 docs × 4 grams = 8 tokens, 3 types → dup mass
    // (8−3)/8; one exact clone in 3 docs; lens {2,6,6} → median 6
    assert(s.getAs[Long]("n_docs") === 3L)
    assert(s.getAs[Long]("n_tokens") === 14L)
    assert(s.getAs[Long]("n_gram_tokens") === 8L)
    assert(s.getAs[Long]("n_gram_types") === 3L)
    assert(s.getAs[Long]("dup_gram_micro") === 625000L)
    assert(s.getAs[Long]("dup_doc_micro") === 333333L)
    assert(s.getAs[Long]("median_len") === 6L)
    // the size-2 doc contributes zero trigrams, not a phantom gram
    val z = Wimbd.topNgrams(docs.filter(col("doc_id") === 3), col("text"),
      n = 3, k = 5).collect()
    assert(z.isEmpty)
    val again = Wimbd.summary(docs.repartition(7), col("text"), n = 3)
      .collect()(0)
    assert(again.toSeq === s.toSeq)
  }

  test("kneser-ney perplexity: reference-like docs score below unseen " +
       "text, the unseen-context branch backs off to continuation " +
       "probability, tertiles assign, determinism across partitionings") {
    import spark.implicits._
    val ref = (1 to 12).map(i =>
      (i.toLong, "en", "the cat sat on the mat and the dog ran"))
    val crawl = Seq(
      (100L, "xx", "the cat sat on the mat"),       // in-distribution
      (101L, "xx", "zq wv kp jx qn bv"),            // fully unseen
      (102L, "xx", "the dog ran and the cat sat"))  // in-distribution
    val docs = (ref ++ crawl).toDF("doc_id", "lang", "text")
    val out = Perplexity.perplexityBucketsKN(docs, col("doc_id"),
      col("text"), col("lang") === "en")
    val byId = out.collect().map(r => r.getAs[Long]("docId") ->
      (r.getAs[Long]("ce_micro"), r.getAs[String]("ppl_bucket"))).toMap
    assert(byId(100L)._1 < byId(101L)._1)
    assert(byId(102L)._1 < byId(101L)._1)
    assert(byId(101L)._2 === "tail")
    assert(byId(1L)._2 === "head") // reference scores head of itself
    // gibberish still gets a finite positive score (the backoff branch)
    assert(byId(101L)._1 > 0L)
    val again = Perplexity.perplexityBucketsKN(docs.repartition(7),
      col("doc_id"), col("text"), col("lang") === "en")
      .collect().map(r => r.getAs[Long]("docId") ->
        (r.getAs[Long]("ce_micro"), r.getAs[String]("ppl_bucket"))).toMap
    assert(again === byId)
  }

  test("bm25 top-k: hand-computed exact micro scores, saturation ranks " +
       "tf against doc length, ties break on doc_id, determinism") {
    import spark.implicits._
    val docs = Seq((1L, "cat sat"), (2L, "cat cat dog"),
      (3L, "dog runs far away")).toDF("doc_id", "text")
    val qs = Seq((10L, "cat")).toDF("qid", "qtext")
    val out = Bm25.topK(docs, qs, k = 5).orderBy("rnk").collect()
    // N=3, T=9; idf(cat) = lnM(8) - lnM(5) = 2079442 - 1609438 = 470004
    // d2 (tf 2, len 3): 470004*22000*9*2 div (180000+27000+81000) = 646255
    // d1 (tf 1, len 2): 470004*22000*9   div ( 90000+27000+54000) = 544215
    assert(out.map(r => (r.getAs[Long]("doc_id"),
      r.getAs[Long]("score_micro"))).toSeq ===
      Seq((2L, 646255L), (1L, 544215L)))
    assert(out.map(_.getAs[Long]("rnk")).toSeq === Seq(1L, 2L))
    // tied docs rank by doc_id; k cuts the tail; unmatched query absent
    val docs2 = Seq((1L, "zig"), (2L, "zig"), (3L, "zig"), (4L, "zag"))
      .toDF("doc_id", "text")
    val qs2 = Seq((7L, "zig"), (8L, "missing")).toDF("qid", "qtext")
    val out2 = Bm25.topK(docs2, qs2, k = 2).collect()
    assert(out2.map(r => (r.getAs[Long]("qid"), r.getAs[Long]("rnk"),
      r.getAs[Long]("doc_id"))).sorted.toSeq ===
      Seq((7L, 1L, 1L), (7L, 2L, 2L)))
    val again = Bm25.topK(docs.repartition(5), qs, k = 5)
      .orderBy("rnk").collect()
    assert(again.map(_.toSeq).toSeq === out.map(_.toSeq).toSeq)
    // df cap: "cat" sits in 2/3 docs → dropped at cap 0.5, kept at 0.7;
    // a capped run with no over-cap terms equals the uncapped run
    val capped = Bm25.topK(docs, qs, k = 5, dfCapMicro = 500000L).collect()
    assert(capped.isEmpty)
    val loose = Bm25.topK(docs, qs, k = 5, dfCapMicro = 700000L)
      .orderBy("rnk").collect()
    assert(loose.map(_.toSeq).toSeq === out.map(_.toSeq).toSeq)
  }

  test("wordpiece train: likelihood score outranks raw pair frequency, " +
       "## continuation naming, exact atto-score arithmetic") {
    import spark.implicits._
    // "xy" appears 3 times but x,y are everywhere (low lift);
    // "qz" appears twice and q,z appear ONLY there (maximal lift):
    // BPE would merge (x,##y) first, WordPiece must merge (q,##z).
    val docs = Seq(
      (1L, "xy xy xy xq yq qz qz"),
      (2L, "xa ya xb yb"))
      .toDF("doc_id", "text")
    val m = WordPiece.train(docs, col("text"), nMerges = 1).collect()(0)
    assert((m.getAs[String]("left_sym"), m.getAs[String]("right_sym")) ===
      ("q", "##z"))
    assert(m.getAs[String]("new_sym") === "qz")
    assert(m.getAs[Long]("pair_count") === 2L)
    // counts over the word table: initial q only in qz, qz → 2 (the q
    // in xq/yq is the DISTINCT symbol ##q); ##z only in qz, qz → 2;
    // score = 2e18 / (2·2)
    assert(m.getAs[Long]("score_atto") === 2L * 1000000000000000000L / 4L)
  }

  test("wordpiece train: merged continuation symbols keep ##, rewrite " +
       "feeds later rounds, determinism across partitionings") {
    import spark.implicits._
    val docs = Seq((1L, "abc abc abc abc ae")).toDF("doc_id", "text")
    val ms = WordPiece.train(docs, col("text"), nMerges = 2)
      .orderBy("rank").collect()
    // ##b+##c (4e18/(4·4)) outranks a+##b (4e18/(5·4)); round 2 ties
    // (a,##bc) with (a,##e) at 2e17 and the (l, r) tie-break picks ##bc
    assert(ms(0).getAs[String]("new_sym") === "##bc")
    assert(ms(1).getAs[String]("new_sym") === "abc")
    val again = WordPiece.train(docs.repartition(7), col("text"), nMerges = 2)
      .orderBy("rank").collect()
    assert(ms.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
  }

  test("wordpiece batched-greedy: a round takes symbol-disjoint picks " +
       "in likelihood-rank order, conflicting pairs defer; maxBatch=1 " +
       "recovers sequential training") {
    import spark.implicits._
    val docs = Seq((1L, "abc abc abc abc ae")).toDF("doc_id", "text")
    // round 1 ranking: (##b,##c) 2.5e17, then (a,##b), (a,##e) at 2e17;
    // (a,##b) shares ##b with the first pick → skipped; (a,##e) taken
    val batched = WordPiece.train(docs, col("text"), nMerges = 2,
      maxBatch = 2).orderBy("rank").collect()
    assert(batched.map(_.getAs[String]("new_sym")).toSeq ===
      Seq("##bc", "ae"))
    // sequential instead merges (a,##bc) second — the documented
    // in-round deferral is the ONLY deviation
    val seq2 = WordPiece.train(docs, col("text"), nMerges = 2)
      .orderBy("rank").collect()
    assert(seq2.map(_.getAs[String]("new_sym")).toSeq ===
      Seq("##bc", "abc"))
    // no-conflict batches are bit-identical to sequential
    val docs2 = Seq((1L, "ab ab cd cd cd")).toDF("doc_id", "text")
    val b2 = WordPiece.train(docs2, col("text"), nMerges = 2, maxBatch = 2)
      .orderBy("rank").collect().map(_.toSeq).toSeq
    val s2 = WordPiece.train(docs2, col("text"), nMerges = 2)
      .orderBy("rank").collect().map(_.toSeq).toSeq
    assert(b2 === s2)
  }

  test("wordpiece at depth: 48 merges in 8-pick batches train on a " +
       "zipf-ish corpus, the induced vocab round-trips encode with no " +
       "[UNK], batched determinism across partitionings") {
    import spark.implicits._
    // deterministic zipf-ish corpus: word w_i repeats ~96/i times
    val words = (1 to 24).flatMap { i =>
      val w = ("abcdefghijklmnopqrstuvwx" (i - 1)).toString * (i % 5 + 2)
      Seq.fill(96 / i)(w)
    }
    val docs = words.grouped(16).zipWithIndex
      .map { case (g, i) => (i.toLong, g.mkString(" ")) }
      .toSeq.toDF("doc_id", "text")
    val merges = WordPiece.train(docs, col("text"), nMerges = 48,
      maxBatch = 8).orderBy("rank").collect()
    assert(merges.length > 8) // several full rounds ran
    assert(merges.map(_.getAs[Long]("rank")).toSeq ===
      (1L to merges.length))
    val vocab = WordPiece.alphabet(docs, col("text")) ++
      merges.map(_.getAs[String]("new_sym"))
    val enc = WordPiece.encode(docs, col("doc_id"), col("text"), vocab)
      .collect()
    assert(enc.forall(!_.getAs[scala.collection.Seq[String]]("tokens")
      .contains("[UNK]")))
    val again = WordPiece.train(docs.repartition(7), col("text"),
      nMerges = 48, maxBatch = 8).orderBy("rank").collect()
    assert(again.map(_.toSeq).toSeq === merges.map(_.toSeq).toSeq)
  }

  test("wordpiece encode: greedy longest-match-first with ## pieces, " +
       "whole-word [UNK] on a dead position, alphabet floor") {
    import spark.implicits._
    val vocab = Seq("a", "##b", "##c", "##bc", "ab")
    val docs = Seq((1L, "abc ab a cab")).toDF("doc_id", "text")
    val toks = WordPiece.encode(docs, col("doc_id"), col("text"), vocab)
      .collect()(0).getAs[scala.collection.Seq[String]]("tokens").toSeq
    // abc: longest initial match "ab", then "##c"; cab: 'c' has no
    // initial piece → whole word [UNK]
    assert(toks === Seq("ab", "##c", "ab", "a", "[UNK]"))
    // trained vocab + alphabet round-trips the corpus with no [UNK]
    val corpus = Seq((1L, "hello world hello word")).toDF("doc_id", "text")
    val merges = WordPiece.train(corpus, col("text"), nMerges = 4)
      .collect().map(_.getAs[String]("new_sym")).toSeq
    val full = WordPiece.alphabet(corpus, col("text")) ++ merges
    val enc = WordPiece.encode(corpus, col("doc_id"), col("text"), full)
      .collect()(0).getAs[scala.collection.Seq[String]]("tokens").toSeq
    assert(!enc.contains("[UNK]"))
    assert(enc.mkString.replace("##", "") === "helloworldhelloword")
  }

  test("chinchilla plan: log-space law matches the hand-computed rung, " +
       "N*/D* grow with compute, the deficit flag flips where the corpus " +
       "runs out") {
    import spark.implicits._
    // 100 docs × 100 words = 10k tokens: D*(10^8 FLOPs) ≈ 6.8k tokens
    // (covered) while every rung ≥ 10^9 is data-constrained
    val corpus = (1 to 100)
      .map(i => (i.toLong, Seq.fill(100)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val toks = size(split(col("text"), " ")).cast("long")
    val out = Mixing.chinchillaPlan(corpus, toks, minExp = 8, maxExp = 12)
      .collect()
    assert(out.length === 5)
    val r8 = out.head
    // hand replay of the e = 8 rung: lnC6 = 8·ln10 − ln6 micro-rounded,
    // then the literal-constant integer law
    val lnc6 = Math.round((8 * math.log(10) - math.log(6)) * 1e6)
    assert(r8.getAs[Long]("ln_n_opt_micro") === 296179L + 451613L * lnc6 / 1000000L)
    assert(r8.getAs[Long]("ln_d_opt_micro") === -296179L + 548387L * lnc6 / 1000000L)
    assert(r8.getAs[Long]("ln_tokens_per_param_micro") ===
      r8.getAs[Long]("ln_d_opt_micro") - r8.getAs[Long]("ln_n_opt_micro"))
    assert(r8.getAs[Long]("corpus_tokens") === 10000L)
    assert(!r8.getAs[Boolean]("data_constrained"))          // 6.8k < 10k
    assert(out.tail.forall(_.getAs[Boolean]("data_constrained")))
    // monotone in compute, and D* grows faster than N* (β < α ⇒ the
    // fitted exponent on D is the larger one)
    out.sliding(2).foreach { case Array(lo, hi) =>
      assert(hi.getAs[Long]("ln_n_opt_micro") > lo.getAs[Long]("ln_n_opt_micro"))
      assert(hi.getAs[Long]("ln_d_opt_micro") > lo.getAs[Long]("ln_d_opt_micro"))
      assert(hi.getAs[Long]("ln_tokens_per_param_micro") >
        lo.getAs[Long]("ln_tokens_per_param_micro"))
    }
  }

  test("unigram Viterbi: cost-optimal path, shorter-final-piece tie-break, " +
       "alphabet fallback") {
    val cost = Map("a" -> 100L, "b" -> 200L, "c" -> 300L,
      "ab" -> 150L, "bc" -> 250L, "abc" -> 500L)
    // a(100)+bc(250)+ab(150)=500 beats abc(500)+ab(150)=650
    assert(Unigram.segment("abcab", cost, 6) === Seq("a", "bc", "ab"))
    assert(Unigram.segment("cab", cost, 6) === Seq("c", "ab"))
    assert(Unigram.segment("bbbb", cost, 6) === Seq("b", "b", "b", "b"))
    assert(Unigram.segment("", cost, 6) === Seq.empty)
    // equal-cost tie: [x, y] (200) vs [xy] (200) \u2014 packed cost\u00b764+len
    // prefers the SHORTER final piece
    val tie = Map("x" -> 100L, "y" -> 100L, "xy" -> 200L)
    assert(Unigram.segment("xy", tie, 6) === Seq("x", "y"))
    // a char outside the vocab segments as a prohibitive-cost single
    // (defensive \u2014 the trained alphabet always covers the corpus)
    assert(Unigram.segment("azb", Map("a" -> 1L, "b" -> 1L), 6) ===
      Seq("a", "z", "b"))
  }

  test("unigram train: whole alphabet kept with a count floor, vocabulary " +
       "segments every corpus word, deterministic across partitionings") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "ababab ababab cding"),
      (2L, "ababab abab cding"),
      (3L, "cding cding zz")).toDF("doc_id", "text")
    def tab(df: org.apache.spark.sql.DataFrame) = df.orderBy("rank").collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[String]("piece"),
        r.getAs[Long]("cnt"), r.getAs[Long]("cost_micro")))
    val t1 = tab(Unigram.train(corpus, col("text"), rounds = 2))
    val t2 = tab(Unigram.train(corpus.repartition(4), col("text"), rounds = 2))
    assert(t1.toSeq === t2.toSeq)
    val pieces = t1.map(_._2).toSet
    // every corpus character survives as a single (coverage guarantee)
    "abcdingz".foreach(ch => assert(pieces.contains(ch.toString)))
    assert(t1.forall(_._3 >= 1L))                  // count floor
    assert(t1.map(_._1).toSeq === (1L to t1.length).toSeq)  // dense ranks
    // higher rank never has a larger count; equal counts order by piece
    t1.sliding(2).foreach { case Array(hi, lo) =>
      assert(hi._3 > lo._3 || (hi._3 == lo._3 && hi._2 < lo._2))
    }
    // cost is monotone: fewer counts cost more micro-nats
    val byCnt = t1.sortBy(_._3)
    assert(byCnt.head._4 >= byCnt.last._4)
    // the trained vocabulary round-trips every distinct corpus word
    val cm = t1.map(x => (x._2, x._4)).toMap
    Seq("ababab", "abab", "cding", "zz").foreach { w =>
      assert(Unigram.segment(w, cm, 6).mkString === w)
    }
  }

  test("unigram encode: per-word segmentation concatenates back to the " +
       "normalized text; empty and symbol-only docs yield no tokens") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "ababab ababab cding"),
      (2L, "Punct-only!! 123"),
      (3L, "")).toDF("doc_id", "text")
    val vocab = Unigram.train(corpus.filter(col("doc_id") === 1L),
      col("text"), rounds = 2)
      .collect().map(r => (r.getAs[String]("piece"),
        r.getAs[Long]("cost_micro"))).toSeq
    val out = Unigram.encode(corpus, col("doc_id"), col("text"), vocab)
      .collect().map(r => r.getAs[Long]("docId") ->
        r.getSeq[String](r.fieldIndex("tokens")).toList).toMap
    assert(out(1L).mkString === "abababababab" + "cding")
    // doc 2 normalizes to 'punctonly' \u2014 chars outside doc-1's alphabet
    // (p,u,t,o,l,y) fall back to prohibitive-cost singles, still covered
    assert(out(2L).mkString === "punctonly")
    assert(out(3L) === Nil)
  }

  test("logisticApply evaluates the fused token scorer once per row") {
    import org.apache.spark.sql.catalyst.expressions.Expression
    // a range scan, not a local relation the optimizer would fold away
    val texts = spark.range(4).select(col("id").as("doc_id"),
      when(col("id") =!= 3, concat(lit("tok "), col("id").cast("string")))
        .as("text"))
    val scored = Classifier.logisticApply(texts, col("doc_id"), col("text"),
      Map(1L -> 5L, 3L -> -2L), bias = 0L, buckets = 16)
    val plan = scored.queryExecution.optimizedPlan
    val kernels = plan.collect { case node =>
      node.expressions.flatMap(_.collect {
        case k: graft.functions.HashedTokenScore => k: Expression })
    }.flatten
    assert(kernels.size === 1, plan)
    assert(scored.select("docId").collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(0L, 1L, 2L)) // null text scores no row
  }

  test("refineCentroids orders centroid ids like sort_array (UTF-8 bytes), " +
       "not by UTF-16 code units") {
    import spark.implicits._
    val bmp = "\uFF21"          // U+FF21: UTF-8 EF BC A1
    val astral = "\uD83D\uDE00" // U+1F600: UTF-8 F0 9F 98 80
    assert(astral < bmp) // UTF-16: the surrogate D83D sorts first
    val sparkOrder = spark.range(1)
      .select(sort_array(array(lit(astral), lit(bmp)))).head().getSeq[String](0)
    assert(sparkOrder === Seq(bmp, astral))
    assert(Seq(astral, bmp).sorted(Similarity.centIdOrder) === sparkOrder)
    // two identical centroids tie on the one point; the tie goes to the
    // first id in sort_array order, whose cell the point then pulls over
    val init = Seq((astral, Seq(1000L, 0L), 1000000L),
      (bmp, Seq(1000L, 0L), 1000000L)).toDF("cent", "centq", "centn")
    val points = Seq(Tuple1(Seq(3000L, 0L))).toDF("cq")
    val refined = Similarity.refineCentroids(points, init, 1).collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(refined === Map(bmp -> Seq(3000L, 0L), astral -> Seq(1000L, 0L)))
  }
}
