package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftColumnShim.{column => kcol, expression => kexpr}
import graft.pipeline.Staging.StagingOps

/**
 * CCNet-style perplexity bucketing (Wenzek et al. 2020, "CCNet: Extracting
 * High Quality Monolingual Datasets from Web Crawl Data", arXiv:1911.00359
 * §4.3): score every document by its cross-entropy under a language model
 * trained on a high-quality reference corpus, then split the crawl into
 * `head` / `middle` / `tail` tertiles — the published recipe keeps `head`
 * (lowest perplexity = closest to the reference distribution) for LM
 * training data.
 *
 * The LM here is the hashed-bucket bigram model the DSIR implementation
 * established ([[Sampling.dsirWeights]]): n-grams hash into a fixed bucket
 * count via md5-prefix (engine-portable), so the WHOLE model is a
 * config-bounded table (≤ 2·`buckets` rows) collected as driver metadata —
 * the scoring pass is a per-document table lookup, no joins. Add-one
 * smoothing over the bucketed vocabulary:
 *
 *   -log P(w | prev) = log(c(bucket(prev)) + B) − log(c(bucket(prev,w)) + 1)
 *
 * Determinism (the DSIR recipe): both log components round HALF_UP to
 * integer micro-units BEFORE combining, each per-gram term clamps at 0
 * (bucket collisions can make the bigram bucket more frequent than the
 * context bucket — "probability one" is the floor), and the per-doc
 * cross-entropy is an integer division `sum div n` — every corpus-scale
 * sum is over longs, order-independent, bit-equal in any engine.
 *
 * Scale shape (r21: the gram chain runs in the native GramBucket kernels —
 * same md5-prefix bucket longs, pinned bit-equal in FunctionsSpec): ONE
 * reference-scale pass feeds BOTH histograms (each reference document
 * emits its packed (isG, bucket) long stream from the codegen'd
 * `CeGramBuckets` kernel; a single map-side partial count collapses them
 * to ≤ 2·`buckets` rows in one job), then ONE corpus-scale map-side pass
 * for the scoring — the fused `CeScore` kernel computes each document's
 * (n_bigrams, ce_micro) in one call over the zero-copy token slices, so
 * the corpus-scale gram explode AND the groupBy(docId) Exchange of the
 * r15–r20 formulation are gone outright (guide §1.2 step 2, §2.4). The
 * per-document output is localCheckpoint'd so the returned frame never
 * re-runs the scan. Tertile cutpoints come from a single rank-condition
 * job over the score HISTOGRAM of the REFERENCE documents (k-th smallest
 * = min value whose cumulative count reaches k; no data-derived
 * `limit(k)`, so no Int ceiling and no k-sized per-partition heaps, and
 * the cumulative window sorts per-value counts, never rows). CCNet's
 * reference corpus (Wikipedia) is bounded — it does not grow with the
 * crawl — so the histogram is reference-bounded metadata; at 100 TB the
 * thresholds are computed once and shipped as two scalars, exactly like
 * the paper's precomputed per-language cutoffs.
 */
object Perplexity {

  private def microLog(x: Double): Long =
    BigDecimal(math.log(x) * 1e6)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  /**
   * Per-document cross-entropy under the reference-trained bucketed
   * bigram LM, with head/middle/tail tertile buckets. Returns
   * (docId, n_bigrams, ce_micro, ppl_bucket); `ce_micro` is the mean
   * negative log-probability in integer micro-nats. Tertile cutpoints are
   * the ceil(n/3)-th and ceil(2n/3)-th smallest reference-document scores
   * (multiset k-th smallest — well-defined under ties with no ordering
   * ambiguity).
   */
  def perplexityBuckets(df: DataFrame, idCol: Column, textCol: Column,
                        isRef: Column, buckets: Int = 1024): DataFrame =
    bucketize(crossEntropy(df, idCol, textCol, isRef, buckets))

  /**
   * The per-document scoring stage alone: (docId, isRef, n_bigrams,
   * ce_micro) under the reference-trained bucketed bigram LM, checkpointed
   * (the corpus scan runs once however many consumers follow). `carry`
   * names constant-per-document columns to thread through the scoring
   * projection (e.g. the mixture domain for [[Mixing.doremiWeights]]) so
   * downstream stages need no corpus-scale join back to the source table.
   *
   * Requires unique document ids (one output row per input row; the
   * historical groupBy(docId) formulation collapsed duplicate ids — every
   * registered caller feeds unique ids).
   */
  def crossEntropy(df: DataFrame, idCol: Column, textCol: Column,
                   isRef: Column, buckets: Int = 1024,
                   carry: Seq[(String, Column)] = Nil): DataFrame = {
    // the LM: bigram-bucket and context-bucket histograms over the
    // REFERENCE grams only — ≤ 2·buckets rows of aggregate state no
    // matter the corpus size, collected like DSIR's bucket table.
    // ONE pass: each reference doc emits its packed (isG, bucket) long
    // stream from the native kernel (null text → null array → explode
    // drops the doc, exactly like the historical null gram stream) and a
    // single map-side partial count collapses both histograms in one job.
    val hist = df.filter(isRef)
      .select(explode(kcol(graft.functions.CeGramBuckets(
        kexpr(textCol), buckets))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("c")).collect()
    // densify to the kernel tables; absent buckets keep the add-one
    // defaults (log(0+1) = 0 for the bigram plane, log(0+B) for the
    // context plane — the historical coalesce fallbacks)
    val lpb = Array.fill(buckets)(0L)
    val lpc = Array.fill(buckets)(microLog(buckets.toDouble))
    hist.foreach { r =>
      val v = r.getAs[Long]("v")
      val c = r.getAs[Long]("c")
      if (v < buckets) lpb(v.toInt) = microLog(c + 1.0)
      else lpc((v - buckets).toInt) = microLog(c + buckets.toDouble)
    }
    // scoring: ONE fused kernel call per document — (n_bigrams, ce_micro)
    // computed map-side, no gram explode, no groupBy(doc) Exchange.
    // doc-level output is checkpointed so the corpus scan runs ONCE —
    // both the tertile job and the returned frame read the checkpoint
    df.filter(textCol.isNotNull) // null text scored no grams before
      .select(Seq(idCol.as("docId"), isRef.as("isRef"),
        kcol(graft.functions.CeScore(kexpr(textCol), buckets, lpb, lpc))
          .as("__s")) ++
        carry.map { case (n, c) => c.as(n) }: _*)
      .select(Seq(col("docId"), col("isRef"),
        element_at(col("__s"), 1).as("n_bigrams"),
        element_at(col("__s"), 2).as("ce_micro")) ++
        carry.map { case (n, _) => col(n) }: _*)
      .staged
  }

  /**
   * RHO-loss-style excess-loss selection (Mindermann et al. 2022,
   * "Prioritized Training on Points that are Learnable, Worth Learning,
   * and Not Yet Learnt", ICML — the reducible-holdout-loss criterion;
   * RHO-1, Lin et al. 2024, arXiv:2404.07965, applies the same
   * two-model loss difference token-level for LLM data selection):
   * score every document under TWO reference-trained bucketed bigram
   * LMs — the target-domain reference (`isRefTarget`) and a
   * generic/contrast reference (`isRefAlt`) — and rank by
   * excess = ce_alt − ce_target. Documents the target-domain model
   * explains much better than the generic one carry the learnable,
   * worth-learning mass; excess ≤ 0 marks noise or off-domain text the
   * target model has nothing to gain from. Integer micro-nat arithmetic
   * end to end (the [[crossEntropy]] device twice over), so selection
   * replays exactly in any engine.
   *
   * Returns (docId, n_bigrams, ce_target_micro, ce_alt_micro,
   * excess_micro, selected); selected = excess_micro > 0.
   *
   * Scale shape: training two models costs the same data movement as
   * one — a single reference-scale packed-bucket pass feeds ONE
   * two-counter histogram agg (≤ 2·buckets rows of aggregate state, each
   * gram's contribution gated by its document's membership flags), and
   * one fused scoring call per document computes both per-gram terms
   * side by side (no gram explode, no groupBy(doc) Exchange).
   */
  def excessLoss(df: DataFrame, idCol: Column, textCol: Column,
                 isRefTarget: Column, isRefAlt: Column,
                 buckets: Int = 1024): DataFrame = {
    val hist = df.filter(isRefTarget || isRefAlt)
      .select(isRefTarget.as("kt"), isRefAlt.as("ka"),
        explode(kcol(graft.functions.CeGramBuckets(
          kexpr(textCol), buckets))).as("v"))
      .groupBy("v")
      .agg(sum(when(col("kt"), 1L).otherwise(0L)).as("ct"),
        sum(when(col("ka"), 1L).otherwise(0L)).as("ca"))
      .collect()
    def model(cnt: org.apache.spark.sql.Row => Long): (Array[Long], Array[Long]) = {
      val lpb = Array.fill(buckets)(0L)
      val lpc = Array.fill(buckets)(microLog(buckets.toDouble))
      hist.foreach { r =>
        val v = r.getAs[Long]("v")
        val c = cnt(r)
        // c = 0 fills the add-one default values exactly, so unconditional
        // filling matches the historical keep-filtered sparse maps
        if (v < buckets) lpb(v.toInt) = microLog(c + 1.0)
        else lpc((v - buckets).toInt) = microLog(c + buckets.toDouble)
      }
      (lpb, lpc)
    }
    val (lpbT, lpcT) = model(_.getAs[Long]("ct"))
    val (lpbA, lpcA) = model(_.getAs[Long]("ca"))
    df.filter(textCol.isNotNull)
      .select(idCol.as("docId"),
        kcol(graft.functions.CeScorePair(kexpr(textCol), buckets,
          lpbT, lpcT, lpbA, lpcA)).as("__s"))
      .select(col("docId"),
        element_at(col("__s"), 1).as("n_bigrams"),
        element_at(col("__s"), 2).as("ce_target_micro"),
        element_at(col("__s"), 3).as("ce_alt_micro"))
      .withColumn("excess_micro",
        col("ce_alt_micro") - col("ce_target_micro"))
      .withColumn("selected", col("excess_micro") > 0)
  }

  /**
   * Per-document cross-entropy under a reference-trained bucketed
   * INTERPOLATED KNESER-NEY bigram LM (Kneser & Ney 1995, ICASSP; the
   * interpolated form of Chen & Goodman 1999 §2.7 — the smoothing
   * family CCNet's KenLM actually implements, here at bigram order),
   * with the same head/middle/tail tertile assignment as
   * [[perplexityBuckets]]:
   *
   *   P(w|prev) = max(c(prev,w) − D, 0)/c(prev)
   *             + D·N1+(prev,·)/c(prev) · P_cont(w)
   *   P_cont(w) = (N1+(·,w) + 1) / (N1+(·,·) + B)     (add-one floored)
   *
   * with the canonical absolute discount D = `dNum`/`dDen` (¾ default)
   * and backoff to P_cont alone when the context is unseen. In the
   * bucketed-hash model space ([[crossEntropy]]'s device) the
   * occurrence counts come from the hashed-bigram/context buckets and
   * the TYPE counts N1+ from the (context-bucket, word-bucket) pair
   * space — so the whole model stays config-bounded: three ≤B-row maps
   * + one scalar, collected as driver metadata.
   *
   * Determinism: the interpolated probability is computed as ONE exact
   * integer rational — clearing D's denominator,
   *
   *   num = max(dDen·c(prev,w) − dNum, 0)·(N1+(·,·)+B)
   *         + dNum·N1+(prev,·)·(N1+(·,w)+1)
   *   den = dDen·c(prev)·(N1+(·,·)+B)
   *
   * and −log P = lnMicro(den) − lnMicro(num), both logs taking exact
   * INTEGER arguments (the ln-parity device; the kernel's lnMicro is
   * pinned bit-equal to the SQL `round(log(x)·1e6, 0)` in
   * FunctionsSpec). Exactness envelope: the binding term is
   * den = dDen·c(prev)·(N1+(·,·)+B), whose c(prev) is a SINGLE context
   * bucket's count — NOT grams/B, because buckets are not uniform: the
   * '<s>' context funnels one gram per document into one bucket. With
   * B = 1024 and dDen = 4, den stays under 2⁵³ while max-bucket-count
   * < 2⁵³/(4·(B²+B)) ≈ 2.1·10⁹ — i.e. reference corpora up to ~2
   * billion DOCUMENTS (and 2.1·10⁹ grams in any other single bucket);
   * past that the long→double cast may round and the final micro-nat
   * can drift by one between engines. Reference sets are sampled far
   * below that in practice (r15 advice documents the bound honestly).
   * Per-gram −log P is clamped at 0 (hash collisions can push p past
   * 1). A seen context guarantees N1+(prev,·) ≥ 1, so num ≥ dNum — no
   * log of zero on any path.
   *
   * Scale shape (r21 kernels): ONE reference-scale pass builds all model
   * tables (each ref doc emits three packed tag entries per gram from
   * the codegen'd `KnGramBuckets` kernel; a single map-side-partial
   * count collapses them — the tag-2 (bc, bw) plane is ≤B² rows of
   * aggregate state, reduced to the ≤B-row N1+ maps by vocab-bounded
   * follow-up aggs before collection), then ONE corpus-scale fused
   * scoring call per document (`KnScore` — no gram explode, no
   * groupBy(doc) Exchange).
   */
  def perplexityBucketsKN(df: DataFrame, idCol: Column, textCol: Column,
                          isRef: Column, buckets: Int = 1024,
                          dNum: Int = 3, dDen: Int = 4): DataFrame =
    bucketize(crossEntropyKN(df, idCol, textCol, isRef, buckets, dNum, dDen))

  /** The KN scoring stage alone: (docId, isRef, n_bigrams, ce_micro),
    * checkpointed — see [[perplexityBucketsKN]]. Unique doc ids required
    * (the [[crossEntropy]] note). */
  def crossEntropyKN(df: DataFrame, idCol: Column, textCol: Column,
                     isRef: Column, buckets: Int = 1024,
                     dNum: Int = 3, dDen: Int = 4): DataFrame = {
    require(dNum > 0 && dDen > dNum, "discount must satisfy 0 < D < 1")
    // ONE reference pass, packed per gram: [0, B) = bigram-bucket counts,
    // [B, 2B) = context-bucket counts, [2B, 2B + B²) = the (context,
    // word) bucket pair plane; ≤ 2B + B² rows of aggregate state at any
    // corpus size
    val twoB = 2L * buckets
    val tagged = df.filter(isRef)
      .select(explode(kcol(graft.functions.KnGramBuckets(
        kexpr(textCol), buckets))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("c"))
      .staged // consumed by 4 bounded follow-ups
    def toMap(f: DataFrame): Map[Long, Long] = f.collect().iterator
      .map(r => r.getAs[Long]("k") -> r.getAs[Long]("c")).toMap
    val cbMap = toMap(tagged.filter(col("v") < buckets)
      .select(col("v").as("k"), col("c")))
    val ccMap = toMap(tagged.filter(col("v") >= buckets && col("v") < twoB)
      .select((col("v") - buckets).as("k"), col("c")))
    val pairs = tagged.filter(col("v") >= twoB)
      .select(expr(s"(v - $twoB) DIV $buckets").as("k1"),
        ((col("v") - twoB) % buckets).as("k2"))
    val n1pMap = toMap(pairs.groupBy(col("k1").as("k"))
      .agg(count(lit(1)).as("c")))
    val n1wMap = toMap(pairs.groupBy(col("k2").as("k"))
      .agg(count(lit(1)).as("c")))
    val nccB = pairs.count() + buckets

    def dense(m: Map[Long, Long]): Array[Long] = {
      val a = Array.fill(buckets)(0L) // the historical lookup default
      m.foreach { case (k, v) => a(k.toInt) = v }
      a
    }
    df.filter(textCol.isNotNull)
      .select(idCol.as("docId"), isRef.as("isRef"),
        kcol(graft.functions.KnScore(kexpr(textCol), buckets,
          dense(cbMap), dense(ccMap), dense(n1pMap), dense(n1wMap),
          nccB, microLog(nccB.toDouble), dNum, dDen)).as("__s"))
      .select(col("docId"), col("isRef"),
        element_at(col("__s"), 1).as("n_bigrams"),
        element_at(col("__s"), 2).as("ce_micro"))
      .staged
  }

  /** Head/middle/tail tertile assignment over a [[crossEntropy]] frame. */
  private def bucketize(scores: DataFrame): DataFrame = {
    // tertile cutpoints in ONE rank-condition job (k-th smallest = min
    // value whose cumulative count reaches k; with k1 = ceil(n/3) and
    // k2 = ceil(2n/3) the integer conditions are 3·cum ≥ n and
    // 3·cum ≥ 2n — the oracle's rank formulation on the value axis).
    // The cumulative window runs over the groupBy(ce_micro) HISTOGRAM,
    // not the row stream: per-value counts are aggregate-state metadata
    // (≤ |distinct scores| rows of the bounded reference corpus, the
    // same class as packSequences' range totals), so the unpartitioned
    // window sorts metadata, never row data. All counts are longs — no
    // Int ceiling, no data-derived limit(k) heaps.
    val wCum = Window.orderBy(col("ce_micro"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy(col("ce_micro"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cuts = scores.filter(col("isRef"))
      .groupBy("ce_micro").agg(count(lit(1)).as("cnt"))
      .select(col("ce_micro"), sum(col("cnt")).over(wCum).as("cum"),
        sum(col("cnt")).over(wAll).as("nn"))
      .agg(coalesce(max(col("nn")), lit(0L)).as("n"),
        min(when(lit(3) * col("cum") >= col("nn"), col("ce_micro"))).as("t1"),
        min(when(lit(3) * col("cum") >= lit(2) * col("nn"), col("ce_micro"))).as("t2"))
      .collect()(0)
    require(cuts.getAs[Long]("n") > 0,
      "perplexity bucketing needs a non-empty reference corpus")
    val t1 = cuts.getAs[Long]("t1")
    val t2 = cuts.getAs[Long]("t2")

    scores.select(col("docId"), col("n_bigrams"), col("ce_micro"),
      when(col("ce_micro") <= t1, "head")
        .when(col("ce_micro") <= t2, "middle")
        .otherwise("tail").as("ppl_bucket"))
  }
}
