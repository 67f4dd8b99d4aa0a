package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.pipeline.Staging.StagingOps

/**
 * Learned document-quality classification — the GPT-3 curation stage
 * (Brown et al. 2020, "Language Models are Few-Shot Learners",
 * arXiv:2005.14165, Appendix A): train a linear classifier to separate a
 * high-quality reference corpus (the paper used WebText/Wikipedia/Books
 * as positives against raw Common Crawl), score every crawl document,
 * and keep a document iff `pareto(α=9) > 1 − score` — the paper's
 * stochastic acceptance rule that mostly keeps high-scoring documents
 * but lets through a long tail of low-scoring ones so the filtered
 * corpus stays diverse.
 *
 * The classifier here is closed-form: multinomial Naive Bayes log-odds
 * over hashed unigram features (the hashing trick the paper's
 * HashingVectorizer applies, with NB's count-derived weights standing in
 * for logistic-regression training — same feature space, same linear
 * scoring form `w·x + b`, but with a deterministic, one-pass,
 * engine-replayable fit instead of SGD). Every piece rides the
 * engine-portable fixed-point devices this module family established:
 *
 *  - features: whitespace unigrams hashed to `buckets` md5-prefix
 *    buckets (the [[Sampling.dsirWeights]] feature space, minus bigrams);
 *  - per-bucket log-odds and the class prior are rounded to integer
 *    MICRO-nats half-away (the dsir log-table exposure, carried green
 *    since r13), so each document's raw score is an order-independent
 *    long sum;
 *  - the document probability is a logistic over the LENGTH-NORMALIZED
 *    log-odds (one IEEE double division by the token count — correctly
 *    rounded, so bit-identical in any IEEE engine, unlike integer `div`
 *    whose negative-operand truncation direction differs between Spark
 *    and DuckDB — then one micro-rounded sigmoid) — without the
 *    normalization a 100-token document saturates the sigmoid and the
 *    Pareto rule degenerates to a hard threshold;
 *  - the Pareto variate inverts an exact md5-uniform:
 *    u = (h60 + 0.5)/2^60, x = u^(−1/α) − 1 (the numpy.random.pareto
 *    Lomax form the paper's `np.random.pareto(9)` draws), micro-rounded
 *    before the comparison so keep/drop is a long comparison in any
 *    engine.
 *
 * Scale shape: training is ONE corpus-scale token aggregation collapsing
 * map-side into ≤ `buckets` rows (config-bounded aggregate state — the
 * DSIR bounded-model device) collected and re-embedded as a map literal;
 * scoring is a map-side lookup per token + one groupBy(doc) sum; the
 * Pareto rule is a pure projection. Nothing shuffles but the doc-keyed
 * sum, and the 100 TB corpus text is read exactly once per pass.
 */
object Classifier {

  /** Per-bucket micro-nat log-odds table + micro-nat prior, trained from
    * the labeled corpus in one bounded aggregation. Add-one smoothing on
    * both classes; buckets never seen in training fall back to 0 (even
    * odds) at scoring time via the map-miss coalesce. */
  private def trainLogOdds(toks: DataFrame, buckets: Int): (Map[Long, Long], Long) = {
    val counts = toks.groupBy("b").agg(
      sum(when(col("isHq"), 1L).otherwise(0L)).as("cp"),
      count(lit(1)).as("ca")).collect()
    val tp = counts.map(_.getAs[Long]("cp")).sum.toDouble + buckets
    val tn = counts.map(r => r.getAs[Long]("ca") - r.getAs[Long]("cp")).sum
      .toDouble + buckets
    def micro(x: Double): Long =
      BigDecimal(x * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val lo: Map[Long, Long] = counts.map { r =>
      val cp = r.getAs[Long]("cp"); val cn = r.getAs[Long]("ca") - cp
      r.getAs[Long]("b") ->
        micro(math.log(cp + 1.0) - math.log(tp) -
          math.log(cn + 1.0) + math.log(tn))
    }.toMap
    (lo, micro(math.log(tp) - math.log(tn)))
  }

  /** r21: the token stream rides the native TokenBuckets kernel — the
    * same md5-prefix bucket longs (pinned bit-equal in FunctionsSpec),
    * without the per-token hex rendering + substring + radix parse. Null
    * text explodes to nothing, exactly like the split stream did. */
  private def hashedTokens(df: DataFrame, idCol: Column, textCol: Column,
                           isHq: Column, buckets: Int): DataFrame = {
    import org.apache.spark.sql.GraftColumnShim.{column => kcol, expression => kexpr}
    df.select(idCol.as("docId"), isHq.as("isHq"),
      explode(kcol(graft.functions.TokenBuckets(kexpr(textCol), buckets)))
        .as("b"))
  }

  /** Fused per-document scoring pass under a dense micro-nat weight
    * table: (docId, nTokens, sum) in ONE kernel call — the corpus-scale
    * token explode and the groupBy(doc) Exchange of the historical
    * formulation are gone (guide §1.2 step 2, §2.4). `weights` misses
    * default to 0, the historical coalesce fallback. */
  private def fusedTokenScore(df: DataFrame, idCol: Column, textCol: Column,
                              w: Map[Long, Long], buckets: Int,
                              sumName: String): DataFrame = {
    import org.apache.spark.sql.GraftColumnShim.{column => kcol, expression => kexpr}
    val dense = Array.fill(buckets)(0L)
    w.foreach { case (k, v) => dense(k.toInt) = v }
    df.filter(textCol.isNotNull) // null text scored no tokens before
      .select(idCol.as("docId"),
        kcol(graft.functions.HashedTokenScore(kexpr(textCol), buckets, dense))
          .as("__s"))
      .select(col("docId"),
        element_at(col("__s"), 1).as("nTokens"),
        element_at(col("__s"), 2).as(sumName))
  }

  /**
   * Score every document: (docId, nTokens, lorMicro, probMicro) where
   * `lorMicro` is the summed per-token log-odds in micro-nats and
   * `probMicro` = round(σ(prior + lorMicro/nTokens in nats)·1e6) — the
   * classifier probability the Pareto rule consumes, in micro-units.
   */
  def qualityScores(df: DataFrame, idCol: Column, textCol: Column,
                    isHq: Column, buckets: Int = 1024): DataFrame = {
    val toks = hashedTokens(df, idCol, textCol, isHq, buckets)
    val (lo, priorMicro) = trainLogOdds(toks, buckets)
    val scored = fusedTokenScore(df, idCol, textCol, lo, buckets, "lorMicro")
    scored.withColumn("probMicro",
      round(lit(1e6) / (lit(1.0) +
        exp(-(lit(priorMicro.toDouble) +
          col("lorMicro").cast("double") / col("nTokens").cast("double"))
          / 1e6))).cast("long"))
  }

  /**
   * TRAINED logistic-regression quality classifier (Joulin et al. 2016,
   * "Bag of Tricks for Efficient Text Classification" — the fastText
   * linear model; the trained-classifier curation stage of DCLM, Li et
   * al. 2024, arXiv:2406.11794 §4.4) over the SAME hashed-unigram
   * feature space as [[qualityScores]]: where NB derives weights
   * closed-form from counts, this FITS them by `steps` full-batch
   * gradient-descent epochs on the logistic loss —
   *
   *   σ_doc   = σ((Σ_b cnt_b·w_b)/n_doc/1e6 + bias)   (micro-rounded,
   *             the established per-doc sigmoid device)
   *   grad_b  = Σ_docs cnt_b·(y − σ)                  (exact long/decimal
   *             sum, order-independent)
   *   w_b    += (lrNum·grad_b) / (lrDen·N)            (truncating integer
   *             division — Scala BigInt `/`, Spark `div`, and DuckDB `//`
   *             all truncate toward zero, so the update replays exactly)
   *
   * Weights live in integer micro-nats as driver metadata (≤ `buckets`
   * rows, the DSIR/Lloyd bounded-model device) re-embedded as a dense
   * kernel table each epoch. Full-batch GD (not fastText's SGD) is the
   * DOCUMENTED deviation: per-example updates are order-dependent and
   * cannot be engine-replayed; the batch gradient is an
   * order-independent sum, costs the same one pass per epoch, and is
   * the standard distributed formulation.
   *
   * Each input row is one document: ids are unique, as the oracle's
   * `GROUP BY doc_id` assumes (training never groups by id).
   *
   * Scale shape: ONE corpus-scale token pass stages each document's
   * bucket array with its label (a map-only barrier — every epoch reads
   * it, the corpus text is touched exactly once). Each epoch is then ONE
   * aggregate: a map-side kernel turns the document's array into its
   * residual r under the current weights, and
   * `explode(toks ++ [-1]).groupBy(b)` sums `CAST(r AS DECIMAL(38,0))`
   * per bucket — Σ cnt·r, since a bucket repeats once per token — with
   * the sentinel bucket −1 carrying the bias gradient Σ r (and, by its
   * count, the document total). The partial aggregate collapses each
   * partition to ≤ buckets+1 rows, so an epoch shuffles at most
   * (buckets+1)·partitions rows and nothing keyed by document; the
   * decimal sums are exact, so the weights do not depend on the
   * partitioning (corpus-scale residual mass overflows a long at the
   * 100 TB design point).
   *
   * Returns (docId, nTokens, dotMicro, probMicro) under the final
   * weights — dotMicro = Σ cnt·w exact, probMicro the micro-rounded
   * classifier probability.
   */
  def logisticScores(df: DataFrame, idCol: Column, textCol: Column,
                     isHq: Column, buckets: Int = 1024, steps: Int = 2,
                     lrNum: Long = 1L, lrDen: Long = 2L): DataFrame = {
    val (w, bias) = logisticModel(df, textCol, isHq, buckets, steps,
      lrNum, lrDen)
    logisticApply(df, idCol, textCol, w, bias, buckets)
  }

  /** Train the logistic model alone: (bucket → micro-nat weight, bias)
    * — bounded driver metadata, appliable to ANY text frame (the DCLM
    * composition trains on the labeled corpus and scores dedup
    * survivors). See [[logisticScores]] for the algorithm and the
    * one-row-per-document contract. */
  def logisticModel(df: DataFrame, textCol: Column, isHq: Column,
                    buckets: Int = 1024, steps: Int = 2, lrNum: Long = 1L,
                    lrDen: Long = 2L): (Map[Long, Long], Long) = {
    import org.apache.spark.sql.GraftColumnShim.{column => kcol, expression => kexpr}
    require(steps >= 1 && lrNum > 0 && lrDen > 0, "bad GD config")
    // NOTE: the barrier stages the raw TokenBuckets array (one entry per
    // token), not counts: r21 measured a per-doc (bucket, count)
    // histogram kernel slower than a groupBy(doc, bucket) count sliver,
    // and the array needs neither — BucketWeightSum reads it for the dot
    // product, and the epoch's explode feeds the bucket-keyed partial
    // aggregate directly. Every epoch reads the staged arrays, the corpus
    // only once. Null text (a NULL array) has no tokens; it is dropped
    // AFTER the barrier, since a filter over a repartitioned input sinks
    // below its exchange.
    val toks = df
      .select(isHq.as("isHq"),
        kcol(graft.functions.TokenBuckets(kexpr(textCol), buckets)).as("toks"))
      .staged
      .filter(col("toks").isNotNull)
    val sentinel = -1L

    var w = Array.fill(buckets)(0L)
    var seen = Set.empty[Long]
    var bias = 0L
    var nDocs = 0L
    var t = 0
    while (t < steps) {
      val dot = kcol(graft.functions.BucketWeightSum(kexpr(col("toks")), w))
      val probMicro = round(lit(1e6) / (lit(1.0) + exp(
        -(dot.cast("double") / size(col("toks")).cast("double")
          + bias.toDouble) / 1e6))).cast("long")
      // r in its own projection: the explode below must not re-run the
      // kernel once per token
      val rows = toks
        .select(col("toks"),
          (when(col("isHq"), lit(1000000L)).otherwise(lit(0L)) - probMicro)
            .as("r"))
        .select(explode(concat(col("toks"), array(lit(sentinel)))).as("b"),
          col("r"))
        .groupBy("b")
        .agg(sum(expr("CAST(r AS DECIMAL(38,0))")).as("g"),
          count(lit(1)).as("n"))
        .collect()
      val g = rows.map(x => x.getAs[Long]("b") ->
        BigInt(x.getAs[java.math.BigDecimal]("g").toBigInteger)).toMap
      if (t == 0) {
        nDocs = rows.find(_.getAs[Long]("b") == sentinel)
          .fold(0L)(_.getAs[Long]("n"))
        require(nDocs > 0, "logistic training needs a non-empty corpus")
        seen = g.keySet - sentinel
      }
      val den = BigInt(lrDen) * nDocs
      val next = w.clone()
      seen.foreach { b =>
        next(b.toInt) += ((BigInt(lrNum) * g(b)) / den).toLong
      }
      w = next
      bias += ((BigInt(lrNum) * g(sentinel)) / den).toLong
      t += 1
    }
    (seen.iterator.map(b => b -> w(b.toInt)).toMap, bias)
  }

  /** Score any text frame under a trained logistic model: one map-side
    * bucket pass + one doc-keyed agg — (docId, nTokens, dotMicro,
    * probMicro). */
  def logisticApply(df: DataFrame, idCol: Column, textCol: Column,
                    w: Map[Long, Long], bias: Long,
                    buckets: Int = 1024): DataFrame = {
    fusedTokenScore(df, idCol, textCol, w, buckets, "dotMicro")
      .withColumn("probMicro",
        round(lit(1e6) / (lit(1.0) + exp(
          -(col("dotMicro").cast("double") / col("nTokens").cast("double")
            + bias.toDouble) / 1e6))).cast("long"))
      .select(col("docId"), col("nTokens"), col("dotMicro"),
        col("probMicro"))
  }

  /**
   * The full GPT-3 Appendix-A filter: score, draw the document's Pareto
   * variate from its id hash, keep iff `pareto > 1 − prob` — compared in
   * micro-units so the decision is a long comparison. Returns every
   * document with its probability, the variate, and the `kept` flag
   * (filtering is the caller's one-line projection, keeping the row
   * for audit the way semDedup/prototypePrune do).
   */
  def qualityFilterPareto(df: DataFrame, idCol: Column, textCol: Column,
                          isHq: Column, alpha: Double = 9.0,
                          seed: String = "quality", buckets: Int = 1024): DataFrame = {
    val scores = qualityScores(df, idCol, textCol, isHq, buckets)
    val h60 = conv(substring(md5(concat(lit(seed + "|"),
      col("docId").cast("string"))), 1, 15), 16, 10).cast("long")
    val u = (h60.cast("double") + lit(0.5)) / lit(math.pow(2.0, 60))
    val paretoMicro = round((pow(u, lit(-1.0 / alpha)) - lit(1.0)) * 1e6)
      .cast("long")
    scores
      .withColumn("paretoMicro", paretoMicro)
      .withColumn("kept",
        col("paretoMicro") > lit(1000000L) - col("probMicro"))
  }

  /**
   * Calibration / reliability table (the calibration-curve report of Guo
   * et al. 2017, "On Calibration of Modern Neural Networks", ICML —
   * equal-width confidence bins): scored examples bucket into `bins`
   * probability deciles; each bin reports its count, mean predicted
   * probability (confidence) and empirical positive rate (accuracy) —
   * the |confidence − accuracy| gaps are what ECE sums. A filter
   * deployment reads this before trusting a classifier's top-decile
   * threshold (the DCLM/GPT-3 selection device).
   *
   * Integer micro end to end: bin = min(bins−1, prob·bins div 1e6), both
   * means are truncating integer divisions — engines agree bit-exactly.
   * ONE `bins`-row aggregate over the scored frame; at 100 TB the scores
   * are map-side (logisticApply) and this adds a single bounded groupBy.
   */
  def calibration(scored: DataFrame, idCol: Column, probMicroCol: Column,
                  labelCol: Column, bins: Int = 10): DataFrame = {
    require(bins > 0, "calibration needs a positive bin count")
    scored
      .select(idCol.as("docId"), probMicroCol.as("p"),
        labelCol.cast("boolean").as("y"))
      .withColumn("bin",
        least(lit(bins - 1L), expr(s"(p * $bins) div 1000000")))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        expr("sum(p) div count(1)").as("confidenceMicro"),
        expr("(1000000 * sum(CASE WHEN y THEN 1 ELSE 0 END)) div count(1)")
          .as("posRateMicro"))
  }
}
