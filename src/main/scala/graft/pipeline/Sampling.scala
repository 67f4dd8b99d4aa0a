package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.pipeline.Staging.StagingOps

/**
 * Deterministic sampling / splitting / shuffling for training-data
 * pipelines: the data-mixing stage that sits between dedup and export.
 *
 * All decisions hash the ROW ID (never a partition index or RNG stream), so
 * membership is a pure function of (id, seed) — stable under repartitioning,
 * retries, executor count, and engine (DuckDB computes the identical
 * buckets), and each operation is a narrow map stage with no shuffle.
 *
 * The hash → [0,1) mapping uses the first 15 hex chars of md5(seed|id) as
 * an integer fraction of 16^15 — uniform to ~60 bits, the same
 * engine-portable construction as Dedup.minHashSignatures.
 */
object Sampling {

  private val HashSpace: Double = math.pow(16.0, 15)

  /** Uniform [0,1) hash of (seed, id) — deterministic, engine-portable. */
  def hashFraction(idCol: Column, seed: String): Column =
    conv(substring(md5(concat(lit(seed), lit("|"), idCol.cast("string"))),
      1, 15), 16, 10).cast("double") / lit(HashSpace)

  /**
   * Per-stratum sampling rates (data mixing): keep a row of stratum s with
   * probability rates(s); strata not listed fall back to `defaultRate`.
   * One codegen'd CASE per row, no shuffle, exactly reproducible.
   */
  def stratifiedSample(df: DataFrame, strataCol: Column,
                       rates: Map[String, Double], defaultRate: Double,
                       idCol: Column, seed: String): DataFrame = {
    val rate = rates.foldLeft(Option.empty[Column]) { case (acc, (k, r)) =>
      Some(acc.map(_.when(strataCol === k, lit(r)))
        .getOrElse(when(strataCol === k, lit(r))))
    }.map(_.otherwise(lit(defaultRate))).getOrElse(lit(defaultRate))
    df.filter(hashFraction(idCol, seed) < rate)
  }

  /**
   * Train/validation/test assignment by hash bucket: fractions are
   * cumulative cut points in [0,1). A document keeps its split forever —
   * new data arriving later cannot move old rows between splits, the
   * property leakage-safe pipelines need.
   */
  def trainValTestSplit(df: DataFrame, idCol: Column, seed: String,
                        trainFrac: Double, valFrac: Double): DataFrame = {
    val f = hashFraction(idCol, seed)
    df.withColumn("split",
      when(f < trainFrac, "train")
        .when(f < trainFrac + valFrac, "val")
        .otherwise("test"))
  }

  /**
   * Deterministic corpus shuffle for training export: order by the id hash.
   * Planned as a range-partitioned sort (repartitionByRange + local sort),
   * the scalable global-order shape — each output partition is a contiguous
   * hash range written independently; no single-partition sort anywhere.
   * Downstream trainers read partitions in filename order and get the same
   * permutation every run.
   */
  def deterministicShuffle(df: DataFrame, idCol: Column, seed: String,
                           numPartitions: Int): DataFrame = {
    val keyed = df.withColumn("shuffle_key",
      md5(concat(lit(seed), lit("|"), idCol.cast("string"))))
    keyed.repartitionByRange(numPartitions, col("shuffle_key"))
      .sortWithinPartitions("shuffle_key")
  }

  /**
   * Data-mixing recipe (the Gopher/Pile-style mixture step): given a
   * target share per source, compute each listed source's document count,
   * natural share, and the downsampling rate that realizes the target mix
   * at the LARGEST total achievable without upsampling any source:
   * M* = min_s(n_s / t_s), rate_s = t_s · M* / n_s (the binding source
   * keeps rate 1.0). One tiny groupBy — the result has one row per listed
   * source. Deterministic, engine-portable arithmetic (plain IEEE
   * doubles, same expression order as the SQL oracle).
   */
  /** One counting scan → (source, n_docs, natural_share, rate) rows.
    * Recipe metadata: a handful of rows collected once, arithmetic on the
    * driver (plain IEEE doubles, same expression order as the SQL
    * oracle). A listed source with NO documents is an error — the
    * no-upsampling maximum would be zero and silently renormalizing would
    * deliver a different mix than requested. */
  private def mixtureTable(df: DataFrame, sourceCol: Column,
                           targetShares: Map[String, Double]): Seq[(String, Long, Double, Double)] = {
    require(targetShares.nonEmpty && targetShares.values.forall(_ > 0),
      "target shares must be positive")
    val counts = df.select(sourceCol.as("source"))
      .filter(col("source").isin(targetShares.keys.toSeq.map(lit): _*))
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val missing = targetShares.keySet -- counts.keySet
    require(missing.isEmpty,
      s"mixture sources absent from the data: ${missing.toSeq.sorted.mkString(", ")}")
    val m = counts.map { case (s, n) => n.toDouble / targetShares(s) }.min
    val tot = counts.values.sum.toDouble
    counts.toSeq.sortBy(_._1).map { case (s, n) =>
      (s, n, n.toDouble / tot, targetShares(s) * m / n.toDouble)
    }
  }

  def mixtureRates(df: DataFrame, sourceCol: Column,
                   targetShares: Map[String, Double]): DataFrame = {
    import df.sparkSession.implicits._
    mixtureTable(df, sourceCol, targetShares)
      .toDF("source", "n_docs", "natural_share", "rate")
  }

  /**
   * Apply a mixture recipe: documents from listed sources keep with their
   * computed rate (deterministic id-hash membership via
   * [[stratifiedSample]]); unlisted sources drop. One counting scan, then
   * the sampling scan.
   */
  def mixtureSample(df: DataFrame, sourceCol: Column, idCol: Column,
                    targetShares: Map[String, Double], seed: String): DataFrame = {
    val rates = mixtureTable(df, sourceCol, targetShares)
      .map { case (s, _, _, rate) => s -> rate }.toMap
    stratifiedSample(df, sourceCol, rates, defaultRate = 0.0, idCol, seed)
  }

  /**
   * Sequence packing for training export: assign each document to a
   * token-budget bin along the deterministic shuffle order — bin =
   * floor(exclusive-prefix-sum(tokens) / budget), i.e. a document belongs
   * to the bin its starting token offset falls into (bins overflow by at
   * most one document, the pack-then-overflow convention; trainers split
   * the straddling document downstream).
   *
   * The prefix sum is computed DISTRIBUTED, never as a global-order window:
   * documents land in 256 contiguous hash ranges (the first two hex chars
   * of the md5 shuffle key), the within-range running sum is a window
   * partitioned by range (parallel across 256 groups), and the cross-range
   * offsets are the scanned range totals — 256 numbers, reduced and
   * broadcast back, the same scalar-metadata pattern as
   * queryDatabaseTable's max-value. Bin membership is a pure function of
   * (corpus, seed, budget): stable under repartitioning and executor count.
   */
  def packSequences(df: DataFrame, idCol: Column, tokensCol: Column,
                    budget: Long, seed: String): DataFrame = {
    // the frame feeds TWO actions (range totals, then the output scan) —
    // materialize it once or an expensive upstream (a whole curation
    // pipeline) replays per action; it is 3 narrow columns, and the
    // cluster-scale equivalent is staging the keyed table between passes
    val keyed = df.select(idCol.as("docId"), tokensCol.cast("long").as("n_tokens"))
      .withColumn("__key", md5(concat(lit(seed), lit("|"), col("docId").cast("string"))))
      .withColumn("__rng", conv(substring(col("__key"), 1, 2), 16, 10).cast("int"))
      .staged
    val totals = keyed.groupBy(col("__rng"))
      .agg(sum(col("n_tokens")).as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 until 256).scanLeft(0L)((acc, r) =>
      acc + totals.getOrElse(r, 0L)).take(256)
    val offsetsDf = df.sparkSession.createDataFrame(
      offsets.zipWithIndex.map { case (off, r) => (r, off) })
      .toDF("__rng", "__offset")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__rng")).orderBy(col("__key"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    keyed
      .join(broadcast(offsetsDf), "__rng")
      .withColumn("__start",
        col("__offset") + coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("docId"), col("n_tokens"),
        expr(s"__start div $budget").as("bin"))  // integer div: exact at any offset
  }

  /**
   * Stride-overlap context windows — the PER-DOCUMENT chunking convention
   * (the sliding-window treatment long documents get when examples must
   * not cross document boundaries — the evaluation-side and
   * fine-tuning-side counterpart of [[exportExamples]]' packed stream;
   * cf. the strided-window perplexity evaluation popularized with GPT-2):
   * each document's token stream is cut into windows of `seqLen` tokens
   * whose starts advance by `stride` (< seqLen ⇒ overlap, the context
   * carried across cuts); the final window is the one that first covers
   * the document tail, so every token appears in ≥1 window and no window
   * starts past the text. Documents shorter than seqLen yield their whole
   * text as one window.
   *
   * Returns (docId, windowId, start, nTokens, text). Pure per-row
   * generation: ONE generate-explode projection, no shuffle beyond the
   * dump order — at 100 TB this is map-side fan-out riding the scan,
   * with output volume seqLen/stride × corpus (the documented overlap
   * cost a deployment chooses with `stride`).
   */
  def exportWindows(df: DataFrame, idCol: Column, textCol: Column,
                    seqLen: Int, stride: Int): DataFrame = {
    require(seqLen > 0 && stride > 0 && stride <= seqLen,
      "exportWindows needs 0 < stride <= seqLen")
    val words = split(textCol, " ")
    val n = size(words)
    // number of windows: 1 + ceil(max(n - seqLen, 0) / stride)
    val nWin = lit(1) + ceil(greatest(n - seqLen, lit(0))
      .cast("double") / stride).cast("int")
    df.select(idCol.as("docId"), words.as("__w"), n.as("__n"),
        nWin.as("__k"))
      .withColumn("windowId", explode(sequence(lit(0), col("__k") - 1)))
      .withColumn("start",
        least(col("windowId") * stride, greatest(col("__n") - seqLen, lit(0)))
          .cast("long"))
      .select(col("docId"), col("windowId").cast("long").as("windowId"),
        col("start"),
        least(lit(seqLen), col("__n") - col("start")).cast("long").as("nTokens"),
        array_join(slice(col("__w"), col("start").cast("int") + 1, lit(seqLen)), " ")
          .as("text"))
  }

  /**
   * Training-example materialization — the export last mile (Brown et
   * al. 2020, arXiv:2005.14165 §2.3: "documents are packed into a single
   * sequence... delimited with a special end-of-text token", the
   * convention every GPT-style trainer consumes): documents are laid on
   * the deterministic global token stream in [[packSequences]]' md5
   * order, each followed by `eosToken`, and the stream is cut into
   * consecutive `seqLen`-token examples; the trailing partial example is
   * dropped (the standard convention — it would need padding).
   *
   * Returns (exampleId, nTokens, text) with nTokens ≡ seqLen. Examples
   * cross document boundaries by construction; membership is a pure
   * function of (corpus, seed, seqLen) — stable under repartitioning and
   * executor count, like every pack decision here.
   *
   * Scale shape: the global document offsets come from the SAME 256-
   * range distributed prefix sum packSequences uses (range totals are
   * collected scalar metadata); then ONE per-token explode shuffles on
   * exampleId — the export's inherent data volume, since every output
   * token must land in its example — and each example gathers its
   * seqLen tokens with a position sort that is example-local. No global
   * sort, no single-partition stage; at 100 TB the exampleId shuffle IS
   * the write fan-out, partitioned exactly like the output files.
   */
  def exportExamples(df: DataFrame, idCol: Column, textCol: Column,
                     seqLen: Long, seed: String,
                     eosToken: String = "<|eos|>"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = df.select(idCol.as("docId"),
        concat(split(textCol, " "), array(lit(eosToken))).as("toks"))
      .withColumn("__key",
        md5(concat(lit(seed), lit("|"), col("docId").cast("string"))))
      .withColumn("__rng",
        conv(substring(col("__key"), 1, 2), 16, 10).cast("int"))
      .withColumn("__n", size(col("toks")).cast("long"))
      .staged                 // feeds the totals AND the export
    val totals = keyed.groupBy(col("__rng"))
      .agg(sum(col("__n")).as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 until 256).scanLeft(0L)((acc, r) =>
      acc + totals.getOrElse(r, 0L)).take(256)
    val offsetsDf = df.sparkSession.createDataFrame(
      offsets.zipWithIndex.map { case (off, r) => (r, off) })
      .toDF("__rng", "__offset")
    val w = Window.partitionBy(col("__rng")).orderBy(col("__key"))
      .rowsBetween(Window.unboundedPreceding, -1)
    keyed
      .join(broadcast(offsetsDf), "__rng")
      .withColumn("__start",
        col("__offset") + coalesce(sum(col("__n")).over(w), lit(0L)))
      .select(col("__start"), posexplode(col("toks")).as(Seq("i", "tk")))
      .withColumn("pos", col("__start") + col("i"))
      .groupBy(expr(s"pos div $seqLen").as("exampleId"))
      .agg(count(lit(1)).as("nTokens"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tk")))),
          x => x("tk")), " ").as("text"))
      .filter(col("nTokens") === seqLen)
  }

  /**
   * DSIR importance weights (Xie et al. 2023, "Data Selection for Language
   * Models via Importance Resampling", arXiv:2302.03169 §3): each raw
   * example is weighted by log p_target(x) − log p_raw(x) under hashed
   * n-gram bag-of-words models — the published feature space is unigrams
   * + bigrams hashed into a fixed bucket count, with the two distributions
   * estimated from the target sample and the full raw corpus.
   *
   * Determinism: buckets are md5-prefix hashes mod `buckets`
   * (engine-portable like every other hash here); both distributions are
   * add-one smoothed; and each BUCKET's log-ratio is fixed-pointed to
   * integer micro-units before the per-doc sum, so the weight is an
   * order-independent LONG — no float summation across grams at all.
   * Resampling on the weights composes with [[stratifiedSample]]-style
   * hash thresholds downstream.
   *
   * Scale shape: one bucket-count aggregation (map-side partial into at
   * most `buckets` rows — the aggregated state is tiny no matter the
   * corpus), a scalar total, the B-row ratio table broadcast back onto
   * the gram stream, and one groupBy(doc) sum. Nothing quadratic; the
   * corpus text is read once.
   */
  def dsirWeights(df: DataFrame, idCol: Column, textCol: Column,
                  isTarget: Column, buckets: Int = 1024): DataFrame = {
    import org.apache.spark.sql.GraftColumnShim.{column => kcol, expression => kexpr}
    // the bucket histogram is CONFIG-BOUNDED (<= `buckets` rows) no matter
    // the corpus size — collect it like packSequences' 256 range totals
    // (aggregate-state metadata, never row data). r21: the gram stream is
    // the native DsirGramBuckets kernel (the same md5-prefix bucket longs,
    // pinned bit-equal in FunctionsSpec) — the histogram explode carries
    // longs instead of built gram strings + hex/conv parses.
    val counts = df.select(isTarget.as("isTarget"),
        explode(kcol(graft.functions.DsirGramBuckets(
          kexpr(textCol), buckets))).as("b"))
      .groupBy("b").agg(
      sum(when(col("isTarget"), 1L).otherwise(0L)).as("ct"),
      count(lit(1)).as("cr")).collect()
    val tt = counts.map(_.getAs[Long]("ct")).sum.toDouble + buckets
    val tr = counts.map(_.getAs[Long]("cr")).sum.toDouble + buckets
    // log ((ct+1)/(tt+B)) - log ((cr+1)/(tr+B)), micro-units per bucket;
    // HALF_UP like SQL round (away from zero on the .5 boundary)
    val lr = Array.fill(buckets)(0L)
    counts.foreach { r =>
      val x = (math.log(r.getAs[Long]("ct") + 1.0) - math.log(tt) -
        math.log(r.getAs[Long]("cr") + 1.0) + math.log(tr)) * 1e6
      lr(r.getAs[Long]("b").toInt) =
        BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    // every gram of THIS corpus maps to a counted bucket, so the dense
    // table never misses. The scoring pass is ONE fused kernel call per
    // document — (nGrams, weightMicro) map-side, no gram explode, no
    // groupBy(doc) Exchange (guide §1.2 step 2, §2.4). Null text scored
    // no grams before (explode of a null stream) — the filter matches.
    df.filter(textCol.isNotNull)
      .select(idCol.as("docId"),
        kcol(graft.functions.DsirScore(kexpr(textCol), buckets, lr))
          .as("__s"))
      .select(col("docId"),
        element_at(col("__s"), 1).as("nGrams"),
        element_at(col("__s"), 2).as("weightMicro"))
  }

  /**
   * DSIR importance RESAMPLING (Xie et al. 2023 arXiv:2302.03169 §3.2) —
   * the published algorithm's output: draw k raw examples WITHOUT
   * replacement with probability proportional to their importance weight,
   * via the Gumbel top-k trick (perturb each log-weight with an
   * independent Gumbel(0,1) variate, keep the k largest perturbed
   * scores). Composes directly with [[dsirWeights]]: its `weightMicro`
   * IS the log-weight in micro-units.
   *
   * Determinism: the Gumbel variate derives from an md5-prefix uniform
   * (the engine-portable recipe every sampler here uses) —
   * u = (h60 + 0.5) / 2^60 with h60 the first 15 hex digits of
   * md5(seed|docId), g = −ln(−ln u) — and the perturbed score is
   * fixed-pointed to integer micro-units (round-half-away, the exact
   * cross-engine float exposure dsirWeights' log-ratio table has carried
   * green), so selection and emitted scores are long-exact. Ties break
   * on docId.
   *
   * Scale shape: the perturbation is a narrow codegen'd projection; the
   * global top-k plans as TakeOrderedAndProject — a size-k heap per
   * partition, then a merge of the per-partition winners. No global
   * sort, no all-rows single-partition exchange; the merge is bounded by
   * k·partitions and k rows ARE the requested output. For a 100 TB
   * corpus keep each selection's k in the 10^6–10^7 range (or run one
   * selection per mixture domain, as the paper does) so the heap stays
   * executor-resident.
   */
  def dsirResample(weights: DataFrame, idCol: Column, weightMicroCol: Column,
                   k: Int, seed: String = "dsir"): DataFrame = {
    val h60 = conv(substring(md5(concat(lit(seed + "|"),
      idCol.cast("string"))), 1, 15), 16, 10).cast("long")
    val u = (h60.cast("double") + 0.5) / 1.152921504606846976e18 // 2^60
    val gumbel = -log(-log(u))
    val scored = weights.select(idCol.as("docId"),
      (weightMicroCol + round(gumbel * 1e6).cast("long")).as("scoreMicro"))
    val top = scored
      .orderBy(col("scoreMicro").desc, col("docId")).limit(k)
    // rank the k survivors; the window is output-sized (k rows), not
    // corpus-sized
    top.withColumn("rank", row_number().over(
      org.apache.spark.sql.expressions.Window
        .orderBy(col("scoreMicro").desc, col("docId"))).cast("long"))
  }
}
