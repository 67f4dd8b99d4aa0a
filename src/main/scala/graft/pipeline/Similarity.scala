package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.pipeline.Staging.StagingOps

/**
 * Similarity search over embedding columns (`Array[Float]`) — north-star
 * extension (BASELINE.json).
 *
 * Determinism policy: embeddings are quantized to fixed-point longs
 * (round(x·10⁶)) once; dot products and norms are then *integer* sums —
 * order-independent, so the result is bit-identical across partitionings,
 * engines, and cluster sizes. The only floating-point step is the final
 * `dot / (√na·√nb)`, a fixed-shape IEEE expression.
 *
 * Scale design: brute-force top-k is the correctness baseline (fine for a
 * broadcastable query set: queries broadcast against the corpus scan, no
 * shuffle of the corpus). The LSH-bucketed path (`lshBucket`) is the 100 TB
 * route: sign-bit bucketing bounds each probe to one bucket's partition.
 */
object Similarity {

  /** Fixed-point quantization: float[] → long[] at 1e6 scale. */
  def quantize(embCol: Column): Column =
    transform(embCol, x => round(x.cast("double") * 1e6).cast("long"))

  /** Integer dot product of two quantized vectors — a native codegen'd
    * expression (graft.functions.DotQ): the O(pairs·dim) scoring loop of
    * every top-k/near-dup query stays inside whole-stage codegen instead
    * of paying two interpreted higher-order functions per pair. Integer
    * addition is associative+commutative, so any order matches. */
  def dotQ(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftColumnShim.column(graft.functions.DotQ(
      org.apache.spark.sql.GraftColumnShim.expression(a),
      org.apache.spark.sql.GraftColumnShim.expression(b)))

  /** Squared L2 norm of a quantized vector (integer, codegen'd). */
  def normSqQ(a: Column): Column =
    org.apache.spark.sql.GraftColumnShim.column(graft.functions.NormSqQ(
      org.apache.spark.sql.GraftColumnShim.expression(a)))

  /** Integer (truncating) division on longs — Catalyst's `div` operator
    * as a Column (r17 review: the former exact-multiple DOUBLE division
    * `(a - pmod(a, d)) / d` is bit-exact only while the numerator stays
    * under 2⁵³; a pure long division has no envelope at all). */
  private def divQ(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftColumnShim.column(
      org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        org.apache.spark.sql.GraftColumnShim.expression(a),
        org.apache.spark.sql.GraftColumnShim.expression(b)))

  /** Cosine from integer dot + norms — fixed double expression shape.
    * Zero-norm contract (r16 review): a zero-quantized vector (all
    * |x| < 5e-7 quantizes to zeros) has no direction, so its similarity
    * to anything is DEFINED as 0 — unguarded, 0/0 = NaN, which Spark AND
    * DuckDB order ABOVE every real value, so a zero vector would rank
    * FIRST in every top-k, pass every >= threshold, and mass-mark
    * near-dups. r17: the contract is enforced BRANCH-FREE — a zero-norm
    * side forces dot = 0 exactly (the zero vector's integer dot with
    * anything is 0), so flooring each norm at 1 yields exactly 0.0 there
    * and leaves every non-degenerate pair bit-identical (greatest(n,1) =
    * n for n ≥ 1; the sqrt·sqrt shape is unchanged, so no 6th-decimal
    * drift vs the oracle). The r16 `when` added a per-pair conditional
    * to every ANN/dedup kernel — the one code suspect in that round's
    * uniform bench drift.
    *
    * QUANTIZE MAGNITUDE ENVELOPE (r18 review): `greatest(n, 1)` assumes
    * norms are NON-NEGATIVE, which holds whenever [[normSqQ]] does not
    * overflow Long. Components quantize at 1e6 ([[quantize]]), so the
    * envelope is Σ(xᵢ·1e6)² < 2⁶³ — e.g. at d = 256 every component must
    * satisfy |xᵢ| < ~190; unit-normalized or bounded-activation
    * embeddings sit orders of magnitude inside it. OUTSIDE the envelope
    * an overflowed (negative) norm would floor to 1 and return a
    * plausible-but-wrong similarity instead of a loud NaN — callers
    * feeding unnormalized wide-range vectors must pre-scale (divide by
    * max-abs) before quantizing. */
  def cosineFromQ(dot: Column, na: Column, nb: Column): Column =
    dot.cast("double") /
      (sqrt(greatest(na, lit(1L)).cast("double")) *
        sqrt(greatest(nb, lit(1L)).cast("double")))

  /**
   * Brute-force cosine top-k: for each query vector, the k nearest corpus
   * vectors (self excluded), ranked by (cosine desc, id asc) with the
   * cosine rounded to 6 digits so rank ties are broken identically
   * everywhere. The query side should be small → Spark broadcasts it and
   * the corpus streams through map-side only (verified: BroadcastNestedLoop
   * is avoided by the join-free crossJoin of a broadcast frame).
   */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = corpus.select(col("vec_id").as("cid"), quantize(col("embedding")).as("cq"))
      .withColumn("cn", normSqQ(col("cq")))
    val q = queries.select(col("vec_id").as("qid"), quantize(col("embedding")).as("qq"))
      .withColumn("qn", normSqQ(col("qq")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("cid") =!= col("qid"))
      .withColumn("cosine", round(cosineFromQ(dotQ(col("cq"), col("qq")),
        col("cn"), col("qn")), 6))
    val ranked = scored.withColumn("rank",
      row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("cosine").desc, col("cid").asc)))
    ranked.filter(col("rank") <= k).select(col("qid"), col("rank"), col("cid"), col("cosine"))
  }

  /**
   * SQ8 scalar-quantized top-k (the FAISS `SQ8` regime, Jégou/Douze —
   * the memory tier between raw floats and PQ): every vector is encoded
   * to one SIGNED BYTE per dimension against a single corpus-wide
   * symmetric scale s = max|x|, code = round(127·x/s). Cosine is
   * scale-free, so the codes' cosine IS the approximation — integer dot
   * and norms over the codes, no reconstruction step (the reason SQ8
   * needs no ADC table, unlike PQ).
   *
   * Engine-exact encoding: the round is computed as the INTEGER
   * half-away formula q = (|v|·254 + s) div (2s) on the 1e6-quantized
   * longs (sign reapplied), never a float round — the floor-div is a
   * pure long `div` ([[divQ]]; r17: the former exact-multiple double
   * division was bit-exact only while 255·s < 2⁵³ and silently diverged
   * past |x| ≈ 3.5e7 — the long division has no envelope), so Spark and
   * any SQL oracle agree bit-exactly. A zero corpus (s = 0) degenerates
   * to all-zero codes, which the [[cosineFromQ]] zero-norm contract
   * scores as 0 — no division by zero (s is floored at 1).
   *
   * Scale: ONE scalar aggregate over the corpus produces s (attached as
   * a broadcast 1-row frame, not driver state); encoding then rides the
   * scan map-side — 4 bytes/dim float32 becomes 1 byte/dim storage in a
   * deployment (here code arrays stay long[] for the shared DotQ
   * scoring path; the regime, not the physical byte layout, is what the
   * oracle pins). Scoring is the same broadcast-queries corpus stream
   * as [[bruteForceTopK]]: no corpus shuffle at any size.
   */
  def sq8TopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cq = corpus.select(col("vec_id").as("cid"),
      quantize(col("embedding")).as("cv"))
    val scale = cq.agg(greatest(max(array_max(transform(col("cv"), abs(_)))),
      lit(1L)).as("s"))
    def sq8(vec: Column): Column = transform(vec, v => {
      val a = abs(v) * 254L + col("s")
      // clamp at 127: corpus codes never exceed it (s = corpus max|x|),
      // but a QUERY from outside the corpus may — saturation is the
      // standard SQ treatment of out-of-scale components
      val q = least(divQ(a, col("s") * 2L), lit(127L))
      when(v < 0, -q).otherwise(q)
    })
    val c = cq.crossJoin(broadcast(scale))
      .select(col("cid"), sq8(col("cv")).as("cq"))
      .withColumn("cn", normSqQ(col("cq")))
    val q = queries.select(col("vec_id").as("qid"),
        quantize(col("embedding")).as("qv"))
      .crossJoin(broadcast(scale))
      .select(col("qid"), sq8(col("qv")).as("qq"))
      .withColumn("qn", normSqQ(col("qq")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("cid") =!= col("qid"))
      .withColumn("cosine", round(cosineFromQ(dotQ(col("cq"), col("qq")),
        col("cn"), col("qn")), 6))
    scored.withColumn("rank",
        row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("cosine").desc, col("cid").asc)))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("cid"), col("cosine"))
  }

  /**
   * LSH bucket key: sign bits of `nBits` fixed hyperplanes. With no RNG
   * available cross-engine, hyperplanes are the coordinate axes of the
   * first `nBits` dimensions — a valid (if crude) random-projection family
   * for zero-centered embeddings. Probe cost: one bucket instead of the
   * full corpus; recall is traded via `nBits`.
   */
  def lshBucket(qvec: Column, nBits: Int): Column =
    (0 until nBits).map(i =>
      when(element_at(qvec, i + 1) > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)

  /** Engine-portable Rademacher sign for plane `p`, dimension `d` under
    * `seed`: parity of md5("seed|p|d")'s first byte (= second hex digit),
    * +1 on even. Any engine with md5 reproduces the plane matrix exactly,
    * so an external SQL oracle can recompute seeded-LSH buckets — and the
    * draw is i.i.d. uniform ±1 per (p,d), the same family a seeded PRNG
    * gives. Driver-side only: nPlanes·dim hashes at plan build. */
  private def planeSign(seed: Long, p: Int, d: Int): Long = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$seed|$p|$d".getBytes("UTF-8"))
    if ((h(0) & 1) == 0) 1L else -1L
  }

  /**
   * Seeded random-hyperplane bucket (the production variant of
   * `lshBucket`): `nPlanes` Rademacher (±1) hyperplanes drawn
   * deterministically from (seed, plane, dim) via md5 — engine-portable
   * (see [[planeSign]]), embedded as literals so the per-row work stays
   * integer codegen. Random hyperplanes spread variance across all
   * dimensions, fixing the coordinate-axis family's recall/skew problem
   * when embedding dims are not zero-centered or carry unequal variance.
   */
  def lshBucketSeeded(qvec: Column, nPlanes: Int, dim: Int, seed: Long): Column = {
    val planes = Array.tabulate(nPlanes, dim)((p, d) => planeSign(seed, p, d))
    (0 until nPlanes).map { p =>
      // Plane dot via the codegen'd DotQ kernel — O(corpus·nPlanes·dim)
      // map-side work that an aggregate(zip_with(...)) formulation would
      // run through interpreted HOFs (bit-identical: integer math).
      val w = array(planes(p).map(lit(_)): _*)
      val dot = dotQ(qvec, w)
      when(dot > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Multi-probe set for a bucket: the bucket itself plus every 1-bit
    * flip — probing Hamming-1 neighbors recovers candidates that fell
    * just across a hyperplane, the standard multi-probe recall boost at
    * the cost of (nPlanes+1)× probes on the (small) query side only. */
  def multiProbe(bucket: Column, nPlanes: Int): Column =
    array((bucket +: (0 until nPlanes).map(i =>
      bucket.bitwiseXOR(lit(1L << i)))): _*)

  /** Data-path twin of [[lshBucketSeeded]] for production dims: the
    * plane matrix rides a broadcast one-row frame (`planes` column, one
    * array per plane) instead of nPlanes·dim plan literals — the
    * [[MaxLiteralCodebook]] rationale: Janino's local-variable
    * bookkeeping blows up at compile time on large literal counts. */
  private def seededPlanesDf(spark: SparkSession, nPlanes: Int, dim: Int,
                             seed: Long): DataFrame = {
    import spark.implicits._
    Seq(Tuple1((0 until nPlanes).map(p =>
      (0 until dim).map(d => planeSign(seed, p, d)).toSeq).toSeq))
      .toDF("planes")
  }

  private def lshBucketSeededData(qvec: Column, nPlanes: Int): Column =
    (0 until nPlanes).map { p =>
      when(dotQ(qvec, element_at(col("planes"), p + 1)) > 0, lit(1L << p))
        .otherwise(lit(0L))
    }.reduce(_ + _)

  /**
   * Seeded + multi-probe ANN: corpus buckets once; each query explodes to
   * its Hamming-1 probe set and joins the (broadcast) query side against
   * corpus buckets. Shuffle stays on the bucket key; the probe fan-out
   * multiplies only the query side. Planes embed as literals below the
   * [[MaxLiteralCodebook]] plan budget and ride a broadcast one-row frame
   * past it; `dim` is validated against the data (r16 review: DotQ
   * returns null on a length mismatch, which would silently send every
   * row to bucket 0 and degenerate the bucketed path to a full join).
   */
  def lshTopKSeeded(corpus: DataFrame, queries: DataFrame, k: Int,
                    nPlanes: Int, dim: Int, seed: Long,
                    literalPlanesBudget: Long = MaxLiteralCodebook): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // validate dim against EVERY row of BOTH sides (r17 review: the r16
    // first-non-null probe missed a mixed-dimension frame whose FIRST row
    // happened to match — any later wrong-dim row still bucketed to 0
    // silently). The check rides the quantize projection as a per-row
    // O(1) size() branch that raise_error's on mismatch — no extra jobs
    // at all (the r16 probes cost two driver jobs per call, measurable
    // in a per-microbatch loop), and a NULL embedding passes through
    // (no dim evidence; DotQ propagates the null downstream).
    def checkedDim(side: String)(vec: Column): Column =
      when(vec.isNull || size(vec) === dim, vec)
        .otherwise(raise_error(concat(
          lit(s"lshTopKSeeded dim=$dim but a $side embedding carries "),
          size(vec).cast("string"), lit(" dims"))))
    val literalPlanes = nPlanes.toLong * dim <= literalPlanesBudget
    val planesDf =
      if (literalPlanes) null
      else seededPlanesDf(corpus.sparkSession, nPlanes, dim, seed)
    def bucketed(vec: Column): Column =
      if (literalPlanes) lshBucketSeeded(vec, nPlanes, dim, seed)
      else lshBucketSeededData(vec, nPlanes)
    def withPlanes(df: DataFrame): DataFrame =
      if (literalPlanes) df else df.crossJoin(broadcast(planesDf))
    val c = withPlanes(corpus.select(col("vec_id").as("cid"),
        quantize(checkedDim("corpus")(col("embedding"))).as("cq"))
      .withColumn("cn", normSqQ(col("cq"))))
      .withColumn("bucket", bucketed(col("cq")))
      .drop("planes")
    val q = withPlanes(queries.select(col("vec_id").as("qid"),
        quantize(checkedDim("queries")(col("embedding"))).as("qq"))
      .withColumn("qn", normSqQ(col("qq"))))
      .withColumn("bucket",
        explode(multiProbe(bucketed(col("qq")), nPlanes)))
      .drop("planes")
    val scored = c.join(broadcast(q), "bucket")
      .filter(col("cid") =!= col("qid"))
      .withColumn("cosine", round(cosineFromQ(dotQ(col("cq"), col("qq")),
        col("cn"), col("qn")), 6))
    scored.groupBy(col("qid"), col("cid"))      // a pair may match >1 probe
      .agg(first(col("cosine")).as("cosine"))
      .withColumn("rank",
        row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("cosine").desc, col("cid").asc)))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("cid"), col("cosine"))
  }

  /**
   * Embedding-cosine near-dup pairs: bucket-keyed self-join (never a
   * cross join) with fixed-point integer cosine, thresholded at
   * `minCosine`. Buckets larger than `maxBucketSize` are salted into
   * sub-buckets first (hash(vec_id)-based), bounding the quadratic
   * in-bucket pair expansion on degenerate corpora (mass-duplicated or
   * zero embeddings) — only intra-sub-bucket pairs emit for such
   * buckets, the standard recall trade; buckets within the cap are
   * unaffected.
   */
  def nearDupPairs(emb: DataFrame, nBits: Int, minCosine: Double,
                   maxBucketSize: Int = 10000): DataFrame = {
    val v = emb.select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .withColumn("n", normSqQ(col("qv")))
      .withColumn("bucket", lshBucket(col("qv"), nBits))
    // Oversized-bucket detection via a tiny partial-aggregated count +
    // broadcast join back (see Dedup.minHashLshPairs): no bucket-partitioned
    // window, so the self-join below shuffles directly on (bucket, salt)
    // with no sort stage.
    val oversized = v.groupBy(col("bucket"))
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > maxBucketSize)
      .withColumn("nsalts", ceil(col("bsz") / maxBucketSize).cast("int"))
      .select(col("bucket"), col("nsalts"))
    // Salt assignment is the md5-prefix long (r16 review: the previous
    // Spark-internal murmur3 hash() broke the header's engine-portability
    // contract for over-cap buckets — Dedup.minHashLshPairs documents the
    // same choice for the same reason); it evaluates only inside the
    // over-cap branch, a tiny set by construction.
    val saltHash = conv(substring(md5(col("vec_id").cast("string")), 1, 15),
      16, 10).cast("long")
    val salted = v.join(broadcast(oversized), Seq("bucket"), "left")
      .withColumn("salt",
        when(col("nsalts").isNotNull, pmod(saltHash, col("nsalts")))
          .otherwise(lit(0L)))
      .drop("nsalts")
    val pairs = salted.as("a").join(salted.as("b"),
      col("a.bucket") === col("b.bucket") && col("a.salt") === col("b.salt") &&
        col("a.vec_id") < col("b.vec_id"))
    pairs.select(
      col("a.vec_id").as("idA"), col("b.vec_id").as("idB"),
      round(cosineFromQ(dotQ(col("a.qv"), col("b.qv")),
        col("a.n"), col("b.n")), 6).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** Bucketed ANN: join query and corpus on bucket key, then rank within
    * bucket — the shuffle is on the bucket key only. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, nBits: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = corpus.select(col("vec_id").as("cid"), quantize(col("embedding")).as("cq"))
      .withColumn("cn", normSqQ(col("cq"))).withColumn("bucket", lshBucket(col("cq"), nBits))
    val q = queries.select(col("vec_id").as("qid"), quantize(col("embedding")).as("qq"))
      .withColumn("qn", normSqQ(col("qq"))).withColumn("bucket", lshBucket(col("qq"), nBits))
    val scored = c.join(broadcast(q), "bucket")
      .filter(col("cid") =!= col("qid"))
      .withColumn("cosine", round(cosineFromQ(dotQ(col("cq"), col("qq")),
        col("cn"), col("qn")), 6))
    scored.withColumn("rank",
        row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("cosine").desc, col("cid").asc)))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("cid"), col("cosine"))
  }

  /**
   * IVF (inverted-file) ANN — the second standard scale path next to LSH:
   * partition the corpus into `nCentroids` Voronoi cells, search only the
   * `nProbe` cells nearest each query.
   *
   * Centroids are a deterministic sample: the `nCentroids` corpus vectors
   * with the smallest md5(vec_id) — a uniform, engine-portable draw that
   * needs no RNG and no training iterations (sampled seeds are how IVF
   * indexes are commonly bootstrapped; Lloyd refinement can be layered on
   * but changes recall, not the plan shape). The centroid table is tiny
   * and broadcast to both assignment joins, so the only shuffle of corpus
   * data is the final cell-keyed join — cost O(corpus·nCentroids) integer
   * dot products map-side, then O(candidates in probed cells) scoring.
   *
   * Assignment ranks by (cosine desc, centroid id asc) with the cosine
   * rounded to 6 digits — the same deterministic tie-break as the top-k
   * rankers, so cell membership is partition-order-independent.
   */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nCentroids: Int, nProbe: Int): DataFrame = {
    val c = corpus.select(col("vec_id").as("cid"), quantize(col("embedding")).as("cq"))
      .withColumn("cn", normSqQ(col("cq")))
    probeWithCentroids(c, queries, k, nProbe,
      sampleCentroids(c).limit(nCentroids))
  }

  /** Deterministic centroid sample via orderBy+limit — Spark plans this as
    * TakeOrderedAndProject (per-partition top-K, driver merge), NOT a
    * global sort, so it scales. The md5 hex itself is the cell key. */
  private def sampleCentroids(c: DataFrame): DataFrame =
    c.orderBy(md5(col("cid").cast("string")), col("cid"))
      .select(md5(col("cid").cast("string")).as("cent"),
        col("cq").as("centq"), col("cn").as("centn"))

  /**
   * IVF with Lloyd-refined centroids — the standard k-means training
   * step, made DETERMINISTIC and partition-independent: each round
   * assigns every corpus vector to its nearest centroid, then the new
   * centroid is the per-dimension integer mean (exact long sums, integer
   * division — no floating accumulation order anywhere). Cells that lose
   * all members keep their previous centroid. Exhaustive probing must
   * still reproduce the brute-force ranking exactly (the oracle);
   * training only moves WHERE the recall/cost knob (nProbe) bites.
   * Shape per round: one map-side assignment pass + a (cell, dim)-keyed
   * hash-agg — the canonical distributed k-means iteration.
   */
  def ivfTopKTrained(corpus: DataFrame, queries: DataFrame, k: Int,
                     nCentroids: Int, nProbe: Int,
                     lloydIters: Int = 2): DataFrame = {
    val c = corpus.select(col("vec_id").as("cid"), quantize(col("embedding")).as("cq"))
      .withColumn("cn", normSqQ(col("cq")))
    probeWithCentroids(c, queries, k, nProbe,
      trainCentroids(c, nCentroids, lloydIters))
  }

  /** The Lloyd loop of [[ivfTopKTrained]], shared with [[semDedup]]:
    * md5-ordered seed sample, then per-round nearest-centroid assignment
    * + per-dimension integer mean (exact long sums, truncating division —
    * no floating accumulation order anywhere; partition-independent). */
  private[pipeline] def trainCentroids(c: DataFrame, nCentroids: Int,
                                       lloydIters: Int): DataFrame =
    refineCentroids(c, sampleCentroids(c).limit(nCentroids), lloydIters)

  /** The Lloyd refinement loop alone, over ANY initial (cent, centq,
    * centn) frame — md5-sample init ([[trainCentroids]]) and k-means||
    * init ([[ivfTopKScalable]]) share it.
    *
    * r21 (verdict #3; guide §5 driver round-trips): centroids live as
    * DRIVER metadata across rounds — the [[pqLloydAll]] device. Each
    * round is ONE corpus-scale job: assignment + the (cent, pos)-keyed
    * partial-agg sums collected (≤ nCentroids·dim rows — bounded k-means
    * state, the same class pqLloydAll already collects), means computed
    * on the driver with the identical truncating division, and the next
    * round's flat table rebuilt locally. The former per-round subtree —
    * a second groupBy(cent) with collect_list+sort, a left join back
    * onto the cents frame, and an eager localCheckpoint barrier — is
    * gone (measured on the iters=4 production row: coarse loop
    * 3.27 → 2.0 s warm; plan/job evidence in plans/r21). Values are
    * UNCHANGED: the sums are order-independent long sums, `s DIV cnt` =
    * Java `/` for every sign (both truncate toward zero), empty cells
    * keep their previous centroid, and the driver table stays sorted by
    * cent so the flat layout's smallest-index tie-break is byte-equal to
    * centsFlatRow's sort_array contract. */
  private[graft] def refineCentroids(c: DataFrame, init: DataFrame,
                                     lloydIters: Int): DataFrame = {
    if (lloydIters <= 0) return init
    val spark = c.sparkSession
    import spark.implicits._
    var cents: Array[(String, Array[Long])] = init
      .select(col("cent"), col("centq")).collect()
      .map(r => (r.getString(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1)(centIdOrder)
    for (_ <- 0 until lloydIters) {
      val flat = Seq((cents.map(_._1).toSeq,
          cents.flatMap(_._2).toSeq,
          cents.map(x => normSqLocal(x._2)).toSeq))
        .toDF("cids", "cqflat", "cns")
      val sums = c.crossJoin(broadcast(flat))
        .withColumn("cent", element_at(col("cids"),
          argMaxCos6Q(col("cq"), col("cqflat"), col("cns")) + 1))
        .select(col("cent"), posexplode(col("cq")).as(Seq("pos", "v")))
        .groupBy(col("cent"), col("pos"))
        .agg(sum(col("v")).as("s"), count(lit(1)).as("cnt"))
        .collect()
      val byCent = sums.groupBy(_.getAs[String]("cent"))
      cents = cents.map { case (cent, q) =>
        byCent.get(cent).fold((cent, q)) { rows =>
          val arr = q.clone()
          rows.foreach { r =>
            arr(r.getAs[Int]("pos")) =
              r.getAs[Long]("s") / r.getAs[Long]("cnt")
          }
          (cent, arr)
        }
      }
    }
    cents.toSeq.map { case (cent, q) => (cent, q.toSeq, normSqLocal(q)) }
      .toDF("cent", "centq", "centn")
  }

  /** Centroid ids in [[centsFlatRow]]'s `sort_array` order: unsigned UTF-8
    * bytes, not String's UTF-16 order (they differ past U+E000). */
  private[graft] val centIdOrder: Ordering[String] =
    Ordering.by(UTF8String.fromString)

  /** |v|² over longs — the driver-side twin of [[normSqQ]]. */
  private def normSqLocal(q: Array[Long]): Long = {
    var s = 0L
    var i = 0
    while (i < q.length) { s += q(i) * q(i); i += 1 }
    s
  }

  /**
   * IVF with the full scalable training stack — [[kmeansParallelInit]]
   * seeding (Bahmani 2012) feeding [[refineCentroids]]' Lloyd rounds,
   * then the standard probe: the composition a 1000-executor deployment
   * actually runs, since the md5-sample init [[ivfTopKTrained]] uses is
   * cheap but seed-quality-blind while kmeans++ is sequential. With
   * `nProbe = nCentroids` (exhaustive) the ranking equals brute force
   * exactly — the same oracle device ivfTopKTrained uses: training and
   * seeding only move WHERE the recall/cost knob bites.
   */
  def ivfTopKScalable(corpus: DataFrame, queries: DataFrame, k: Int,
                      nCentroids: Int, nProbe: Int, lloydIters: Int = 2,
                      l: Int = 8, rounds: Int = 2): DataFrame = {
    val c = corpus.select(col("vec_id").as("cid"), quantize(col("embedding")).as("cq"))
      .withColumn("cn", normSqQ(col("cq")))
    val seeds = kmeansParallelInit(c, nCentroids, l, rounds)
      .select(md5(col("cid").cast("string")).as("cent"),
        col("centq"), col("centn"))
    probeWithCentroids(c, queries, k, nProbe,
      refineCentroids(c, seeds, lloydIters))
  }

  /**
   * k-means|| initialization (Bahmani et al. 2012, "Scalable k-means++",
   * PVLDB 5(7), arXiv:1203.6402): kmeans++'s D²-weighted seeding needs k
   * SEQUENTIAL corpus passes (each new seed depends on all previous), so
   * it cannot run at cluster scale; k-means|| reaches the same seeding
   * quality in O(rounds) passes by OVERSAMPLING — each round samples
   * every point independently with probability min(1, ℓ·d²(x,C)/φ(C))
   * and adds the draws to the candidate set, then the ≈ ℓ·rounds
   * candidates are reduced to k by their attraction weights.
   *
   * Determinized for the oracle: cosine distance is carried as integer
   * MICRO-cosines (the Lloyd substrate's 6-decimal rounding scaled to
   * 1e6 — max over candidates and φ are exact integer operations, no
   * order-dependent float summation anywhere); the per-point coin is
   * the md5-prefix uniform every sampler here uses (u = (h60+0.5)/2^60,
   * the dsirResample device), and the final reduction keeps the k
   * candidates with the LARGEST weights (ties by id) — rank-based where
   * the paper re-runs kmeans++ over the weighted candidates (documented
   * deviation: the weights are the paper's, only the bounded-metadata
   * reduction step differs; feed the result to [[trainCentroids]]-style
   * Lloyd rounds exactly as the paper does).
   *
   * Scale shape: per round one corpus pass for φ (map-side agg to ONE
   * scalar) and one for the sample (narrow filter against the broadcast
   * candidate array); the weight pass is one more assignment scan. The
   * candidate frame stays expected-ℓ-per-round rows (localCheckpoint'd
   * per round — bounded metadata, never corpus data). φ = 0 (every
   * point coincides with a candidate) samples nothing, correctly.
   *
   * Input `c`: (cid, cq, cn) — the quantized substrate frame. Returns
   * (rank, cid, weight, centq, centn) for the top-k candidates.
   */
  def kmeansParallelInit(c: DataFrame, k: Int, l: Int = 8,
                         rounds: Int = 2,
                         seed: String = "kmpp"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r16 review: each round's sampling probabilities sum to ~l, so the
    // expected candidate pool is ~1 + l·rounds INDEPENDENT of k — asking
    // for more centroids than that silently under-seeds the index
    // (Bahmani 2012 uses l = Θ(k), typically 2k). Zero-norm points are a
    // documented degenerate input: they carry no direction, score
    // cosine 0 to every candidate (the cosineFromQ guard), and so keep
    // d2 = 1e12 even after being chosen — exclude them corpus-side if
    // the input can contain empty embeddings.
    require(1L + l.toLong * rounds >= k,
      s"k-means|| expects ~1 + l*rounds >= k candidates; " +
        s"l=$l rounds=$rounds cannot seed k=$k (use l = Theta(k))")
    def cosMicro(q: Column, n2: Column, cq: Column, cn2: Column): Column =
      round(round(cosineFromQ(dotQ(q, cq), n2, cn2), 6) * 1e6).cast("long")
    var cands = c.orderBy(md5(col("cid").cast("string")), col("cid")).limit(1)
      .staged
    for (r <- 1 to rounds) {
      val candArr = cands
        .agg(collect_list(struct(col("cq").as("kq"), col("cn").as("kn")))
          .as("ks"))
      val withD = c.crossJoin(broadcast(candArr))
        .withColumn("mc", array_max(transform(col("ks"), x =>
          cosMicro(col("cq"), col("cn"), x.getField("kq"), x.getField("kn")))))
        .withColumn("d2",
          (lit(1000000L) - col("mc")) * (lit(1000000L) - col("mc")))
        .drop("ks")
      val phi = withD.agg(sum(col("d2").cast("decimal(38,0)")).as("phi"))
      val u = (conv(substring(md5(concat(lit(s"$seed|$r|"),
        col("cid").cast("string"))), 1, 15), 16, 10).cast("long")
        .cast("double") + 0.5) / 1.152921504606846976e18 // 2^60
      val sampled = withD.crossJoin(broadcast(phi))
        .filter(col("phi").isNotNull && col("phi") > 0 &&
          u < lit(l) * col("d2").cast("double") / col("phi").cast("double"))
        .select(col("cid"), col("cq"), col("cn"))
      cands = cands.unionByName(sampled).staged
    }
    val finalArr = cands
      .agg(collect_list(struct(col("cid").as("kid"), col("cq").as("kq"),
        col("cn").as("kn"))).as("ks"))
    val weights = c.crossJoin(broadcast(finalArr))
      .withColumn("best", array_min(transform(col("ks"), x =>
        struct((-cosMicro(col("cq"), col("cn"), x.getField("kq"),
          x.getField("kn"))).as("negCm"),
          x.getField("kid").as("kid")))).getField("kid"))
      .groupBy(col("best")).agg(count(lit(1)).as("weight"))
    cands.join(weights, cands("cid") === weights("best"), "left")
      .select(col("cid"), col("cq").as("centq"), col("cn").as("centn"),
        coalesce(col("weight"), lit(0L)).as("weight"))
      .orderBy(col("weight").desc, col("cid")).limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("weight").desc, col("cid"))).cast("long"))
  }

  /**
   * SemDeDup — semantic deduplication over the embedding space (Abbas et
   * al. 2023, "SemDeDup: Data-efficient learning at web-scale through
   * semantic deduplication", arXiv:2303.09540): k-means cluster the
   * corpus (the [[trainCentroids]] substrate), then WITHIN each cluster
   * mark every example that has a semantic duplicate — cosine ≥
   * `threshold` — with a smaller id; the smallest id of each duplicate
   * neighborhood survives as its representative. Returns every vector
   * with its cluster label and a `kept` flag.
   *
   * Scale shape: the paper's own device confines the quadratic to
   * clusters — the pair enumeration is a self-join keyed on the cluster
   * id, never an all-pairs product over the corpus. Abbas 2023 §2
   * confines the quadratic to clusters; r17 additionally confines the
   * CLUSTER: a cluster larger than `saltBlockSize` members is split into
   * nblk = ceil(size / saltBlockSize) md5-hashed blocks and the pair
   * enumeration runs per UNORDERED BLOCK PAIR — the join key becomes
   * (cent, bi, bj) with bi ≤ bj, each member replicated nblk+1 times
   * (left side covers (blk, j ≥ blk), right side (i ≤ blk, blk)), so
   * EVERY within-cluster pair is still compared exactly once-or-twice
   * (same-block pairs once via the idA < idB half, cross-block pairs
   * once in the lower-block-left orientation) and the degenerate
   * cluster's quadratic spreads across nblk·(nblk+1)/2 tasks instead of
   * funneling one. EXACT semantics — set-identical output to a plain
   * cluster-keyed join at any saltBlockSize (the dedupSubstrings
   * hot-key device applied to `cent`; the default engages by itself, so
   * the naive caller never hits the one-task quadratic the r16 bench
   * measured at 42 s vs 3.9 s capped). `maxClusterSize` > 0 instead
   * bounds the WORK (not just the skew): only the cluster's md5-first
   * `maxClusterSize` members serve as comparison pivots (documented
   * recall trade; 0 = exact within clusters). The scoring kernel is the
   * codegen'd integer DotQ.
   *
   * EXACT-MODE WORK ENVELOPE (r18): the salt caps nblk at 64 (bounding
   * replication at ≤ 65 copies/row and tasks at ≤ 2,145 per cluster), so
   * past [[semDedupExactEnvelope]] = 64·saltBlockSize members a cluster's
   * PER-TASK pair count grows quadratically again — exact SemDeDup's
   * irreducible within-cluster cost. Clusters past the envelope warn
   * loudly with the saltBlockSize that would restore bounded tasks;
   * `maxClusterSize` is the real (recall-trading) bound there. Output
   * stays set-identical at ANY cluster size — the envelope is about WORK,
   * never semantics (PipelineSpec pins exactness just past the boundary).
   */
  /** Exact-mode work envelope of [[semDedup]]'s block salt: the largest
    * cluster whose pair enumeration still spreads over distinct-block
    * tasks at the ≤ 64-block cap. Past this, per-task pairs ~(csz/64)². */
  def semDedupExactEnvelope(saltBlockSize: Int): Long = 64L * saltBlockSize

  def semDedup(corpus: DataFrame, threshold: Double, nCentroids: Int,
               lloydIters: Int = 2, maxClusterSize: Int = 0,
               saltBlockSize: Int = 256): DataFrame = {
    require(saltBlockSize > 0, "semDedup needs a positive saltBlockSize")
    val c = corpus.select(col("vec_id").as("cid"), quantize(col("embedding")).as("cq"))
      .withColumn("cn", normSqQ(col("cq")))
    val centroids = centsFlatRow(trainCentroids(c, nCentroids, lloydIters))
    // staged once (Staging.stage): the assignment pass feeds the size
    // agg, both join sides, and the final report — without the barrier
    // each consumer re-runs the scan + k-cosine assignment kernel
    val assigned = Staging.stage(c.crossJoin(broadcast(centroids))
      .withColumn("cent", element_at(col("cids"),
        argMaxCos6Q(col("cq"), col("cqflat"), col("cns")) + 1))
      .drop("cids", "cqflat", "cns"), eager = false)
    val removed =
      if (maxClusterSize > 0) {
        // capped pivots: |pivots|·|cluster| ≤ maxClusterSize·|cluster|
        // bounds the join mass itself — the recall-trade escape hatch
        import org.apache.spark.sql.expressions.Window
        val pivots = assigned.select(col("cent"), col("cid").as("idA"),
            col("cq").as("qA"), col("cn").as("nA"))
          .withColumn("r", row_number().over(Window.partitionBy(col("cent"))
            .orderBy(md5(col("idA").cast("string")), col("idA"))))
          .filter(col("r") <= maxClusterSize).drop("r")
        pivots
          .join(assigned.select(col("cent"), col("cid").as("idB"),
            col("cq").as("qB"), col("cn").as("nB")), "cent")
          .filter(col("idA") < col("idB"))
          .filter(round(cosineFromQ(dotQ(col("qA"), col("qB")),
            col("nA"), col("nB")), 6) >= threshold)
          .select(col("idB").as("cid")).distinct()
          .withColumn("removed", lit(true))
      } else {
        // exact path, block-salted: oversized-cluster detection is a tiny
        // partial-aggregated count broadcast back (the nearDupPairs
        // device); nblk caps at 64 (≤ 65 replicas/row, ≤ 2,145 tasks per
        // degenerate cluster). The block hash is the engine-portable
        // md5-prefix long, so an external oracle replays the blocking.
        // r18: the ≤ nCentroids-row count frame is collected (driver
        // metadata by construction) so clusters past the exact-mode work
        // envelope ([[semDedupExactEnvelope]]) warn loudly instead of
        // silently re-growing quadratic per-task pair counts.
        val oversizedRows = assigned.groupBy(col("cent"))
          .agg(count(lit(1)).as("csz"))
          .filter(col("csz") > saltBlockSize)
          .withColumn("nblk",
            least(ceil(col("csz") / saltBlockSize), lit(64L)).cast("int"))
          .select(col("cent"), col("nblk"), col("csz"))
          .collect()
        val envelope = semDedupExactEnvelope(saltBlockSize)
        oversizedRows.filter(_.getLong(2) > envelope).foreach { r =>
          System.err.println(s"[graft] semDedup exact mode: cluster " +
            s"${r.get(0)} has ${r.getLong(2)} members, past the work " +
            s"envelope 64*saltBlockSize=$envelope — the 64-block cap is " +
            s"saturated and per-task pair count grows ~(csz/64)²; set " +
            s"maxClusterSize (recall trade) or raise saltBlockSize to " +
            s">= ${(r.getLong(2) + 63) / 64} to restore bounded tasks")
        }
        val spark = corpus.sparkSession
        import spark.implicits._
        val oversized = oversizedRows.toSeq
          .map(r => (r.getString(0), r.getInt(1))).toDF("cent", "nblk")
        val saltHash = conv(substring(md5(col("cid").cast("string")), 1, 15),
          16, 10).cast("long")
        val blocked = assigned.join(broadcast(oversized), Seq("cent"), "left")
          .withColumn("nblk", coalesce(col("nblk"), lit(1)))
          .withColumn("blk", pmod(saltHash, col("nblk").cast("long")).cast("int"))
        val left = blocked
          .withColumn("bj", explode(sequence(col("blk"), col("nblk") - 1)))
          .select(col("cent"), col("blk").as("bi"), col("bj"),
            col("cid").as("idA"), col("cq").as("qA"), col("cn").as("nA"))
        val right = blocked
          .withColumn("bi", explode(sequence(lit(0), col("blk"))))
          .select(col("cent"), col("bi"), col("blk").as("bj"),
            col("cid").as("idB"), col("cq").as("qB"), col("cn").as("nB"))
        left.join(right, Seq("cent", "bi", "bj"))
          // same-block tasks halve via idA < idB; a cross-block pair
          // colocates only with its lower-block member on the left
          // (bi < bj), in whichever id order — greatest() removes the
          // larger id either way, the exact SemDeDup keep rule
          .filter(col("bi") < col("bj") || col("idA") < col("idB"))
          .filter(round(cosineFromQ(dotQ(col("qA"), col("qB")),
            col("nA"), col("nB")), 6) >= threshold)
          .select(greatest(col("idA"), col("idB")).as("cid")).distinct()
          .withColumn("removed", lit(true))
      }
    assigned.join(removed, Seq("cid"), "left")
      .select(col("cid").as("vec_id"), col("cent").as("cluster"),
        col("removed").isNull.as("kept"))
  }

  /**
   * Cluster-balanced coverage subsample — the "balanced sampling across
   * clusters" selection baseline (the device behind DataComp-style
   * cluster-based filtering and MiniPile's cluster-capped curation):
   * k-means cluster the embedding space, then keep at most `perCluster`
   * members of every cluster, chosen by the engine-portable uniform
   * order (md5(vec_id), vec_id) — a coverage-preserving cap that equalizes
   * cluster mass instead of letting head clusters dominate the sample.
   * Returns every vector with its cluster, its within-cluster sample rank
   * and the kept flag (the report shape of [[semDedup]]).
   *
   * Scale shape: shared [[trainCentroids]] substrate (1+iters bounded
   * jobs), ONE broadcast of k centroids, map-side assignment, then a
   * single rank window keyed on the cluster id — the same single-shuffle
   * shape as the capped-[[semDedup]] pivot rank, bounded by the largest
   * cluster (a degenerate corpus concentrates one cluster; the two-phase
   * per-partition partial top-k is the documented escape hatch, the salt
   * device of Dedup.dedupSubstrings applied to the md5 order).
   */
  def clusterSample(corpus: DataFrame, perCluster: Int, nCentroids: Int,
                    lloydIters: Int = 2): DataFrame = {
    require(perCluster > 0, "clusterSample needs a positive per-cluster cap")
    import org.apache.spark.sql.expressions.Window
    val c = corpus.select(col("vec_id").as("cid"), quantize(col("embedding")).as("cq"))
      .withColumn("cn", normSqQ(col("cq")))
    val centroids = centsFlatRow(trainCentroids(c, nCentroids, lloydIters))
    c.crossJoin(broadcast(centroids))
      .withColumn("cent", element_at(col("cids"),
        argMaxCos6Q(col("cq"), col("cqflat"), col("cns")) + 1))
      .withColumn("sampleRank",
        row_number().over(Window.partitionBy(col("cent"))
          .orderBy(md5(col("cid").cast("string")), col("cid"))).cast("long"))
      .select(col("cid").as("vec_id"), col("cent").as("cluster"),
        col("sampleRank"), (col("sampleRank") <= perCluster).as("kept"))
  }

  /**
   * SSL-prototype pruning — the second half of D4 (Tirumala et al. 2023,
   * "D4: Improving LLM Pretraining via Document De-Duplication and
   * Diversification", arXiv:2308.12284, building on Sorscher et al.
   * 2022's SSL prototypes): k-means cluster the corpus, score each
   * example by its cosine to its OWN cluster centroid (its
   * "prototypicality"), and DROP the most prototypical fraction of each
   * cluster — the points nearest the centroid carry the least marginal
   * information, so pruning them diversifies the corpus. Composes with
   * [[semDedup]] into the full D4 recipe (SemDeDup first, prototypes on
   * the survivors).
   *
   * Deterministic like the rest of the family: shared [[trainCentroids]]
   * substrate, cosines rounded to 6 digits, (cos desc, id asc) ranking —
   * the keep rule is rank > floor(dropFraction · clusterSize), so ties
   * resolve identically everywhere. Returns every vector with its
   * cluster, prototypicality score, and `kept` flag.
   *
   * Scale shape: one broadcast centroid assignment (map-side), one
   * rank-within-cluster window partitioned by the cluster id — no
   * self-join at all (unlike the dedup half, nothing compares pairs);
   * the window's per-partition state is a sort of that cluster's
   * members, AQE-skew territory only if one cluster swallows the corpus,
   * which the k-means objective itself resists.
   */
  def prototypePrune(corpus: DataFrame, dropFraction: Double,
                     nCentroids: Int, lloydIters: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = corpus.select(col("vec_id").as("cid"), quantize(col("embedding")).as("cq"))
      .withColumn("cn", normSqQ(col("cq")))
    val centroids = centsFlatRow(trainCentroids(c, nCentroids, lloydIters))
    // the kernel returns the winning index; the prototypicality score is
    // ONE extra dot against that centroid's slice — k-1 fewer rounded
    // cosines per row than the struct-min carried
    val d = size(col("cq"))
    val assigned = c.crossJoin(broadcast(centroids))
      .withColumn("ci", argMaxCos6Q(col("cq"), col("cqflat"), col("cns")))
      .select(col("cid"),
        element_at(col("cids"), col("ci") + 1).as("cluster"),
        round(cosineFromQ(
          dotQ(col("cq"), slice(col("cqflat"), col("ci") * d + lit(1), d)),
          col("cn"), element_at(col("cns"), col("ci") + 1)), 6).as("proto"))
    val byCluster = Window.partitionBy(col("cluster"))
    val ranked = assigned
      .withColumn("rnk", row_number().over(
        byCluster.orderBy(col("proto").desc, col("cid"))))
      .withColumn("sz", count(lit(1)).over(byCluster))
    ranked.select(col("cid").as("vec_id"), col("cluster"), col("proto"),
      (col("rnk") > floor(lit(dropFraction) * col("sz"))).as("kept"))
  }

  /**
   * The full D4 recipe (Tirumala et al. 2023, arXiv:2308.12284 §2 — the
   * paper's contribution IS this composition): [[semDedup]] at
   * `threshold` first, then RE-cluster the survivors and drop the most
   * prototypical `dropFraction` of each new cluster ([[prototypePrune]]).
   * Returns the SemDeDup survivors with their phase-2 cluster,
   * prototypicality, and final `kept` flag; examples SemDeDup removed
   * are absent. (The paper then resamples the pruned pool — compose
   * with [[Sampling.dsirResample]] on the joined document table when a
   * text column is available; this operator stays in embedding space.)
   *
   * Scale shape: each phase keeps its own documented shape (cluster-
   * confined pair join; broadcast assignment + rank window). The
   * survivor set is localCheckpoint-staged between phases — the same
   * write-between-passes discipline as `curate_filters_e2e` — because
   * phase 2's Lloyd rounds consume it once per round; without the
   * barrier every round would re-run the entire SemDeDup pair join.
   */
  def d4(corpus: DataFrame, threshold: Double, dropFraction: Double,
         nCentroids: Int, lloydIters: Int = 2,
         maxClusterSize: Int = 0, saltBlockSize: Int = 256): DataFrame = {
    val sem = semDedup(corpus, threshold, nCentroids, lloydIters,
      maxClusterSize, saltBlockSize)
    val survivors = Staging.stage(corpus
      .join(sem.filter(col("kept")).select(col("vec_id")), "vec_id"))
    prototypePrune(survivors, dropFraction, nCentroids, lloydIters)
  }

  /** Literal-plane plan budget (in literal longs) for the seeded-LSH
    * hyperplanes: below it the plane matrix embeds as literals inside
    * whole-stage codegen; past it it rides a broadcast one-row frame —
    * Janino's local-variable bookkeeping grows quadratically with
    * generated locals (the 16·256·4 literal PQ encode OOM'd a 32 GB
    * driver AT COMPILE TIME in the r16 probe; an m=16·k=64·sub=2 = 2048-
    * literal argmin crashed Janino outright in the r17 probe — which is
    * why the PQ family no longer has a literal path at all, see
    * [[PqArgMinQ]] via [[pqArgMinQ]]). */
  private[pipeline] val MaxLiteralCodebook = 4096L

  /** Codeword argmin for one PQ subspace — the native codegen'd kernel
    * (graft.functions.PqArgMinQ): integer L2 via |c|² − 2·x·c over a
    * FLAT codebook (|x|² constant across codewords, dropped —
    * argmin/tie-preserving; the oracle keeps the full distance, same
    * ordering), ties to the smallest code index. r17: the former
    * `array_min(transform(...))` paid an interpreted HOF + one struct
    * allocation per codeword per row — it dominated the production
    * IVFADC row (m=16·k=256: ~82M codeword evals per corpus pass),
    * and the sub-budget literal-codeword variant crashed Janino. */
  private[pipeline] def pqArgMinQ(sv: Column, cwFlat: Column, cn: Column): Column =
    org.apache.spark.sql.GraftColumnShim.column(graft.functions.PqArgMinQ(
      org.apache.spark.sql.GraftColumnShim.expression(sv),
      org.apache.spark.sql.GraftColumnShim.expression(cwFlat),
      org.apache.spark.sql.GraftColumnShim.expression(cn)))

  /** Per-subspace ADC table (native kernel): dot(sv, codeword_j) ∀j. */
  private def pqAdcQ(sv: Column, cwFlat: Column): Column =
    org.apache.spark.sql.GraftColumnShim.column(graft.functions.PqAdcQ(
      org.apache.spark.sql.GraftColumnShim.expression(sv),
      org.apache.spark.sql.GraftColumnShim.expression(cwFlat)))

  /** Nearest-centroid index by rounded cosine — the native kernel form
    * of the k-means-family assignment (graft.functions.ArgMaxCos6Q;
    * r17: the former `array_min(transform(cents, struct(-round(cos),
    * cent)))` paid an interpreted HOF + struct per centroid per row —
    * after the PQ kernels landed it was the remaining hot loop of the
    * whole family). Requires the [[centsFlatRow]] layout, whose
    * cent-ASC sort makes the kernel's smallest-index tie-break
    * identical to the struct-min's smallest-cent tie-break. */
  private[pipeline] def argMaxCos6Q(vec: Column, cqflat: Column, cns: Column): Column =
    org.apache.spark.sql.GraftColumnShim.column(graft.functions.ArgMaxCos6Q(
      org.apache.spark.sql.GraftColumnShim.expression(vec),
      org.apache.spark.sql.GraftColumnShim.expression(cqflat),
      org.apache.spark.sql.GraftColumnShim.expression(cns)))

  /** The centroid table as ONE broadcast-able row in the kernel-ready
    * flat layout, SORTED by cent id (the tie-break contract): cids (k
    * ids), cqflat (k·dim longs, concatenated), cns (k norms). */
  private[pipeline] def centsFlatRow(cents: DataFrame): DataFrame =
    cents.agg(sort_array(collect_list(
        struct(col("cent"), col("centq"), col("centn")))).as("cs"))
      .select(transform(col("cs"), x => x.getField("cent")).as("cids"),
        flatten(transform(col("cs"), x => x.getField("centq"))).as("cqflat"),
        transform(col("cs"), x => x.getField("centn")).as("cns"))

  /** The codebooks as ONE broadcast-able row of DATA: `bks(mi)` =
    * struct(_1 = the k codewords CONCATENATED flat (k·subDim longs),
    * _2 = the k codeword norms |w_j|²) — the kernel-ready layout shared
    * by training, encode, and the query-side ADC tables. */
  private def booksRowDf(spark: SparkSession,
                         books: Array[Array[Array[Long]]]): DataFrame = {
    import spark.implicits._
    Seq(Tuple1(books.map(ws =>
      (ws.flatten.toSeq, ws.map(w => w.map(x => x * x).sum).toSeq)).toSeq))
      .toDF("bks")
  }

  /** Encode-time argmin against the broadcast `bks` column. */
  private def pqAssignData(sv: Column, mi: Int): Column = {
    val b = element_at(col("bks"), mi + 1)
    pqArgMinQ(sv, b.getField("_1"), b.getField("_2"))
  }

  /** All-subspace Lloyd loop for PQ: md5-first seeds (code index = seed
    * rank; the seed ROWS are shared across subspaces, so one collect of k
    * full vectors slices into every codebook), integer truncating means
    * (the kmeans-oracle division convention), empty codes keep their
    * codeword. Codebooks are DRIVER metadata (m·k·subDim longs), and each
    * round is ONE corpus-scale job — every subspace's argmin+slice rides
    * the same scan via `inline`, then a (mi, code, pos)-keyed agg
    * collapses to ≤ m·k·subDim rows. (A per-subspace loop was 3× slower
    * at the bench scale: m·iters tiny jobs were pure scheduler/codegen
    * floor.) */
  private[pipeline] def pqLloydAll(c: DataFrame, m: Int, sub: Int, k: Int,
                         iters: Int): Array[Array[Array[Long]]] = {
    val spark = c.sparkSession
    import spark.implicits._
    val seeds: Array[Array[Long]] = c
      .orderBy(md5(col("cid").cast("string")), col("cid")).limit(k)
      .select(col("cq")).collect().map(_.getSeq[Long](0).toArray)
    // r16 review: fewer rows than codewords used to AIOOBE inside the
    // round update (Array.tabulate(k) indexing past seeds.length)
    require(seeds.length >= k,
      s"PQ training needs >= k=$k rows; corpus has ${seeds.length}")
    var books: Array[Array[Array[Long]]] = Array.tabulate(m) { mi =>
      seeds.map(v => v.slice(mi * sub, (mi + 1) * sub))
    }
    // stable subvector explode (mi, sv), reused verbatim every round; the
    // per-round codebooks join in as broadcast DATA (the trainCentroids
    // device), so the round plan's generated code is IDENTICAL across
    // rounds and Spark's codegen cache compiles it once — codeword
    // literals in the round expression forced a fresh multi-second Janino
    // compile per round (measured: the Lloyd loop dominated the row).
    val subv = c.select(inline(array((0 until m).map { mi =>
      struct(lit(mi).as("mi"), slice(col("cq"), mi * sub + 1, sub).as("sv"))
    }: _*)))
    for (_ <- 0 until iters) {
      val bk = books.zipWithIndex.map { case (ws, mi) =>
        (mi, ws.flatten.toSeq, ws.map(w => w.map(x => x * x).sum).toSeq)
      }.toSeq.toDF("mi", "cwflat", "cn")
      val sums = subv.join(broadcast(bk), Seq("mi"))
        .withColumn("code",
          pqArgMinQ(col("sv"), col("cwflat"), col("cn")))
        .select(col("mi"), col("code"),
          posexplode(col("sv")).as(Seq("pos", "v")))
        .groupBy("mi", "code", "pos")
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .collect()
      val byKey = sums.groupBy(r => (r.getAs[Int]("mi"), r.getAs[Int]("code")))
      books = Array.tabulate(m) { mi =>
        Array.tabulate(k) { j =>
          byKey.get((mi, j)).fold(books(mi)(j)) { rows =>
            val arr = books(mi)(j).clone()
            rows.foreach(r => arr(r.getAs[Int]("pos")) =
              r.getAs[Long]("s") / r.getAs[Long]("n"))
            arr
          }
        }
      }
    }
    books
  }

  /**
   * Product-quantization top-k (Jégou et al. 2011, "Product Quantization
   * for Nearest Neighbor Search", IEEE TPAMI 33(1) — the memory-bound
   * regime's ANN): split each vector into `m` subvectors, k-means each
   * subspace into `k` codewords (integer Lloyd, md5-first seeds — the
   * family's deterministic substrate), encode every corpus vector as `m`
   * small code indices, and score queries against CODES via the
   * asymmetric-distance device: each query precomputes an m×k table of
   * exact subspace dots against the codebooks, and a corpus candidate
   * costs m table lookups instead of a d-dimensional dot. Ranking is by
   * the reconstructed cosine (ADC dot over exact |q| and the codeword-
   * reconstructed |x̃|), rounded to 6 digits, (cosine desc, id asc).
   *
   * Scale shape: codebooks are driver metadata (m·k·(d/m) longs) trained
   * in 1+iters bounded jobs (all subspaces per job — see
   * [[pqLloydAll]]); encoding is map-side argmin against literal
   * codewords; the ADC tables ride the BROADCAST query side (m·k longs
   * per query); the corpus side carries m code ints per row — the 100 TB
   * story is exactly the paper's: the scan that scores 10⁹ candidates
   * reads m bytes of code, not 4·d bytes of floats, an
   * (m·log₂k)/(32·d)-fold memory-bandwidth reduction (64× here), and
   * nothing shuffles but the per-query ranking window.
   */
  def pqTopK(corpus: DataFrame, queries: DataFrame, topK: Int, m: Int,
             k: Int, iters: Int = 2,
             trainFraction: Double = 1.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(trainFraction > 0 && trainFraction <= 1,
      s"trainFraction=$trainFraction outside (0, 1]")
    val c = corpus.select(col("vec_id").as("cid"),
      quantize(col("embedding")).as("cq"))
    val dim = c.select(size(col("cq")).as("d")).head().getInt(0)
    require(dim % m == 0, s"embedding dim $dim not divisible by m=$m")
    val sub = dim / m
    // FAISS-style sampled training (r17): codebooks train on a
    // deterministic md5-fraction of the corpus (the hashFraction device)
    // — Lloyd cost scales with the sample while the FULL corpus is
    // encoded against the trained books. 1.0 (default, the oracle
    // replay) trains on everything; pqLloydAll's seeds >= k require
    // fires loudly on an over-thinned sample.
    // SAMPLE-SIZE FLOOR (r18, measured): k-sized codebooks want
    // >= ~39·k training points (FAISS min_points_per_centroid) — on a
    // 20k-vector corpus with k=256 the recall@5 ladder read 18.4% full /
    // 15.5% at fraction 0.5 (the floor) / 12.5% at 0.1, so trainFraction
    // is a SCALE knob: at deployment N the floor 39·k/N is a vanishing
    // fraction and Lloyd cost drops ~1/fraction with no recall price;
    // at bench-sized corpora keep trainFraction >= 39·k/N.
    val cTrain =
      if (trainFraction >= 1.0) c
      else c.filter(Sampling.hashFraction(col("cid"), "pqtrain") < trainFraction)
    val books = pqLloydAll(cTrain, m, sub, k, iters)
    val spark = corpus.sparkSession
    // codebooks ride ONE broadcast flat-layout row (booksRowDf) into the
    // native argmin/ADC kernels — the r16 literal-codeword path is gone:
    // it OOM'd/crashed Janino at production sizes and the kernel beats
    // it at every size (no per-codeword plan branches at all)
    val bksDf = booksRowDf(spark, books)
    // staged = the paper's stored artifact (the encoded corpus:
    // m code ints + one reconstructed-norm long per row, the thing a
    // 100 TB deployment persists) AND a
    // CollapseProject barrier: without it Catalyst merges this projection
    // into the join's parent and re-evaluates every k-branch argmin once
    // per (candidate × query × referencing expression) instead of once
    // per candidate (measured 2× on the scoring stage).
    // |x̃|² from codeword norms is QUERY-INDEPENDENT, so it is computed
    // once per corpus row at encode time and stored beside the codes
    // (r16 review: reading it from qtab's bks column at scoring time
    // duplicated the whole codebook once per query row in the broadcast)
    val cnApprox = (0 until m).map { mi =>
      element_at(element_at(col("bks"), mi + 1).getField("_2"),
        col(s"code$mi") + 1)
    }.reduce(_ + _)
    val codes = (0 until m).foldLeft(c.crossJoin(broadcast(bksDf))) { (df, mi) =>
      df.withColumn(s"code$mi",
        pqAssignData(slice(col("cq"), mi * sub + 1, sub), mi))
    }.withColumn("cn2", cnApprox)
      .select(col("cid") +: col("cn2") +:
        (0 until m).map(mi => col(s"code$mi")): _*)
      .stagedLazy
    val q0 = queries.select(col("vec_id").as("qid"),
        quantize(col("embedding")).as("qq"))
      .withColumn("qn", normSqQ(col("qq")))
    // bks is dropped with qq: the ADC arrays are the only query-side
    // artifact, so the scoring broadcast carries no codebook copies
    val qtab = (0 until m).foldLeft(q0.crossJoin(broadcast(bksDf))) { (df, mi) =>
      df.withColumn(s"adc$mi",
        pqAdcQ(slice(col("qq"), mi * sub + 1, sub),
          element_at(col("bks"), mi + 1).getField("_1")))
    }.drop("qq", "bks")
    val dotAdc = (0 until m).map(mi =>
      element_at(col(s"adc$mi"), col(s"code$mi") + 1)).reduce(_ + _)
    val scored = codes.crossJoin(broadcast(qtab))
      .filter(col("cid") =!= col("qid"))
      .withColumn("cosine",
        when(col("cn2") === 0, lit(0.0))  // degenerate all-zero codeword
          .otherwise(round(cosineFromQ(dotAdc, col("qn"), col("cn2")), 6)))
    scored.withColumn("rank",
        row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("cosine").desc, col("cid").asc)))
      .filter(col("rank") <= topK)
      .select(col("qid"), col("rank"), col("cid"), col("cosine"))
  }

  /**
   * IVF-PQ top-k — the IVFADC architecture (Jégou et al. 2011 §IV, the
   * composition production ANN systems actually deploy at billion-vector
   * scale): a coarse inverted file (the [[trainCentroids]] substrate,
   * cosine cells) routes each query to its `nProbe` nearest cells, and
   * candidates inside those cells are scored from PRODUCT-QUANTIZED
   * RESIDUALS — each corpus vector stores its cell id plus m code ints
   * over x − centroid(x), and the reconstruction
   * x̃ = centroid + decoded residual gives
   * dot(q, x̃) = dot(q, c) + Σᵢ ADC[i][codeᵢ] and
   * |x̃|² = |c|² + 2·Σᵢ dot(c_subᵢ, cwᵢ) + Σᵢ |cwᵢ|² — every term
   * integer-exact over the quantized grid, so ranking (reconstructed
   * cosine rounded to 6, ties by id) replays in any engine.
   *
   * Scale shape: coarse centroids and residual codebooks are driver
   * metadata (nCells·d + m·k·(d/m) longs); the per-(cell, subspace,
   * code) centroid-codeword dot table — nCells·m·k longs, ~134 MB at
   * production 4096·16·256 — travels as a BROADCAST-JOINED DataFrame
   * (one row per cell carrying the m×k matrix), never as a plan
   * literal; the corpus pass is one map-side assign + residual-encode
   * projection that also precomputes the reconstructed norm |x̃|² per
   * row (query-independent, so it is index-build work), and its output
   * — cell id + m code ints + one norm long per row, the artifact an
   * IVFADC deployment persists — is localCheckpoint'd; query routing
   * explodes only the tiny query side; candidate scoring joins codes
   * to the BROADCAST probed-cell table keyed on the cell id, so only
   * nProbe/nCells of the corpus is read per query and each candidate
   * costs m lookups + integer adds. Only the final ranking window
   * shuffles.
   */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, topK: Int,
                nCells: Int, m: Int, k: Int, iters: Int = 2,
                nProbe: Int = 3,
                trainFraction: Double = 1.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(trainFraction > 0 && trainFraction <= 1,
      s"trainFraction=$trainFraction outside (0, 1]")
    val c = corpus.select(col("vec_id").as("cid"),
        quantize(col("embedding")).as("cq"))
      .withColumn("cn", normSqQ(col("cq")))
    val dim = c.select(size(col("cq")).as("d")).head().getInt(0)
    require(dim % m == 0, s"embedding dim $dim not divisible by m=$m")
    val sub = dim / m
    // FAISS-style sampled training (r17, see pqTopK): the coarse Lloyd
    // rounds AND the residual-PQ Lloyd rounds both run on a
    // deterministic md5-fraction; the full corpus is still assigned and
    // encoded against the trained index (the resid pass below). The
    // r18 sample-size floor note at pqTopK applies here twice over —
    // both max(nCells, k)·~39 points bound the honest trainFraction.
    val cTrain =
      if (trainFraction >= 1.0) c
      else c.filter(Sampling.hashFraction(col("cid"), "ivfpqtrain") < trainFraction)
    val cents = trainCentroids(cTrain, nCells, iters)
    val centArr: Array[(String, Array[Long], Long)] = cents.collect()
      .map(r => (r.getAs[String]("cent"), r.getSeq[Long](1).toArray,
        r.getAs[Long]("centn")))
    val centsRow = cents
      .agg(collect_list(struct(col("cent"), col("centq"), col("centn"))).as("cents"))
    val centsFlat = centsFlatRow(cents)
    // cell assignment via the native kernel; the winning centroid's
    // vector is the index's slice of the flat table, so the residual is
    // a pure projection (ties impossible past the unique cent field)
    val dCol = size(col("cq"))
    val resid = c.crossJoin(broadcast(centsFlat))
      .withColumn("ci", argMaxCos6Q(col("cq"), col("cqflat"), col("cns")))
      .select(col("cid"), col("cq"),
        element_at(col("cids"), col("ci") + 1).as("cent"),
        element_at(col("cns"), col("ci") + 1).as("centn"),
        zip_with(col("cq"),
          slice(col("cqflat"), col("ci") * dCol + lit(1), dCol),
          (a, b) => a - b).as("rq"))
      .staged  // feeds the PQ Lloyd jobs AND the encode pass
    val residTrain =
      if (trainFraction >= 1.0) resid
      else resid.filter(
        Sampling.hashFraction(col("cid"), "ivfpqtrain") < trainFraction)
    val books = pqLloydAll(residTrain.select(col("cid"), col("rq").as("cq")),
      m, sub, k, iters)
    def dotArr(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    // Per-cell centroid-codeword dot table as broadcast DATA, not a plan
    // literal (r15 verdict: at production IVFADC parameters — 4096 cells ·
    // 16 subspaces · 256 codes ≈ 16.7M entries — the former string-keyed
    // `typedlit` map exploded codegen and plan serialization long before
    // the data did). One row per cell carries the m×k dot matrix; the
    // broadcast join + reconstructed-norm projection fuse into one codegen
    // stage, so the nested array is read in place from the broadcast
    // relation and each corpus row emits ONE long.
    val spark = corpus.sparkSession
    import spark.implicits._
    val ccTab = centArr.toSeq.map { case (cent, cq, _) =>
      (cent, (0 until m).map(mi => books(mi).map(w =>
        dotArr(cq.slice(mi * sub, (mi + 1) * sub), w)).toSeq).toSeq)
    }.toDF("cent", "ccdots")
    // codebooks ride ONE broadcast flat-layout row into the native
    // argmin/ADC kernels (see pqTopK — the literal path is gone)
    val bksDf = booksRowDf(spark, books)
    def codeOf(srcVec: Column, mi: Int): Column =
      pqAssignData(slice(srcVec, mi * sub + 1, sub), mi)
    val cwn2Sum = (0 until m).map { mi =>
      element_at(element_at(col("bks"), mi + 1).getField("_2"),
        col(s"code$mi") + 1)
    }.reduce(_ + _)
    val ccSum = (0 until m).map(mi =>
      element_at(element_at(col("ccdots"), mi + 1), col(s"code$mi") + 1))
      .reduce(_ + _)
    // the stored artifact: cell id + m residual code ints + the
    // reconstructed norm |x̃|² = |c|² + 2·Σ dot(c_subᵢ, cwᵢ) + Σ |cwᵢ|²,
    // PRECOMPUTED here (query-independent — once per corpus row at index
    // build, not once per candidate × query at scoring);
    // checkpoint = the persisted IVFADC index
    val residB = resid.crossJoin(broadcast(bksDf))
    val codes = (0 until m).foldLeft(residB) { (df, mi) =>
      df.withColumn(s"code$mi", codeOf(col("rq"), mi))
    }.join(broadcast(ccTab), Seq("cent"))
      .withColumn("xn2", col("centn") + lit(2L) * ccSum + cwn2Sum)
      .select(col("cid") +: col("cent") +: col("xn2") +:
        (0 until m).map(mi => col(s"code$mi")): _*)
      .stagedLazy
    // query side: probe the nProbe nearest cells, carry dot(q, c) and
    // the per-subspace ADC tables (all broadcast-sized)
    val q0 = queries.select(col("vec_id").as("qid"),
        quantize(col("embedding")).as("qq"))
      .withColumn("qn", normSqQ(col("qq")))
    val qcells = q0.crossJoin(broadcast(centsRow))
      .select(col("qid"), col("qq"), col("qn"), explode(col("cents")).as("c"))
      .select(col("qid"), col("qq"), col("qn"), col("c.cent").as("cent"),
        dotQ(col("qq"), col("c.centq")).as("dotqc"),
        round(cosineFromQ(dotQ(col("qq"), col("c.centq")), col("qn"),
          col("c.centn")), 6).as("cs"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cs").desc, col("cent"))))
      .filter(col("rn") <= nProbe)
    val qcellsB = qcells.crossJoin(broadcast(bksDf))
    val qtab = (0 until m).foldLeft(qcellsB) { (df, mi) =>
      df.withColumn(s"adc$mi",
        pqAdcQ(slice(col("qq"), mi * sub + 1, sub),
          element_at(col("bks"), mi + 1).getField("_1")))
    }.drop("qq", "cs", "rn", "bks")
    val dotAdc = (0 until m).map(mi =>
      element_at(col(s"adc$mi"), col(s"code$mi") + 1)).reduce(_ + _)
    val scored = codes.join(broadcast(qtab), "cent")
      .filter(col("cid") =!= col("qid"))
      .withColumn("cosine",
        when(col("xn2") <= 0, lit(0.0))  // degenerate zero reconstruction
          .otherwise(round(cosineFromQ(col("dotqc") + dotAdc,
            col("qn"), col("xn2")), 6)))
    scored.withColumn("rank",
        row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("cosine").desc, col("cid").asc)))
      .filter(col("rank") <= topK)
      .select(col("qid"), col("rank"), col("cid"), col("cosine"))
  }

  private def probeWithCentroids(c: DataFrame, queries: DataFrame, k: Int,
                                 nProbe: Int,
                                 centroidRows: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // staged: both the query-side struct row and the corpus-side flat
    // row aggregate this ≤k-row frame — without the barrier an unstaged
    // md5-sample input (ivfTopK) would re-run its corpus TakeOrdered
    val centRows = Staging.stage(centroidRows)
    val centroids = centRows
      .agg(collect_list(struct(col("cent"), col("centq"), col("centn"))).as("cents"))
    // Corpus-side cell assignment rides the native argmax kernel (r17 —
    // the per-row HOF cost class removed from every corpus-scale
    // assignment); the QUERY side below keeps the struct sort because it
    // needs the full (cosine desc, cent asc) cell ORDER for its nProbe
    // probe set, and the query frame is broadcast-small by contract.
    def scoredCells(vec: Column, norm: Column): Column =
      transform(col("cents"), x =>
        struct((-round(cosineFromQ(dotQ(vec, x.getField("centq")), norm,
          x.getField("centn")), 6)).as("negCos"), x.getField("cent").as("cent")))
    val cAssigned = c.crossJoin(broadcast(centsFlatRow(centRows)))
      .withColumn("cent", element_at(col("cids"),
        argMaxCos6Q(col("cq"), col("cqflat"), col("cns")) + 1))
      .drop("cids", "cqflat", "cns")
    val q = queries.select(col("vec_id").as("qid"), quantize(col("embedding")).as("qq"))
      .withColumn("qn", normSqQ(col("qq")))
    val qAssigned = q.crossJoin(broadcast(centroids))
      .withColumn("cent", explode(transform(
        slice(array_sort(scoredCells(col("qq"), col("qn"))), 1, nProbe),
        x => x.getField("cent"))))
      .drop("cents")
    val scored = cAssigned.join(broadcast(qAssigned), "cent")
      .filter(col("cid") =!= col("qid"))
      .withColumn("cosine", round(cosineFromQ(dotQ(col("cq"), col("qq")),
        col("cn"), col("qn")), 6))
    scored.groupBy(col("qid"), col("cid"))       // a pair may share >1 probed cell
      .agg(first(col("cosine")).as("cosine"))
      .withColumn("rank",
        row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("cosine").desc, col("cid").asc)))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("cid"), col("cosine"))
  }
}
