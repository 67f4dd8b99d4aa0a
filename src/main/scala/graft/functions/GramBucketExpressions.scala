package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native md5-prefix gram-bucket kernels (r21 optimization round) — the
 * MinHashSigs device applied to the OTHER corpus-scale hash chain: the
 * perplexity / Kneser-Ney / DSIR / DoReMi / quality-classifier family,
 * whose per-gram bucket is
 *
 *   bucket(g) = conv(substring(md5(g), 1, 6), 16, 10) % buckets
 *             = (first 3 md5 digest bytes, big-endian) % buckets
 *
 * over whitespace unigrams, "<s>"-prefixed bigrams, and word 2-gram
 * shingles. The bucket VALUES are output-defining (the DuckDB oracle
 * recomputes the same md5-prefix buckets), so the kernels reproduce them
 * BIT-EXACTLY (pinned by FunctionsSpec batteries) instead of replacing
 * them.
 *
 * What the SQL formulations paid per gram (guide §1.2 step 2):
 *  - tokenization into a words array (`split`), then for the bigram
 *    stream an INTERPRETED `transform(sequence(...), struct(element_at,
 *    concat_ws, ...))` per document (higher-order functions are
 *    CodegenFallback) building a fresh string per gram;
 *  - a 32-char hex rendering of the md5, a substring allocation, and a
 *    radix-16 string parse (`conv`) per bucket;
 *  - an exploded row per gram and a Tungsten hash-agg probe + one
 *    groupBy(docId) Exchange to re-assemble per-document sums.
 *
 * The kernels scan the UTF-8 bytes once for space positions (0x20 never
 * occurs inside a multi-byte UTF-8 sequence; split(" ") preserves empty
 * fields, so every token and every adjacent-token bigram is a SUBSTRING
 * slice), digest straight over the zero-copy slices, and take the bucket
 * from the raw digest bytes — no hex, no parse, no per-gram string.
 *
 * Three kernel classes:
 *  - bucket-ARRAY generators (training passes): per-document long arrays
 *    of (packed) bucket ids, exploded into the config-bounded histogram
 *    aggs — the explode survives but carries longs instead of strings+md5.
 *  - fused SCORERS (scoring passes): the whole per-document aggregation
 *    (gram count + table-lookup sum) in ONE call, with the ≤`buckets`-row
 *    model table embedded as a dense long array — the corpus-scale
 *    explode AND the groupBy(docId) Exchange disappear outright
 *    (guide §2.4).
 *  - an ARRAY scorer ([[BucketWeightSum]]): the table-lookup sum over an
 *    already-staged bucket array, for loops that score the same
 *    documents once per round (the logistic trainer's epochs).
 *
 * NULL text: every expression here returns NULL (the historical
 * formulations exploded a null gram array, dropping the document's rows —
 * callers filter the NULL score rows to match exactly).
 */
object GramBucketKernels {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** "<s> " — the BOS-context bigram prefix of the perplexity gram stream. */
  private val BosPrefix: Array[Byte] = "<s> ".getBytes("UTF-8")
  private val Bos: Array[Byte] = "<s>".getBytes("UTF-8")

  private def spacePositions(b: Array[Byte]): Array[Int] = {
    var spaces = 0
    var i = 0
    while (i < b.length) { if (b(i) == ' ') spaces += 1; i += 1 }
    val pos = new Array[Int](spaces)
    var j = 0
    i = 0
    while (i < b.length) { if (b(i) == ' ') { pos(j) = i; j += 1 }; i += 1 }
    pos
  }

  @inline private def tokStart(pos: Array[Int], i: Int): Int =
    if (i == 0) 0 else pos(i - 1) + 1
  @inline private def tokEnd(b: Array[Byte], pos: Array[Int], i: Int): Int =
    if (i == pos.length) b.length else pos(i)

  /** (first 3 digest bytes BE) % buckets — exactly
    * `conv(substring(md5(x),1,6),16,10) % buckets` (the 24-bit value is
    * non-negative, so Spark's sign-of-dividend `%` is plain `%`). */
  @inline private def bucketOfDigest(d: Array[Byte], buckets: Int): Long =
    (((d(0) & 0xff) << 16) | ((d(1) & 0xff) << 8) | (d(2) & 0xff)).toLong % buckets

  private def bucketOf(digest: java.security.MessageDigest,
                       b: Array[Byte], start: Int, len: Int,
                       buckets: Int): Long = {
    digest.reset()
    digest.update(b, start, len)
    bucketOfDigest(digest.digest(), buckets)
  }

  private def bucketOfPrefixed(digest: java.security.MessageDigest,
                               prefix: Array[Byte],
                               b: Array[Byte], start: Int, len: Int,
                               buckets: Int): Long = {
    digest.reset()
    digest.update(prefix)
    digest.update(b, start, len)
    bucketOfDigest(digest.digest(), buckets)
  }

  /** Whitespace-unigram buckets — `explode(split(text,' '))` → md5 bucket
    * per token (the Classifier.hashedTokens stream). */
  def tokenBuckets(t: UTF8String, buckets: Int): ArrayData = {
    val b = t.getBytes
    val pos = spacePositions(b)
    val n = pos.length + 1
    val digest = md.get()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = bucketOf(digest, b, tokStart(pos, i), tokEnd(b, pos, i) - tokStart(pos, i), buckets)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** DSIR gram buckets: unigrams ++ word 2-gram shingles (whole-text
    * fallback below 2 words — the ShingleKernels.wordShingles contract),
    * in the `concat(split(text,' '), shingles(text,2))` order. */
  def dsirBuckets(t: UTF8String, buckets: Int): ArrayData = {
    val b = t.getBytes
    val pos = spacePositions(b)
    val n = pos.length + 1
    val digest = md.get()
    val numSh = if (n < 2) 1 else n - 1
    val out = new Array[Long](n + numSh)
    var i = 0
    while (i < n) {
      out(i) = bucketOf(digest, b, tokStart(pos, i), tokEnd(b, pos, i) - tokStart(pos, i), buckets)
      i += 1
    }
    if (n < 2) out(n) = bucketOf(digest, b, 0, b.length, buckets)
    else {
      var s = 0
      while (s < n - 1) {
        val start = tokStart(pos, s)
        out(n + s) = bucketOf(digest, b, start, tokEnd(b, pos, s + 1) - start, buckets)
        s += 1
      }
    }
    new GenericArrayData(out)
  }

  /** Perplexity training-pass stream, PACKED: per gram j (1..n over the
    * `<s>`-prefixed token chain) two entries — bucket(bigram_j) and
    * `buckets + bucket(ctx_j)` — the (isG, b) tag pair of the historical
    * tagged histogram explode encoded in one long (b < buckets, so the
    * ranges are disjoint; counts are identical). */
  def ceBuckets(t: UTF8String, buckets: Int): ArrayData = {
    val b = t.getBytes
    val pos = spacePositions(b)
    val n = pos.length + 1
    val digest = md.get()
    val out = new Array[Long](2 * n)
    var bc = bucketOf(digest, Bos, 0, Bos.length, buckets) // ctx of gram 1
    var j = 0
    while (j < n) {
      val bg =
        if (j == 0)
          bucketOfPrefixed(digest, BosPrefix, b, 0, tokEnd(b, pos, 0), buckets)
        else {
          val start = tokStart(pos, j - 1)
          bucketOf(digest, b, start, tokEnd(b, pos, j) - start, buckets)
        }
      out(2 * j) = bg
      out(2 * j + 1) = buckets + bc
      if (j < n - 1) // next gram's ctx = token j (0-based)
        bc = bucketOf(digest, b, tokStart(pos, j), tokEnd(b, pos, j) - tokStart(pos, j), buckets)
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Kneser-Ney training-pass stream, PACKED: per gram three entries —
    * tag 0: bucket(bigram), tag 1: `B + bucket(ctx)`, tag 2:
    * `2B + bucket(ctx)·B + bucket(w)` (the (bc, bw) pair key; all three
    * ranges disjoint, counts identical to the tagged explode). */
  def knBuckets(t: UTF8String, buckets: Int): ArrayData = {
    val b = t.getBytes
    val pos = spacePositions(b)
    val n = pos.length + 1
    val digest = md.get()
    val out = new Array[Long](3 * n)
    var bc = bucketOf(digest, Bos, 0, Bos.length, buckets)
    var j = 0
    while (j < n) {
      val bg =
        if (j == 0)
          bucketOfPrefixed(digest, BosPrefix, b, 0, tokEnd(b, pos, 0), buckets)
        else {
          val start = tokStart(pos, j - 1)
          bucketOf(digest, b, start, tokEnd(b, pos, j) - start, buckets)
        }
      // bw = bucket(token j) — also the next gram's ctx bucket
      val bw = bucketOf(digest, b, tokStart(pos, j), tokEnd(b, pos, j) - tokStart(pos, j), buckets)
      out(3 * j) = bg
      out(3 * j + 1) = buckets + bc
      out(3 * j + 2) = 2L * buckets + bc * buckets + bw
      bc = bw
      j += 1
    }
    new GenericArrayData(out)
  }

  /** `round(log(x) * 1e6, 0).cast("long")` for integer x ≥ 1, bit-equal to
    * Spark's Round-on-double (scala BigDecimal(d).setScale(0, HALF_UP)
    * over the shortest decimal representation): v and floor(v) share an
    * exponent so `v - floor(v)` is IEEE-exact, and `k + 0.5` is exactly
    * representable, so the ≥ 0.5 comparison decides the decimal HALF_UP
    * boundary identically (a shortest-repr decimal can never sit on the
    * other side of an exactly-representable boundary than its double).
    * Pinned against the Spark column formulation in FunctionsSpec. */
  def lnMicro(x: Long): Long = {
    val v = math.log(x.toDouble) * 1e6
    val f = math.floor(v)
    (if (v - f >= 0.5) f + 1 else f).toLong
  }
}

private[functions] abstract class GramBucketArray extends UnaryExpression {
  protected def buckets: Int
  /** fully-qualified static kernel emitted into generated code */
  protected def kernel: String
  protected def evalKernel(t: UTF8String): ArrayData

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING input, got ${child.dataType.sql}")

  override protected def nullSafeEval(t: Any): Any =
    evalKernel(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $kernel($c, $buckets);")
}

/** Unigram md5-prefix buckets per document (codegen'd); NULL text → NULL. */
case class TokenBuckets(child: Expression, buckets: Int)
    extends GramBucketArray {
  require(buckets >= 1, "bucket count must be >= 1")
  override def prettyName: String = "graft_token_buckets"
  override protected val kernel = "graft.functions.GramBucketKernels.tokenBuckets"
  override protected def evalKernel(t: UTF8String): ArrayData =
    GramBucketKernels.tokenBuckets(t, buckets)
  override protected def withNewChildInternal(newChild: Expression): TokenBuckets =
    copy(child = newChild)
}

/** DSIR unigram+bigram-shingle buckets per document; NULL text → NULL. */
case class DsirGramBuckets(child: Expression, buckets: Int)
    extends GramBucketArray {
  require(buckets >= 1, "bucket count must be >= 1")
  override def prettyName: String = "graft_dsir_buckets"
  override protected val kernel = "graft.functions.GramBucketKernels.dsirBuckets"
  override protected def evalKernel(t: UTF8String): ArrayData =
    GramBucketKernels.dsirBuckets(t, buckets)
  override protected def withNewChildInternal(newChild: Expression): DsirGramBuckets =
    copy(child = newChild)
}

/** Packed (bigram, ctx) bucket stream per document (perplexity training);
  * NULL text → NULL. */
case class CeGramBuckets(child: Expression, buckets: Int)
    extends GramBucketArray {
  require(buckets >= 1, "bucket count must be >= 1")
  override def prettyName: String = "graft_ce_buckets"
  override protected val kernel = "graft.functions.GramBucketKernels.ceBuckets"
  override protected def evalKernel(t: UTF8String): ArrayData =
    GramBucketKernels.ceBuckets(t, buckets)
  override protected def withNewChildInternal(newChild: Expression): CeGramBuckets =
    copy(child = newChild)
}

/** Packed (bigram, ctx, ctx·B+w) bucket stream per document (KN training);
  * NULL text → NULL. */
case class KnGramBuckets(child: Expression, buckets: Int)
    extends GramBucketArray {
  require(buckets >= 1 && buckets.toLong * buckets + 2L * buckets <= Long.MaxValue,
    "bucket count out of packing range")
  override def prettyName: String = "graft_kn_buckets"
  override protected val kernel = "graft.functions.GramBucketKernels.knBuckets"
  override protected def evalKernel(t: UTF8String): ArrayData =
    GramBucketKernels.knBuckets(t, buckets)
  override protected def withNewChildInternal(newChild: Expression): KnGramBuckets =
    copy(child = newChild)
}

/** A fused per-document scorer, NULL exactly when the text is: callers
  * filter the TEXT, since a filter on the score is pushed below the
  * projection and runs the kernel twice per row. */
private[functions] abstract class GramScoreExpression extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING input, got ${child.dataType.sql}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  /** the fused per-document scorer — referenced from generated code */
  def score(t: UTF8String): ArrayData

  override protected def nullSafeEval(t: Any): Any =
    score(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("gramScorer", this,
      classOf[GramScoreExpression].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.score($c);")
  }
}

/**
 * Fused per-document token scorer: [nTokens, Σ weights(bucket(tok))] —
 * the Classifier scoring pass (`groupBy(docId).agg(count, sum(lookup))`)
 * in one call; `weights` is the ≤B-row model table densified (misses = 0,
 * the historical coalesce default). NULL text → NULL row (callers filter).
 */
case class HashedTokenScore(child: Expression, buckets: Int,
                            weights: Array[Long])
    extends GramScoreExpression {
  require(buckets >= 1 && weights.length == buckets, "weights must be dense")
  override def prettyName: String = "graft_token_score"

  override def score(t: UTF8String): ArrayData = {
    val arr = GramBucketKernels.tokenBuckets(t, buckets)
    val n = arr.numElements()
    var sum = 0L
    var i = 0
    while (i < n) { sum += weights(arr.getLong(i).toInt); i += 1 }
    new GenericArrayData(Array[Long](n.toLong, sum))
  }

  override protected def withNewChildInternal(newChild: Expression): HashedTokenScore =
    copy(child = newChild)
}

/** Fused DSIR scorer: [nGrams, Σ lr(bucket(gram))] over unigrams +
  * bigram shingles — dsirWeights' per-doc agg in one call. The log-ratio
  * table never misses on the training corpus (every gram was counted);
  * `weights` is the densified table. NULL text → NULL. */
case class DsirScore(child: Expression, buckets: Int, weights: Array[Long])
    extends GramScoreExpression {
  require(buckets >= 1 && weights.length == buckets, "weights must be dense")
  override def prettyName: String = "graft_dsir_score"

  override def score(t: UTF8String): ArrayData = {
    val arr = GramBucketKernels.dsirBuckets(t, buckets)
    val n = arr.numElements()
    var sum = 0L
    var i = 0
    while (i < n) { sum += weights(arr.getLong(i).toInt); i += 1 }
    new GenericArrayData(Array[Long](n.toLong, sum))
  }

  override protected def withNewChildInternal(newChild: Expression): DsirScore =
    copy(child = newChild)
}

/**
 * Fused cross-entropy scorer (Perplexity.crossEntropy): [n_bigrams,
 * ce_micro] with ce_micro = (Σ max(lpc(bc) − lpb(bg), 0)) div n — the
 * per-gram clamped micro-nat term summed and integer-divided exactly as
 * the SQL `sum(t) div count(1)` (both operands non-negative, so Java `/`
 * = SQL `div`). `lpb`/`lpc` are the densified model tables (misses =
 * log(0+1) = 0 and log(0+B) respectively — the historical coalesce
 * defaults are what the dense fill uses). NULL text → NULL.
 */
case class CeScore(child: Expression, buckets: Int,
                   lpb: Array[Long], lpc: Array[Long])
    extends GramScoreExpression {
  require(buckets >= 1 && lpb.length == buckets && lpc.length == buckets,
    "model tables must be dense")
  override def prettyName: String = "graft_ce_score"

  override def score(t: UTF8String): ArrayData = {
    val arr = GramBucketKernels.ceBuckets(t, buckets)
    val n = arr.numElements() / 2
    var sum = 0L
    var j = 0
    while (j < n) {
      val bg = arr.getLong(2 * j).toInt
      val bc = (arr.getLong(2 * j + 1) - buckets).toInt
      val tt = lpc(bc) - lpb(bg)
      if (tt > 0) sum += tt
      j += 1
    }
    new GenericArrayData(Array[Long](n.toLong, sum / n))
  }

  override protected def withNewChildInternal(newChild: Expression): CeScore =
    copy(child = newChild)
}

/** Fused two-model cross-entropy scorer (Perplexity.excessLoss):
  * [n_bigrams, ce_target_micro, ce_alt_micro] — both models' terms from
  * one gram pass. NULL text → NULL. */
case class CeScorePair(child: Expression, buckets: Int,
                       lpbT: Array[Long], lpcT: Array[Long],
                       lpbA: Array[Long], lpcA: Array[Long])
    extends GramScoreExpression {
  require(buckets >= 1 && lpbT.length == buckets && lpcT.length == buckets &&
    lpbA.length == buckets && lpcA.length == buckets, "model tables must be dense")
  override def prettyName: String = "graft_ce_score_pair"

  override def score(t: UTF8String): ArrayData = {
    val arr = GramBucketKernels.ceBuckets(t, buckets)
    val n = arr.numElements() / 2
    var sumT = 0L
    var sumA = 0L
    var j = 0
    while (j < n) {
      val bg = arr.getLong(2 * j).toInt
      val bc = (arr.getLong(2 * j + 1) - buckets).toInt
      val tt = lpcT(bc) - lpbT(bg)
      if (tt > 0) sumT += tt
      val ta = lpcA(bc) - lpbA(bg)
      if (ta > 0) sumA += ta
      j += 1
    }
    new GenericArrayData(Array[Long](n.toLong, sumT / n, sumA / n))
  }

  override protected def withNewChildInternal(newChild: Expression): CeScorePair =
    copy(child = newChild)
}

/**
 * Fused interpolated-Kneser-Ney scorer (Perplexity.crossEntropyKN):
 * [n_bigrams, ce_micro] with the exact integer-rational per-gram term —
 *
 *   num = max(dDen·cb(bg) − dNum, 0)·nccB + dNum·n1p(bc)·(n1w(bw)+1)
 *   den = dDen·cc(bc)·nccB
 *   t   = cc(bc)=0 ? lnB − lnMicro(n1w(bw)+1) : lnMicro(den) − lnMicro(num)
 *
 * clamped at 0, summed, `div n` — where lnMicro replicates the SQL
 * `round(log(x)·1e6, 0)` bit-exactly (GramBucketKernels.lnMicro) and
 * `lnB` = the driver-computed microLog(nccB) constant. Tables are the
 * densified ≤B-row model maps (miss = 0, the coalesce default).
 * NULL text → NULL.
 */
case class KnScore(child: Expression, buckets: Int,
                   cb: Array[Long], cc: Array[Long],
                   n1p: Array[Long], n1w: Array[Long],
                   nccB: Long, lnB: Long, dNum: Int, dDen: Int)
    extends GramScoreExpression {
  require(buckets >= 1 && cb.length == buckets && cc.length == buckets &&
    n1p.length == buckets && n1w.length == buckets, "model tables must be dense")
  override def prettyName: String = "graft_kn_score"

  override def score(t: UTF8String): ArrayData = {
    val arr = GramBucketKernels.knBuckets(t, buckets)
    val n = arr.numElements() / 3
    var sum = 0L
    var j = 0
    while (j < n) {
      val bg = arr.getLong(3 * j).toInt
      val bc = (arr.getLong(3 * j + 1) - buckets).toInt
      val bw = (arr.getLong(3 * j + 2) - 2L * buckets - bc.toLong * buckets).toInt
      val cg = cb(bg)
      val cp = cc(bc)
      val tt =
        if (cp == 0L) lnB - GramBucketKernels.lnMicro(n1w(bw) + 1L)
        else {
          val base = dDen * cg - dNum
          val num = (if (base > 0L) base else 0L) * nccB +
            dNum * n1p(bc) * (n1w(bw) + 1L)
          val den = dDen * cp * nccB
          GramBucketKernels.lnMicro(den) - GramBucketKernels.lnMicro(num)
        }
      if (tt > 0) sum += tt
      j += 1
    }
    new GenericArrayData(Array[Long](n.toLong, sum / n))
  }

  override protected def withNewChildInternal(newChild: Expression): KnScore =
    copy(child = newChild)
}

/**
 * Σ weights(b) over a staged bucket array (a [[TokenBuckets]] result):
 * the per-document dot product of the logistic trainer's epochs, read
 * from the array instead of re-hashing the text. Each token adds its own
 * weight, so a repeated bucket contributes cnt·w — the historical
 * `sum(cnt · w)` of the per-(doc, bucket) formulation. The sum is
 * `Math.addExact`: a long overflow throws, as ANSI `sum` does.
 * `weights` is the dense ≤B-row model table. NULL array → NULL.
 */
case class BucketWeightSum(child: Expression, weights: Array[Long])
    extends UnaryExpression {
  override def prettyName: String = "graft_bucket_weight_sum"

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, false) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<BIGINT NOT NULL> input, got ${other.sql}")
  }

  override protected def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    var sum = 0L
    var i = 0
    while (i < arr.numElements()) {
      sum = Math.addExact(sum, weights(arr.getLong(i).toInt)); i += 1
    }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val w = ctx.addReferenceObj("weights", weights, "long[]")
    val i = ctx.freshName("i")
    nullSafeCodeGen(ctx, ev, a =>
      s"""${ev.value} = 0L;
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  ${ev.value} = java.lang.Math.addExact(${ev.value},
         |    $w[(int) $a.getLong($i)]);
         |}""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): BucketWeightSum =
    copy(child = newChild)
}
