package graft

import org.apache.spark.sql.functions._
import graft.functions.{Codecs, GzipCompress, GzipDecompress}

/** Native Catalyst codec expressions: codegen path, SQL registration via
  * the GraftExtensions descriptors, and byte-agreement with the UDF
  * codecs (SURVEY §7.4 custom-vs-built-in contract). */
class FunctionsSpec extends SparkSpec {

  test("gzip expression round-trips and agrees with the UDF codec") {
    val df = spark.createDataFrame(Seq(
      Tuple1("hello world"), Tuple1(""), Tuple1("x" * 10000))).toDF("s")
    val rows = df.select(
      org.apache.spark.sql.GraftColumnShim.column(GzipDecompress(
        GzipCompress(org.apache.spark.sql.GraftColumnShim.expression(
          col("s").cast("binary"))))).cast("string").as("rt"),
      md5(org.apache.spark.sql.GraftColumnShim.column(GzipCompress(
        org.apache.spark.sql.GraftColumnShim.expression(col("s").cast("binary")))))
        .as("native_md5"),
      md5(graft.ops.Content.gzipUdf(col("s").cast("binary"))).as("udf_md5"),
      col("s")).collect()
    rows.foreach { r =>
      assert(r.getString(0) === r.getString(3))     // round trip
      assert(r.getString(1) === r.getString(2))     // native == UDF bytes
    }
  }

  test("null flows through the engine's null-safe branch") {
    val df = spark.sql("SELECT CAST(NULL AS BINARY) AS b")
    val r = df.select(org.apache.spark.sql.GraftColumnShim.column(
      GzipCompress(org.apache.spark.sql.GraftColumnShim.expression(col("b")))))
      .collect()(0)
    assert(r.isNullAt(0))
  }

  test("extensions descriptors register SQL-addressable functions") {
    GraftExtensions.functions.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }
    val out = spark.sql(
      "SELECT CAST(graft_gunzip(graft_gzip(CAST('abc' AS BINARY))) AS STRING)")
      .collect()(0).getString(0)
    assert(out === "abc")
  }

  test("kernel agrees with java.util.zip reference bytes") {
    val b = "graft".getBytes("UTF-8")
    assert(Codecs.gunzip(Codecs.gzip(b)).toSeq === b.toSeq)
  }

  test("tryDecompress yields null on corrupt input for every format; " +
       "valid input round-trips (CompressContentTests.cpp:681)") {
    import graft.ops.Content
    val formats = Seq("gzip", "deflate", "bzip2", "xz-lzma2", "lzma")
    val junk = spark.createDataFrame(Seq(Tuple1("banana bread"))).toDF("c")
    formats.foreach { fmt =>
      val bad = junk.select(
        Content.tryDecompress(col("c").cast("binary"), fmt).as("d"))
        .collect()(0)
      assert(bad.isNullAt(0), s"$fmt should yield null on junk")
      val rt = junk.select(Content.tryDecompress(
        Content.compress(col("c").cast("binary"), fmt), fmt).cast("string"))
        .collect()(0).getString(0)
      assert(rt === "banana bread", s"$fmt round trip")
    }
  }

  test("vector kernels agree with the higher-order-function formulation " +
       "and preserve its null semantics") {
    import graft.pipeline.Similarity
    val df = spark.sql(
      """SELECT * FROM VALUES
        | (array(3L, -4L, 5L),          array(2L, 0L, -1L)),
        | (array(1000000L, -1000000L),  array(1000000L, 1000000L)),
        | (array(CAST(NULL AS BIGINT), 1L), array(1L, 1L)),
        | (array(1L, 2L),               array(1L, 2L, 3L)),
        | (CAST(NULL AS ARRAY<BIGINT>), array(1L)),
        | (array(), array())
        |AS t(a, b)""".stripMargin)
    val rows = df.select(
      Similarity.dotQ(col("a"), col("b")).as("dot"),
      Similarity.normSqQ(col("a")).as("nsq"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0L), (acc, x) => acc + x).as("dot_hof"),
      aggregate(col("a"), lit(0L), (acc, x) => acc + x * x).as("nsq_hof"))
      .collect()
    rows.foreach { r =>
      assert((r.isNullAt(0), if (r.isNullAt(0)) 0L else r.getLong(0)) ===
             (r.isNullAt(2), if (r.isNullAt(2)) 0L else r.getLong(2)), "dot")
      assert((r.isNullAt(1), if (r.isNullAt(1)) 0L else r.getLong(1)) ===
             (r.isNullAt(3), if (r.isNullAt(3)) 0L else r.getLong(3)), "normSq")
    }
    assert(rows(0).getLong(0) === 1L)      // 6 + 0 - 5
    assert(rows(0).getLong(1) === 50L)     // 9 + 16 + 25
    assert(rows(1).getLong(0) === 0L)      // 1e12 - 1e12 (no overflow at 1e6 scale)
    assert(rows(2).isNullAt(0) && rows(2).isNullAt(1)) // null element → null
    assert(rows(3).isNullAt(0))            // length mismatch → null (zip_with pad)
    assert(rows(5).getLong(0) === 0L)      // empty arrays → 0
  }

  test("native shingle/window generators agree with the higher-order " +
       "formulation on every edge shape (empty, short, consecutive spaces, " +
       "leading/trailing space, multi-byte UTF-8, null)") {
    // the historical HOF formulations ARE the spec
    def hofShingles(t: org.apache.spark.sql.Column, n: Int) = {
      val words = split(t, " ")
      when(size(words) >= n,
        transform(sequence(lit(0), size(words) - n),
          i => array_join(slice(words, i + 1, lit(n)), " ")))
        .otherwise(array(array_join(words, " ")))
    }
    def hofWindows(t: org.apache.spark.sql.Column, n: Int) = {
      val words = split(t, " ")
      transform(sequence(lit(0), ceil(size(words).cast("double") / n).cast("int") - 1),
        i => array_join(slice(words, i * n + 1, lit(n)), " "))
    }
    val texts = Seq(
      "one two three four five six", "single", "", "a b", "a  b   c",
      " leading", "trailing ", "  ", "über ñandú 中文 字 emoji 🎉 end",
      "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11", null)
    val df = spark.createDataFrame(
      texts.map(Tuple1(_))).toDF("t").repartition(3)
    Seq(1, 2, 5).foreach { n =>
      val rows = df.select(
        graft.pipeline.Dedup.shingles(col("t"), n).as("sh"),
        hofShingles(col("t"), n).as("sh_hof"),
        graft.pipeline.Dedup.wordWindows(col("t"), n).as("w"),
        hofWindows(col("t"), n).as("w_hof")).collect()
      rows.foreach { r =>
        assert(r.getSeq[String](0) === r.getSeq[String](1), s"shingles n=$n")
        assert(r.getSeq[String](2) === r.getSeq[String](3), s"windows n=$n")
      }
    }
  }

  test("lshBucketSeeded via the DotQ kernel is bit-identical to the " +
       "higher-order-function formulation, including mismatch/null cases") {
    import graft.pipeline.Similarity
    // the pre-kernel formulation: aggregate(zip_with(...)) per plane,
    // with the same md5-derived Rademacher planes
    def hofBucket(qvec: org.apache.spark.sql.Column, nPlanes: Int, dim: Int,
                  seed: Long): org.apache.spark.sql.Column = {
      val planes = Array.tabulate(nPlanes, dim) { (p, d) =>
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$seed|$p|$d".getBytes("UTF-8"))
        if ((h(0) & 1) == 0) 1L else -1L
      }
      (0 until nPlanes).map { p =>
        val w = array(planes(p).map(lit(_)): _*)
        val dot = aggregate(zip_with(qvec, w, (x, y) => x * y),
          lit(0L), (acc, x) => acc + x)
        when(dot > 0, lit(1L << p)).otherwise(lit(0L))
      }.reduce(_ + _)
    }
    val df = spark.sql(
      """SELECT * FROM VALUES
        | (array(3L, -1L, 2L, 7L)),
        | (array(-5L, -5L, -5L, -5L)),
        | (array(0L, 0L, 0L, 0L)),
        | (array(1L, 2L)),
        | (array(1L, 2L, 3L, 4L, 5L, 6L)),
        | (array(9L, CAST(NULL AS BIGINT), 1L, 1L)),
        | (CAST(NULL AS ARRAY<BIGINT>))
        |AS t(v)""".stripMargin)
    Seq((4, 4, 7L), (6, 4, 42L), (1, 4, 0L)).foreach { case (np, dim, seed) =>
      val rows = df.select(
        Similarity.lshBucketSeeded(col("v"), np, dim, seed).as("k"),
        hofBucket(col("v"), np, dim, seed).as("h")).collect()
      rows.foreach { r =>
        val k = if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0))
        val h = if (r.isNullAt(1)) null else java.lang.Long.valueOf(r.getLong(1))
        assert(k === h, s"nPlanes=$np seed=$seed")
      }
    }
  }

  test("graft_dotq / graft_normsq are SQL-addressable via the extension " +
       "descriptors and stay inside whole-stage codegen") {
    GraftExtensions.functions.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }
    val r = spark.sql(
      "SELECT graft_dotq(array(2L, 3L), array(4L, 5L)), graft_normsq(array(3L, 4L))")
      .collect()(0)
    assert(r.getLong(0) === 23L)
    assert(r.getLong(1) === 25L)
    // the scoring expression must not fall out of codegen: the plan's
    // codegen dump contains the kernel call (WholeStageCodegen covers it)
    val plan = spark.sql(
      "SELECT graft_dotq(array(id), array(id + 1)) FROM range(10)")
    val gen = org.apache.spark.sql.execution.debug.codegenString(
      plan.queryExecution.executedPlan)
    assert(gen.contains("VectorKernels.dotQ"))
  }

  test("graft_shingles / graft_word_windows are SQL-addressable with a " +
       "literal width; non-literal width rejected at resolution") {
    GraftExtensions.functions.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }
    val r = spark.sql(
      "SELECT graft_shingles('a b c d', 2), graft_word_windows('a b c d', 3)")
      .collect()(0)
    assert(r.getSeq[String](0) === Seq("a b", "b c", "c d"))
    assert(r.getSeq[String](1) === Seq("a b c", "d"))
    val e = intercept[Exception] {
      spark.sql("SELECT graft_shingles('a b', CAST(rand()*2 AS INT))").collect()
    }
    assert(e.getMessage.contains("literal integer"))
  }

  test("graft_minhash_sigs kernel is bit-identical to the explode+agg md5 " +
       "double-hashing formulation on every edge shape (short doc whole-text " +
       "fallback, empty, consecutive spaces, multi-byte UTF-8; null -> null)") {
    import org.apache.spark.sql.GraftColumnShim.{column, expression}
    // the historical SQL formulation IS the spec (Dedup.minHashSignatures
    // r15 shape, inlined so this pin survives the callee moving to the
    // kernel): one md5 per shingle, h1 = hex chars 1..15, h2m = hex chars
    // 17..31 mod 2^59-1, mh_k = min(h1 + k*h2m)
    def refSigs(df: org.apache.spark.sql.DataFrame, n: Int,
                numHashes: Int): org.apache.spark.sql.DataFrame = {
      val sh = df.select(col("docId"),
        explode(array_distinct(graft.pipeline.Dedup.shingles(col("text"), n)))
          .as("sh"))
        .filter(col("sh").isNotNull)
      val h = md5(col("sh"))
      val h1 = conv(substring(h, 1, 15), 16, 10).cast("long")
      val h2m = conv(substring(h, 17, 15), 16, 10).cast("long") %
        lit(graft.pipeline.Dedup.DoubleHashMod)
      val hashed = sh.select(col("docId"), h1.as("h1"), h2m.as("h2m"))
      val mins = (0 until numHashes).map(k =>
        min(col("h1") + lit(k.toLong) * col("h2m")).as(s"mh$k"))
      hashed.groupBy(col("docId")).agg(mins.head, mins.tail: _*)
    }
    val texts = Seq(
      "one two three four five six", "single", "", "a b", "a  b   c",
      " leading", "trailing ", "  ", "über ñandú 中文 字 emoji 🎉 end",
      "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11", null)
    val df = spark.createDataFrame(
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) })
      .toDF("docId", "text").repartition(3)
    Seq((5, 8), (13, 8), (2, 4), (1, 1)).foreach { case (n, k) =>
      val ker = df.select(col("docId"),
          column(graft.functions.MinHashSigs(expression(col("text")), n, k))
            .as("sig"))
        .filter(col("sig").isNotNull)
        .select(col("docId") +:
          (0 until k).map(i => element_at(col("sig"), i + 1).as(s"mh$i")): _*)
      val ref = refSigs(df, n, k)
      assert(ref.exceptAll(ker).count() === 0, s"ref minus kernel, n=$n k=$k")
      assert(ker.exceptAll(ref).count() === 0, s"kernel minus ref, n=$n k=$k")
      // null text drops out of both formulations
      assert(ker.filter(col("docId") === (texts.size - 1)).count() === 0)
    }
  }

  // ------- r21 gram-bucket kernels: the historical md5-prefix SQL
  // formulations ARE the spec (bucket values are output-defining — the
  // oracle recomputes them), so every kernel is pinned bit-identical -----

  private val gramTexts = Seq(
    "one two three four five six", "single", "", "a b", "a  b   c",
    " leading", "trailing ", "  ", "über ñandú 中文 字 emoji 🎉 end",
    "the the the the", "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11", null)

  private def gramDf = spark.createDataFrame(
    gramTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) })
    .toDF("docId", "text").repartition(3)

  /** the historical bucket: conv(substring(md5(c),1,6),16,10) % B */
  private def refBucket(c: org.apache.spark.sql.Column, buckets: Int) =
    conv(substring(md5(c), 1, 6), 16, 10).cast("long") % buckets

  test("graft_token_buckets / graft_dsir_buckets are bit-identical to the " +
       "explode(split)/explode(unigrams++shingles) md5-prefix formulations " +
       "on every edge shape; null -> dropped by explode") {
    import org.apache.spark.sql.GraftColumnShim.{column, expression}
    Seq(7, 1024).foreach { b =>
      val kerTok = gramDf.select(col("docId"),
        explode(column(graft.functions.TokenBuckets(expression(col("text")), b)))
          .as("v"))
      val refTok = gramDf.select(col("docId"),
          explode(split(col("text"), " ")).as("g"))
        .select(col("docId"), refBucket(col("g"), b).as("v"))
      assert(refTok.exceptAll(kerTok).count() === 0, s"tok ref-ker b=$b")
      assert(kerTok.exceptAll(refTok).count() === 0, s"tok ker-ref b=$b")
      val kerDsir = gramDf.select(col("docId"),
        explode(column(graft.functions.DsirGramBuckets(expression(col("text")), b)))
          .as("v"))
      val refDsir = gramDf.select(col("docId"),
          explode(concat(split(col("text"), " "),
            graft.pipeline.Dedup.shingles(col("text"), 2))).as("g"))
        .select(col("docId"), refBucket(col("g"), b).as("v"))
      assert(refDsir.exceptAll(kerDsir).count() === 0, s"dsir ref-ker b=$b")
      assert(kerDsir.exceptAll(refDsir).count() === 0, s"dsir ker-ref b=$b")
    }
  }

  /** the historical perplexity gram stream: (ctx, g, w) structs over the
    * <s>-prefixed token chain (Perplexity.gramStream r15-r20 shape) */
  private def refGramStream(df: org.apache.spark.sql.DataFrame) = {
    val toks = split(col("text"), " ")
    val arr = concat(array(lit("<s>")), toks)
    df.select(col("docId"),
        explode(transform(sequence(lit(1), size(toks)), j =>
          struct(element_at(arr, j).as("ctx"),
            concat_ws(" ", element_at(arr, j), element_at(arr, j + 1)).as("g"),
            element_at(arr, j + 1).as("w")))).as("p"))
      .select(col("docId"), col("p.ctx"), col("p.g"), col("p.w"))
  }

  test("graft_ce_buckets / graft_kn_buckets pack the exact historical " +
       "(bigram, ctx[, ctx·B+w]) md5-prefix buckets per gram") {
    import org.apache.spark.sql.GraftColumnShim.{column, expression}
    Seq(7, 1024).foreach { b =>
      val kerCe = gramDf.select(col("docId"),
        explode(column(graft.functions.CeGramBuckets(expression(col("text")), b)))
          .as("v"))
      val refCe = refGramStream(gramDf).select(col("docId"),
          explode(array(refBucket(col("g"), b),
            refBucket(col("ctx"), b) + b)).as("v"))
      assert(refCe.exceptAll(kerCe).count() === 0, s"ce ref-ker b=$b")
      assert(kerCe.exceptAll(refCe).count() === 0, s"ce ker-ref b=$b")
      val kerKn = gramDf.select(col("docId"),
        explode(column(graft.functions.KnGramBuckets(expression(col("text")), b)))
          .as("v"))
      val refKn = refGramStream(gramDf).select(col("docId"),
          explode(array(refBucket(col("g"), b),
            refBucket(col("ctx"), b) + b,
            refBucket(col("ctx"), b) * b + refBucket(col("w"), b) + 2L * b))
            .as("v"))
      assert(refKn.exceptAll(kerKn).count() === 0, s"kn ref-ker b=$b")
      assert(kerKn.exceptAll(refKn).count() === 0, s"kn ker-ref b=$b")
    }
  }

  test("graft_bucket_weight_sum: interpreted and codegen'd evaluation agree " +
       "with the plain sum; NULL array -> NULL; long overflow throws like " +
       "ANSI sum") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, InterpretedUnsafeProjection}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    def projections(weights: Array[Long]) = {
      val e = graft.functions.BucketWeightSum(
        BoundReference(0, ArrayType(LongType, containsNull = false), nullable = true),
        weights)
      Seq("interpreted" -> InterpretedUnsafeProjection.createProjection(Seq(e)),
        "codegen" -> GenerateUnsafeProjection.generate(Seq(e)))
    }
    def row(bs: Long*) = InternalRow(new GenericArrayData(bs.toArray))
    val w = Array(-7L, 0L, 3L, 1000000007L, -2L)
    val inputs = Seq(Seq.empty[Long], Seq(2L), Seq(0L, 0L, 4L),
      Seq(3L, 3L, 3L, 1L, 2L), (0 until 50).map(i => (i % 5).toLong))
    projections(w).foreach { case (mode, p) =>
      inputs.foreach { bs =>
        assert(p(row(bs: _*)).getLong(0) === bs.map(b => w(b.toInt)).sum,
          s"$mode $bs")
      }
      assert(p(InternalRow(null)).isNullAt(0), mode)
    }
    projections(Array(Long.MaxValue, 1L)).foreach { case (mode, p) =>
      assert(p(row(0L)).getLong(0) === Long.MaxValue, mode)
      intercept[ArithmeticException](p(row(0L, 1L)))
    }
    // the same overflow under ANSI sum
    val ansi = intercept[Exception](
      spark.range(2).select(when(col("id") === 0, lit(Long.MaxValue))
        .otherwise(lit(1L)).as("v")).agg(sum("v")).collect())
    assert(ansi.getMessage.contains("overflow"), ansi.getMessage)
  }

  test("kernel lnMicro is bit-identical to round(log(x)*1e6, 0) over a " +
       "dense integer battery (the KN float exposure)") {
    // 1..50000 densely, then the large-argument band the den/num terms
    // actually reach (dDen·c·(B²+B) scale)
    val big = Seq(1234567L, 99999999L, 4199040000L, 4294967311L,
      1L << 52, (1L << 53) - 1)
    val df = spark.range(1, 50001).select(col("id"))
      .union(spark.createDataFrame(big.map(Tuple1(_))).toDF("id"))
    val rows = df.select(col("id"),
      round(log(col("id").cast("double")) * 1e6, 0).cast("long").as("r"))
      .collect()
    rows.foreach { r =>
      assert(graft.functions.GramBucketKernels.lnMicro(r.getLong(0)) ===
        r.getLong(1), s"x=${r.getLong(0)}")
    }
  }

  test("fused scorers (token / dsir / ce / ce-pair / kn) reproduce the " +
       "historical explode + table-lookup + groupBy(doc) aggregation " +
       "bit-exactly, including the div and clamp legs; null text drops") {
    import org.apache.spark.sql.GraftColumnShim.{column, expression}
    val b = 11
    // deterministic pseudo-random dense tables exercising negatives,
    // zeros (the cp==0 KN backoff) and the defaults
    def table(seed: Int, mod: Int, shift: Int): Array[Long] =
      Array.tabulate(b)(i => ((i * 2654435761L + seed) % mod) - shift)
    val w = table(1, 1001, 500)
    val lpb = table(2, 300, 0); val lpc = table(3, 300, 0)
    val lpbA = table(4, 300, 0); val lpcA = table(5, 300, 0)
    val cb = table(6, 50, 0); val cc = table(7, 3, 0) // cc hits zeros
    val n1p = table(8, 20, 0); val n1w = table(9, 20, 0)
    val nccB = 117L
    def lnMicroCol(x: org.apache.spark.sql.Column) =
      round(log(x.cast("double")) * 1e6, 0).cast("long")
    def mapOf(a: Array[Long]) =
      typedlit(a.zipWithIndex.map { case (v, i) => i.toLong -> v }.toMap)
    def look(a: Array[Long], k: org.apache.spark.sql.Column) =
      coalesce(element_at(mapOf(a), k), lit(0L))

    // token scorer vs groupBy formulation
    val kerTok = gramDf.select(col("docId"),
        column(graft.functions.HashedTokenScore(expression(col("text")), b, w))
          .as("s"))
      .filter(col("s").isNotNull)
      .select(col("docId"), element_at(col("s"), 1).as("n"),
        element_at(col("s"), 2).as("sum"))
    val refTok = gramDf.select(col("docId"),
        explode(split(col("text"), " ")).as("g"))
      .select(col("docId"), refBucket(col("g"), b).as("bk"))
      .groupBy("docId").agg(count(lit(1)).as("n"),
        sum(look(w, col("bk"))).as("sum"))
    assert(refTok.exceptAll(kerTok).count() === 0 &&
      kerTok.exceptAll(refTok).count() === 0, "token scorer")

    // dsir scorer
    val kerDsir = gramDf.select(col("docId"),
        column(graft.functions.DsirScore(expression(col("text")), b, w)).as("s"))
      .filter(col("s").isNotNull)
      .select(col("docId"), element_at(col("s"), 1).as("n"),
        element_at(col("s"), 2).as("sum"))
    val refDsir = gramDf.select(col("docId"),
        explode(concat(split(col("text"), " "),
          graft.pipeline.Dedup.shingles(col("text"), 2))).as("g"))
      .select(col("docId"), refBucket(col("g"), b).as("bk"))
      .groupBy("docId").agg(count(lit(1)).as("n"),
        sum(look(w, col("bk"))).as("sum"))
    assert(refDsir.exceptAll(kerDsir).count() === 0 &&
      kerDsir.exceptAll(refDsir).count() === 0, "dsir scorer")

    // ce scorer vs the clamped-term groupBy formulation
    val grams = refGramStream(gramDf).select(col("docId"),
      refBucket(col("g"), b).as("bg"), refBucket(col("ctx"), b).as("bc"),
      refBucket(col("w"), b).as("bw"))
    val kerCe = gramDf.select(col("docId"),
        column(graft.functions.CeScore(expression(col("text")), b, lpb, lpc))
          .as("s"))
      .filter(col("s").isNotNull)
      .select(col("docId"), element_at(col("s"), 1).as("n"),
        element_at(col("s"), 2).as("ce"))
    val refCe = grams
      .select(col("docId"),
        greatest(look(lpc, col("bc")) - look(lpb, col("bg")), lit(0L)).as("t"))
      .groupBy("docId").agg(count(lit(1)).as("n"),
        expr("sum(t) div count(1)").as("ce"))
    assert(refCe.exceptAll(kerCe).count() === 0 &&
      kerCe.exceptAll(refCe).count() === 0, "ce scorer")

    // two-model ce scorer
    val kerCe2 = gramDf.select(col("docId"),
        column(graft.functions.CeScorePair(expression(col("text")), b,
          lpb, lpc, lpbA, lpcA)).as("s"))
      .filter(col("s").isNotNull)
      .select(col("docId"), element_at(col("s"), 1).as("n"),
        element_at(col("s"), 2).as("ct"), element_at(col("s"), 3).as("ca"))
    val refCe2 = grams
      .select(col("docId"),
        greatest(look(lpc, col("bc")) - look(lpb, col("bg")), lit(0L)).as("tt"),
        greatest(look(lpcA, col("bc")) - look(lpbA, col("bg")), lit(0L)).as("ta"))
      .groupBy("docId").agg(count(lit(1)).as("n"),
        expr("sum(tt) div count(1)").as("ct"),
        expr("sum(ta) div count(1)").as("ca"))
    assert(refCe2.exceptAll(kerCe2).count() === 0 &&
      kerCe2.exceptAll(refCe2).count() === 0, "ce pair scorer")

    // kn scorer vs the exact-rational + lnMicro formulation (r15-r20
    // Perplexity.crossEntropyKN shape, dNum/dDen = 3/4)
    val (dNum, dDen) = (3, 4)
    val lnB = BigDecimal(math.log(nccB.toDouble) * 1e6)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val kerKn = gramDf.select(col("docId"),
        column(graft.functions.KnScore(expression(col("text")), b,
          cb, cc, n1p, n1w, nccB, lnB, dNum, dDen)).as("s"))
      .filter(col("s").isNotNull)
      .select(col("docId"), element_at(col("s"), 1).as("n"),
        element_at(col("s"), 2).as("ce"))
    val cg = look(cb, col("bg")); val cp = look(cc, col("bc"))
    val n1pC = look(n1p, col("bc")); val n1wC = look(n1w, col("bw"))
    val num = greatest(lit(dDen.toLong) * cg - dNum, lit(0L)) * nccB +
      lit(dNum.toLong) * n1pC * (n1wC + 1L)
    val den = lit(dDen.toLong) * cp * nccB
    val t = greatest(
      when(cp === 0L, lit(lnB) - lnMicroCol(n1wC + 1L))
        .otherwise(lnMicroCol(den) - lnMicroCol(num)),
      lit(0L))
    val refKn = grams.select(col("docId"), t.as("t"))
      .groupBy("docId").agg(count(lit(1)).as("n"),
        expr("sum(t) div count(1)").as("ce"))
    assert(refKn.exceptAll(kerKn).count() === 0 &&
      kerKn.exceptAll(refKn).count() === 0, "kn scorer")
  }

  test("per-execution expressions: FlowUuid matches Spark's uuid() for a " +
       "seed and PerExecution its child, interpreted and codegen'd alike") {
    import org.apache.spark.sql.GraftColumnShim.column
    import org.apache.spark.sql.catalyst.expressions.{Literal, Uuid}
    import org.apache.spark.sql.types.{IntegerType, StringType}
    import graft.functions.{FlowUuid, PerExecution}
    val ts = java.sql.Timestamp.valueOf("2026-01-02 03:04:05.678")
    def rows(): Seq[org.apache.spark.sql.Row] = spark.range(0, 6, 1, 2).select(
        column(FlowUuid(Some(42L))).as("mine"),
        column(Uuid(Some(42L))).as("spark"),
        column(PerExecution(Literal(ts))).as("ts"),
        column(PerExecution(Literal(7))).as("seven"),
        column(PerExecution(Literal(null, StringType))).as("nothing"),
        column(PerExecution(Literal(null, IntegerType))).as("noint"))
      .collect().toSeq
    def withConfs[T](kvs: (String, String)*)(body: => T): T = {
      val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally old.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    val generated = rows()
    val interpreted = withConfs("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(rows())
    assert(generated === interpreted)
    generated.foreach { row =>
      assert(row.getString(0) === row.getString(1))
      assert(row.getTimestamp(2) === ts)
      assert(row.getInt(3) === 7)
      assert(row.isNullAt(4) && row.isNullAt(5))
    }
    assert(generated.map(_.getString(0)).distinct.size === 6)
  }

  test("a fresh frame over FlowFrame.entryTime and newUuid generates the " +
       "same code as the last one, with new values; current_timestamp() " +
       "and uuid() compile again") {
    import graft.core.FlowFrame
    def run(c: () => Seq[org.apache.spark.sql.Column]): (Long, Array[(String, Long)]) = {
      val c0 = Dev.compiles()
      val rows = spark.range(0, 4, 1, 2).select(c(): _*)
        .collect().map(r => (r.getString(0), r.getTimestamp(1).getTime))
      (Dev.compiles() - c0, rows)
    }
    val flow = () => Seq(FlowFrame.newUuid, FlowFrame.entryTime)
    run(flow)
    Thread.sleep(5)
    val (_, first) = run(flow)
    Thread.sleep(5)
    val (compiled, second) = run(flow)
    assert(compiled === 0)
    assert(first.map(_._1).intersect(second.map(_._1)).isEmpty)
    assert(second.map(_._2).distinct.length === 1)
    assert(second.head._2 > first.head._2)
    val raw = () => Seq(expr("uuid()"), current_timestamp())
    run(raw)
    Thread.sleep(5)
    assert(run(raw)._1 > 0)
  }
}
