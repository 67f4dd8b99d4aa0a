package graft

import scala.collection.immutable.ListMap
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Benchmark main — runs the headline queries on SPARK_GRAFT_SF_DIR and
 * prints one JSON line {"metric":...,"queries":{...}}. The headline set
 * covers one representative per operator family (agg, route/explode,
 * split+merge round trip, incremental pull, dedup LSH, ANN, text analysis)
 * rather than all registered queries, so the number tracks engine throughput
 * instead of oracle-surface size.
 */
object Bench {
  val headline: Seq[String] = Seq(
    "execute_sql", "rolling_window_time", "route_text", "merge_content",
    "query_database_table", "dedup_minhash_lsh", "embed_topk", "token_count",
    "pipeline_e2e")

  /** Dedup queries re-measured on a degenerate corpus (below): the rows
    * that prove the salt caps / keeper aggregates hold under mass
    * duplication instead of only on the uniform synthetic data. */
  val skewed: Seq[String] = Seq(
    "dedup_minhash_lsh", "dedup_minhash_lsh_capped", "dedup_segments",
    "pipeline_e2e",
    // r15: 30% identical docs make every paragraph window of the mass a
    // single hot segment — the bloom probe stays map-side and the keeper
    // min-agg collapses the mass before its shuffle (the dedup_segments
    // skew argument, now measured on the bloom plane too)
    "dedup_paragraphs_bloom",
    // r15: the 30% mass puts boilerplate terms (df ≈ 30%) in ~a third
    // of the queries — every such query's candidate set becomes the
    // whole mass, and the per-qid rank windows eat it. The capped twin
    // (df cap 20% < the mass's 30%) drops those terms from scoring, so
    // the pair brackets the stop-word funnel like the capped-LSH pair
    "bm25_topk", "bm25_topk_capped",
    // r16: SoftDedup on 30% identical docs — the content-hash window
    // funnels the mass into ONE partition's count; the row proves that
    // tail is a linear scan, not a blow-up (the dedup_segments argument
    // on the soft plane)
    "dedup_soft")

  /**
   * Derive a mass-duplicated variant of the sf documents table and stage it
   * as parquet so the skewed rows read from disk exactly like the uniform
   * rows: 30% of docs are replaced with ONE identical text (every LSH band
   * bucket, content hash, and segment set collides for that mass), and one
   * hot 20-word sentence is appended to EVERY doc (a single shingle/segment
   * with document frequency = |corpus|). This is the adversarial shape the
   * salt caps (Dedup.minHashLshPairs), keeper aggregates (Dedup.exact,
   * dedupSegments) and shingle df-caps are designed for.
   */
  private def stageSkewed(spark: SparkSession, sfDir: String): String = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft-bench-skew"
    val hot = (1 to 20).map(i => s"hotword$i").mkString(" ")
    val dupText = ("mass duplicated boilerplate sentence " * 12).trim
    // Duplicate in GROUPS (~10 copies of each of 149 texts at sf0.1), not as
    // one corpus-wide text: near-dup candidate pairs are inherently
    // quadratic per duplicate group, so a single 1500-doc group *correctly*
    // emits ~1.1M pairs — 10,000× the uniform output — which would measure
    // output volume, not plan robustness. (Exact dedup, which runs before
    // LSH in the composed pipeline, is the designed collapse for that case.)
    spark.read.parquet(s"$sfDir/documents.parquet")
      .withColumn("text",
        concat(when(col("doc_id") % 10 < 3,
            concat(lit(dupText + " variant "), (col("doc_id") % 149).cast("string")))
          .otherwise(col("text")), lit(" " + hot)))
      .write.mode(SaveMode.Overwrite).parquet(s"$out/documents.parquet")
    out
  }

  /** Queries re-measured across a scale decade (below): the rows that turn
    * the 100 TB plan claims into measured evidence — near-linear x10 wall
    * time means no stage is quadratic, single-reducer, or driver-bound. */
  val x10: Seq[String] = Seq(
    "dedup_minhash_lsh", "dedup_segments", "pipeline_e2e", "shuffle_export",
    "embed_topk", "embed_neardup", "embed_topk_lsh", "tfidf_topk",
    "curate_filters_map",
    // the consonant rotation preserves duplicate STRUCTURE (both members
    // of a duplicated span rotate identically per replica), so duplicated
    // windows scale exactly 10× (probed: 10,533 → 105,330 dup keys at
    // sf0.1) and stay disjoint across replicas. NOTE the measured pair is
    // fixed-cost-dominated on this corpus of short docs (~0.13 s at both
    // scales on 32 cores — ~2.7M windows is tiny); the row's value is the
    // REGRESSION GUARD: any quadratic span stage would inflate the x10
    // side immediately
    "dedup_substrings",
    // bucket table stays 1024 rows at ANY corpus size — the scale story
    // is the bounded-state aggregation; per-gram work is linear
    "dsir_weights",
    // same bounded-LM design as dsir_weights (≤2·1024-row model, map-side
    // lookup, one groupBy(doc)); per-bigram work is linear, both LM
    // histograms come from ONE reference pass, and the tertile cutpoints
    // are one rank-condition job over the reference score histogram
    "perplexity_buckets",
    // corpus pass is one word-frequency agg; the merge rounds (64
    // merges in 8 batched-greedy rounds since r15) run on the
    // distinct-word table (Zipf-bounded, grows sublinearly with the
    // corpus) — wall should track the corpus scan, not the loop
    "bpe_train",
    // deep-vocabulary BPE (r16): 512 merges in 20 rounds over the
    // construction-bounded ~6k-word derived vocabulary — the pair is the
    // round-bounded (not merge-bounded) growth evidence: both sides pay
    // the same 20 driver round trips, so the x10 delta should be pure
    // corpus-scan growth in the word-frequency agg
    "bpe_train_512",
    // unigram-LM train (r15): same bounded-loop class as bpe_train —
    // the corpus pass is one word-frequency agg, both EM rounds run on
    // the Zipf-bounded distinct-word table with ≤122-row vocab metadata
    "unigram_train",
    // D4 prototype pruning: broadcast assignment + rank window per
    // cluster, no pair enumeration — linear in rows at fixed k
    "dedup_prototypes",
    // PQ ANN (r15): codebooks are driver metadata, encoding map-side,
    // ADC tables ride the broadcast query side — candidate scoring
    // reads m code ints per corpus row, so the x10 side should track
    // the (much smaller) scan, not the pair count
    "embed_topk_pq",
    // GPT-3 quality filter (r15): ONE bounded training agg + one
    // map-side scoring pass + groupBy(doc) — the dsir_weights shape,
    // so the pair should scale with the token explode, near-linearly
    "quality_filter_pareto",
    // IVF-PQ (r15): the index build (coarse Lloyd + residual-PQ Lloyd)
    // is a fixed number of bounded jobs, so the x10 side should be
    // dominated by the probed-cell code scan — strongly sublinear
    "embed_topk_ivfpq",
    // CMS + HLL (r15): both sketches aggregate into config-bounded state
    // (4096 cells / 1024 registers) via map-side partials — the x10 side
    // should track the token-explode scan linearly with no growth in
    // shuffle or driver state
    "sketch_cms", "sketch_hll",
    // DoReMi (r15): the proxy-loss pass is the shared perplexity chain
    // (its scale pair lives in perplexity_buckets); the DRO loop itself
    // runs on ≤|domains| rows of collected metadata, so the x10 delta
    // should be pure scoring-pass growth
    "doremi_weights",
    // Dolma paragraph dedup (r15): bloom probe map-side + the
    // dedupSegments keeper/join/reassembly shapes — linear in segments
    "dedup_paragraphs_bloom",
    // k-means|| (r15): a fixed number of corpus passes against a
    // bounded candidate broadcast — the x10 side should track the scan
    "kmeans_parallel_init",
    // example export (r15): one per-token shuffle on exampleId — the
    // export's inherent volume; the pair should scale with token count
    "export_examples",
    // SlimPajama (r15): unlike the other compositions this one is NOT
    // content-sensitive (no langid markers, no stop-word rules — NFC is
    // content-independent, the 200-char gate is length-preserved by the
    // rotation, and the in-query clones scale 10× because rep-0 ids are
    // exactly the doc_id%10==0 set), so the full e2e carries a real
    // scale pair: expect the LSH stages to dominate, near-linearly
    "slimpajama_e2e",
    // Kneser-Ney perplexity (r15): the perplexity_buckets shape with a
    // bigger bounded model (three ≤B-row maps from one tagged reference
    // pass) — per-gram work is a lookup chain + two codegen'd lns, so
    // the pair should track the gram explode linearly
    "perplexity_kn",
    // BM25 (r15): queries (doc_id % 101) and corpus both grow 10×, but
    // the broadcast term semi-join keeps every shuffle on the
    // query-matching sliver — expect near-linear from the scan + sliver
    "bm25_topk",
    // WordPiece (r15): the bpe_train class — one corpus pass, 16
    // merges in 4 batched-greedy likelihood rounds on the Zipf-bounded
    // distinct-word table; wall should track the corpus scan, not the
    // merge loop
    "wordpiece_train",
    // source-overlap sketches (r15): aggregate state is |sources|·256
    // longs at ANY corpus size and the pair join reads only the sketch —
    // the x10 side should be pure shingle-scan growth
    "source_overlap",
    // trained logistic classifier (r15): the corpus is tokenized ONCE
    // into staged per-doc bucket arrays; each GD epoch is one
    // bucket-keyed aggregate over them (≤ buckets+1 groups collected) —
    // the pair should track the token pass and the per-epoch array scan
    "quality_logistic",
    // SQ8 ANN (r16): one scalar agg for the scale + the embed_topk
    // broadcast-query scoring shape on codes — the pair should track
    // embed_topk, with the encode riding the scan
    "embed_topk_sq8",
    // cluster-balanced sample (r16): broadcast assignment + ONE rank
    // window keyed on the cluster id — linear in rows at fixed k
    "cluster_sample",
    // SoftDedup (r16): one content-hash window, no join back — the
    // cheapest dedup-family pass; the pair should be pure scan+exchange
    "dedup_soft",
    // winnowing (r16): doc-keyed exchange + two window passes over the
    // same per-doc sort — the pair should scale with the shingle explode
    "winnow_fingerprints",
    // TinyLlm inference (r19): per-row int64 forward pass + greedy decode
    // riding the scan — content-INsensitive (fixed steps × context × d²
    // work per doc regardless of text), so the pair is a clean linear-
    // scaling row for the new REAL-inference plane
    "llm_inference")

  /** Measured at the uniform sf corpus only: the composed filter chain is
    * CONTENT-sensitive (stop-word and punctuation rules), and the x10
    * corpus's consonant rotation changes survivor counts 10× — an
    * x10 pair would measure corpus content shift, not scale (probed:
    * 142 vs 1433 survivors, inverted wall times). Its map-side prefix
    * (curate_filters_map: per-doc keep flags, no dedup) does the same
    * per-row work regardless of content, so THAT row carries the scale
    * pair in the x10 set. ccnet_e2e is content-sensitive the same way
    * (the consonant rotation strips the LID marker tokens, emptying the
    * predicted-en set at x10), so it is measured uniform-only too; its
    * stages' scale pairs live in dedup_segments and perplexity_buckets.
    * gpt3_e2e likewise (rotation moves the classifier's vocabulary and
    * so the survivor counts); its stages' pairs live in
    * quality_filter_pareto, dedup_minhash_lsh, and decontaminate. */
  val extra: Seq[String] = Seq("curate_filters_e2e", "ccnet_e2e", "gpt3_e2e",
    // r15: the Dolma and FineWeb compositions are content-sensitive the
    // same way (the rotation moves langid markers and filter survivor
    // sets), so uniform-only; their stages' scale pairs live in
    // dedup_paragraphs_bloom / dedup_minhash_lsh / curate_filters_map
    "dolma_e2e", "fineweb_e2e",
    // r15: DCLM is content-sensitive through its classifier (the
    // rotation moves the trained vocabulary and so the decile), so
    // uniform-only; its stages' scale pairs live in quality_logistic's
    // epochs (perplexity-class), dedup_paragraphs_bloom, and
    // curate_filters_map
    "dclm_e2e")

  /** Stage-once marker protocol shared by the staging helpers: ONE marker
    * may exist per staging dir. The dir's content is mutually exclusive
    * across scale factors (each restage OVERWRITES it), so a marker is
    * only trustworthy if every restage first deletes all other markers —
    * without that, running sf A then sf B then sf A again leaves A's stale
    * marker pointing at B's content (observed: an sf0.1 bench measuring
    * its x10 rows on the 10× corpus of sf0.01 — 10× smaller than claimed). */
  private def stageOnce(out: String, key: String)(stage: => Unit): Unit = {
    val dir = new java.io.File(out)
    val marker = new java.io.File(dir, ".staged3-" +
      java.lang.Long.toHexString(key.hashCode.toLong & 0xffffffffL))
    if (!marker.exists()) {
      Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith(".staged"))
        .foreach(_.delete())
      stage
      marker.createNewFile()
    }
  }

  /**
   * Stage a 10× corpus: the sf documents table replicated 10 times with
   * distinct ids (docId*10+rep). Replica texts are made DISJOINT documents
   * via a per-replica consonant rotation (`translate`), not near-copies:
   * replicating verbatim (or with a token appended) would hand LSH 10-doc
   * near-dup groups everywhere, and the measurement would track the
   * quadratic pair OUTPUT of a mass-duplicated corpus — that adversarial
   * shape is what the skew_* rows measure. The x10 rows answer a different
   * question: does wall time stay ~linear when a UNIFORM corpus grows 10×?
   * The rotation is codegen'd, content-deterministic, and keeps word/space
   * structure (token counts, shingle counts, segment windows all scale
   * exactly 10×); rep 0 is the original text.
   */
  private def stageX10(spark: SparkSession, sfDir: String): String = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft-bench-x10"
    stageOnce(out, sfDir) {
      val base = spark.read.parquet(s"$sfDir/documents.parquet")
      val alpha = "bcdfghjklmnpqrstvwxz" // consonants: rotation keeps vowels,
      // so rotated text still looks like words (segment/shingle shapes hold)
      val reps = (0 until 10).map { r =>
        val rot = alpha.drop(r) + alpha.take(r)
        base.select(
          (col("doc_id") * 10 + lit(r)).as("doc_id"),
          (if (r == 0) col("text")
           else translate(col("text"), alpha, rot)).as("text"),
          col("lang"), col("source"), col("n_chars"))
      }
      reps.reduce(_ unionAll _)
        .write.mode(SaveMode.Overwrite).parquet(s"$out/documents.parquet")
      // 10× embeddings for the ANN rows: replica r circularly shifts the
      // vector by r positions — same norm, distinct direction, so replicas
      // are DISJOINT points (not near-dups; same rationale as the text
      // rotation above). rep 0 keeps the original vector, and the query
      // subset (vec_id % 100 = 0) stays 1% of the corpus under id*10+rep.
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val embReps = (0 until 10).map { r =>
        emb.select(
          (col("vec_id") * 10 + lit(r)).as("vec_id"),
          (if (r == 0) col("embedding")
           else concat(slice(col("embedding"), r + 1, Int.MaxValue),
                       slice(col("embedding"), 1, r))).as("embedding"),
          col("label"))
      }
      embReps.reduce(_ unionAll _)
        .write.mode(SaveMode.Overwrite).parquet(s"$out/embeddings.parquet")
    }
    out
  }

  /**
   * Long-doc variant for the EXACTSUBSTR pair (r13 verdict: the 1×/x10
   * dedup_substrings rows were fixed-overhead-dominated — ~0.2M windows
   * at sf0.1 is far below the ~0.1 s job-scheduling floor, so the 10×
   * corpus measured as fast as 1× and the pair proved nothing). Each doc
   * becomes the concatenation of `reps` sections, section j the doc's own
   * text with every token suffixed `_j` — token count ×`reps`, window
   * count ×`reps`, while duplicate STRUCTURE is preserved and scales
   * linearly: a span duplicated between docs A and B is duplicated
   * between their section-j copies, sections of one doc never collide
   * with each other, and (unlike a consonant-rotation family, whose
   * members COMPOSE with the x10 corpus's rotation — rot_j∘rot_r =
   * rot_{j+r} made every x10 replica pair share whole sections, an
   * accidental mass-duplication corpus) the suffix commutes with nothing.
   * With the window explode finally dominating, the longdoc 1×/x10 pair
   * is the scale evidence for the distributed EXACTSUBSTR formulation.
   */
  private[graft] def stageLongDocs(spark: SparkSession, docsDir: String,
                            tag: String, reps: Int = 16,
                            contentKey: String = ""): String = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft-bench-long-$tag"
    stageOnce(out, docsDir + "|" + contentKey + s"|$reps|v3") {
      val base = spark.read.parquet(s"$docsDir/documents.parquet")
      val long = concat_ws(" ", (0 until reps).map { r =>
        regexp_replace(col("text"), "(\\S+)", "$1_" + r)
      }: _*)
      base.select(col("doc_id"), long.as("text"), col("lang"),
        col("source"), col("n_chars"))
        // spread over 32 files: a staged corpus inherits its INPUT's file
        // count otherwise (the sf fixture is one row group → the 1× long
        // corpus exploded on ONE core while the x10 one, staged from 10
        // unioned files, got 10 — the r14 pair measured parallelism, not
        // data cost)
        .repartition(32)
        .write.mode(SaveMode.Overwrite).parquet(s"$out/documents.parquet")
    }
    out
  }

  /**
   * Mass-duplicated EXACTSUBSTR corpus (r15, the verdict's missing skew
   * row): one FIXED 24-token span appended to 30% of the long-doc
   * corpus's docs — its 17 interior 8-token windows each hash to a key
   * carried by ~0.3·|docs| copies (≈1,500 at sf0.1), the adversarial
   * shape for duplicate detection. The r14 `count().over(partitionBy(h))`
   * funneled every copy of such a key through one un-splittable reducer;
   * the r15 agg+join detection collapses them map-side before the
   * shuffle and lets AQE split the probe. (Boundary windows mixing doc
   * text with the span differ per doc — only the interior windows are
   * the hot mass, which is the point.)
   */
  private[graft] def stageSubstrSkew(spark: SparkSession, longDir: String,
                              contentKey: String): String = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft-bench-substrskew"
    stageOnce(out, longDir + "|" + contentKey) {
      val hot = (1 to 24).map(i => s"dupspan$i").mkString(" ")
      spark.read.parquet(s"$longDir/documents.parquet")
        .withColumn("text", when(col("doc_id") % 10 < 3,
          concat(col("text"), lit(" " + hot))).otherwise(col("text")))
        .write.mode(SaveMode.Overwrite).parquet(s"$out/documents.parquet")
    }
    out
  }

  /** Mass-duplication EXACTSUBSTR corpus (r16): 30% of the sf documents
    * gain the SAME token repeated ~10,800 times, so every interior
    * 8-window is ONE key carried by ~0.3·|docs|·10,745 copies (~48M at
    * sf0.1) — the single-hot-key funnel the dedupSubstrings
    * hotKeyThreshold salt exists for: unsalted, the count window drags
    * every copy through ONE task (a 24-distinct-key variant measured
    * BALANCED across 32 cores — no funnel, so the salt could only
    * lose); salted, the key splits into ~240 sub-partitions. */
  private[graft] def stageMassDup(spark: SparkSession, sfDir: String): String = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft-bench-massdup"
    stageOnce(out, sfDir + "|onekey2") {
      val rep = " massspan" * (448 * 24)
      spark.read.parquet(s"$sfDir/documents.parquet")
        .withColumn("text", when(col("doc_id") % 10 < 3,
          concat(col("text"), lit(rep))).otherwise(col("text")))
        .repartition(32)
        .write.mode(SaveMode.Overwrite).parquet(s"$out/documents.parquet")
    }
    out
  }

  /** Degenerate-cluster embedding corpus (see the skew_dedup_semantic
    * rows in main): 70% of vectors become ONE exact direction.
    * `contentKey` must carry the UPSTREAM content identity when sfDir is
    * a fixed staging path (r16 verdict: the marker keyed on the constant
    * x10 tmp path, so an sf change left a stale, smaller skew corpus —
    * the r15 skew-semantic numbers were measured on it; the
    * stageTailCorpus fix applied here). */
  private[graft] def stageEmbSkew(spark: SparkSession, sfDir: String,
                                  tag: String = "",
                                  contentKey: String = ""): String = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft-bench-embskew$tag"
    stageOnce(out, sfDir + "|" + contentKey) {
      val dim = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .selectExpr("size(embedding) AS d").head().getInt(0)
      val hot = array((0 until dim).map(i =>
        lit(if (i == 0) 1.0f else 0.001f * i)): _*)
      spark.read.parquet(s"$sfDir/embeddings.parquet")
        .withColumn("embedding",
          when(col("vec_id") % 10 < 7, hot).otherwise(col("embedding")))
        .write.mode(SaveMode.Overwrite).parquet(s"$out/embeddings.parquet")
    }
    out
  }

  /**
   * Stage a multi-file log corpus for the streaming row from a directory's
   * documents table: each document becomes a `<doc_id>`-headed message
   * split across 12-word continuation lines, hash-spread over 32 log
   * files with per-file contiguity (repartition by doc + partition-local
   * sort), so the tail source gets real per-file parallelism and the
   * defragment state real per-source reassembly work.
   *
   * `mult` replicates each document into that many distinct messages
   * (distinct header ids, identical bodies — splitting and reassembly are
   * content-insensitive, so replicas are valid THROUGHPUT work, unlike
   * the dedup rows' corpora). Round-11 finding: at mult=1 the drain was
   * fixed-overhead-dominated — the 10× corpus drained as fast as 1×
   * (1.095 vs 1.091 s), proving nothing about per-row cost. The measured
   * rows stage ~30× more lines so data cost dominates and the 1×/x10
   * pair separates.
   */
  private def stageTailCorpus(spark: SparkSession, docsDir: String,
                              tag: String, mult: Int = 1,
                              contentKey: String = ""): String = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft-bench-tail-$tag"
    // the marker keys on the CONTENT identity (docsDir + upstream sf),
    // not only the path: the staged-x10 dir keeps one fixed path across
    // scale factors, so a path-keyed marker silently reuses the previous
    // SF's corpus (observed: an sf0.1 run draining the sf0.01-staged 10×
    // corpus). stageOnce also invalidates other SFs' markers on restage.
    stageOnce(out, docsDir + "|" + contentKey) {
      val docs0 = spark.read.parquet(s"$docsDir/documents.parquet")
      val docs =
        if (mult == 1) docs0
        else docs0
          .withColumn("rep", explode(sequence(lit(0), lit(mult - 1))))
          .select((col("doc_id") * mult + col("rep")).as("doc_id"),
            col("text"))
      val words = split(col("text"), " ")
      val nWin = greatest(ceil(size(words) / lit(12.0)).cast("int"), lit(1))
      val wins = transform(sequence(lit(0), nWin - 1),
        i => array_join(slice(words, i * lit(12) + 1, lit(12)), " "))
      docs.select(col("doc_id"), posexplode(wins).as(Seq("pos", "win")))
        .select(col("doc_id"), col("pos"),
          when(col("pos") === 0,
            concat(lit("<"), col("doc_id").cast("string"), lit("> "), col("win")))
            .otherwise(col("win")).as("value"))
        .repartition(32, col("doc_id"))
        .sortWithinPartitions("doc_id", "pos")
        .select("value")
        .write.mode(SaveMode.Overwrite).text(s"$out/logs")
    }
    s"$out/logs"
  }

  /**
   * One measured streaming drain: a MiNiFi flow, TailFile in Multiple-file
   * mode over the staged log files → DefragmentText (one message per
   * `<id>` header, flatMapGroupsWithState keyed per tailed file), run by
   * [[graft.flow.FlowStreaming.run]] into the relationship-partitioned
   * sink and drained to completion. Fresh checkpoint + sink per rep so
   * every rep tails the full corpus from offset zero. Timed by the bench's
   * one rep loop, so the row value is wall seconds for the drain, same
   * unit as the batch rows; lines/value is the implied rows/s.
   */
  private[graft] def tailDrain(spark: SparkSession, corpus: String): Unit = {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft-bench-tailrun-" +
      java.util.UUID.randomUUID
    val flow = graft.flow.FlowConfig.parse(
      s"""MiNiFi Config Version: 3
         |Processors:
         |- name: tail
         |  id: tail
         |  class: org.apache.nifi.minifi.processors.TailFile
         |  Properties:
         |    tail-mode: Multiple file
         |    tail-base-directory: $corpus
         |    File to Tail: .*\\.txt
         |- name: defrag
         |  id: defrag
         |  class: org.apache.nifi.minifi.processors.DefragmentText
         |  Properties:
         |    Pattern: "<[0-9]+>"
         |Connections:
         |- {id: c1, source id: tail, source relationship names: [success], destination id: defrag}
         |""".stripMargin)
    graft.flow.FlowStreaming.run(spark, flow, s"$base/out", s"$base/ckpt").stop()
  }

  /** Replicated corpus for the streaming near-dup drain: `mult` copies
    * of each document with every token suffixed by the replica id —
    * DISJOINT shingles across replicas (identical-body replicas would
    * make every replica pair a 1.0 near-dup and the drain would measure
    * hit OUTPUT volume, the stageSkewed anti-pattern; a token suffix
    * preserves within-replica near-dup structure and multiplies only
    * the banding/state work). Round-11 tail lesson applied here: at
    * mult=1 both drains sat on the ~5 s streaming fixed floor and the
    * 1×/x10 pair proved nothing. */
  private[graft] def stageNearDupCorpus(spark: SparkSession, docsDir: String,
                                        tag: String, mult: Int,
                                        contentKey: String = ""): String = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft-bench-nd-$tag"
    stageOnce(out, docsDir + "|" + contentKey + s"|$mult") {
      spark.read.parquet(s"$docsDir/documents.parquet")
        .withColumn("rep", explode(sequence(lit(0), lit(mult - 1))))
        .select((col("doc_id") * mult + col("rep")).as("doc_id"),
          regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("$1_"), col("rep").cast("string"))).as("text"))
        .repartition(32)
        .write.mode(SaveMode.Overwrite).parquet(s"$out/documents.parquet")
    }
    out
  }

  /** One measured streaming near-dup drain (r16 verdict #8: the
    * streaming dedup claim gets a bench row like the batch one): parquet
    * file-stream over the documents table → bandDocs (map-side MinHash
    * banding at the batch dedup_minhash_lsh parameters) → stateful
    * detectNearDuplicates (flatMapGroupsWithState, bucket state capped
    * at 150 signatures — bounded bytes at ANY corpus size) → noop sink,
    * drained with AvailableNow. Fresh checkpoint per rep so every rep
    * processes the full corpus from offset zero. Timed by the bench's
    * one rep loop, like [[tailDrain]]. */
  private[graft] def neardupDrain(spark: SparkSession, docsDir: String): Unit = {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft-bench-ndrun-" +
      java.util.UUID.randomUUID
    val schema = spark.read.parquet(s"$docsDir/documents.parquet").schema
    // stageNearDupCorpus writes documents.parquet as a DIRECTORY of part
    // files, which the file-stream source lists (it needs a directory path)
    val docs = spark.readStream.schema(schema).parquet(s"$docsDir/documents.parquet")
    val banded = graft.streaming.StatefulOps.bandDocs(docs, col("doc_id"),
      col("text"), col("doc_id"), n = 5, numHashes = 8, rowsPerBand = 2)
    val hits = graft.streaming.StatefulOps.detectNearDuplicates(banded,
      maxBucket = 150, minEstJaccard = 0.5)
    val q = hits.writeStream.format("noop")
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** A corpus directory, staged on first use and then reused. Its name
    * tells the uniform sf corpus ("sf") from the staged ones without
    * staging anything. */
  final class Corpus(val name: String, stage: => String) {
    lazy val dir: String = stage
  }

  /** A throughput row: `name` = the basis `count`ed over the row's corpus
    * divided by the row's min. */
  final case class Basis(name: String, count: String => Long)

  /** One bench step, in run order. */
  sealed trait Step

  /** An unmeasured pass; [[run]] logs its failure and goes on. */
  final case class Warm(tag: String, body: () => Unit) extends Step

  /** A measured row: `reps` traced runs of `body` over the corpus dir,
    * which is staged before the clock starts. */
  final case class Row(name: String, corpus: Corpus, reps: Int,
                       body: String => Unit, headline: Boolean = false,
                       basis: Option[Basis] = None) extends Step

  /** A published row: its reps (barrier plans dropped) and its throughput,
    * if it has a basis. */
  final case class Measured(row: Row, reps: Seq[Dev.Trace],
                            throughput: Option[(String, Double)]) {
    def times: Seq[Double] = reps.map(_.wallS)
    /** The rep that set the row's min; its jobs, compiles and segments
      * are the row's record. */
    def best: Dev.Trace = reps.minBy(_.wallS)
  }

  /** A row that published no number, with the first line of its first
    * error. */
  final case class Failed(row: Row, error: String)

  final case class Report(rows: Seq[Measured], failed: Seq[Failed]) {
    /** The headline-subset sum (the stable round-over-round unit), unless a
      * headline row failed: a partial sum would read as a faster run. */
    def value: Option[Double] =
      if (failed.exists(_.row.headline)) None
      else Some(rows.filter(_.row.headline).map(_.best.wallS).sum)

    /** The sum over every row, unless any row failed. */
    def sumAllRows: Option[Double] =
      if (failed.nonEmpty) None else Some(rows.map(_.best.wallS).sum)

    private def head = ListMap("metric" -> "headline_sum", "value" -> value,
      "unit" -> "sec", "sum_all_rows" -> sumAllRows)
    private def secs(rs: Seq[Measured]) =
      ListMap.from(rs.map(m => m.row.name -> m.best.wallS))
    // throughput rows live in their own section with an explicit unit:
    // every row in `queries` is seconds
    private def throughput = ListMap.from(rows.flatMap(_.throughput)
      .map { case (k, v) => k -> math.round(v) })
    private def failedRows = ListMap.from(failed.map(f => f.row.name -> f.error))

    /** The full record. `spread` keeps min (the published point estimate)
      * with the med/max band one run actually spans, so a cross-run delta
      * can be judged against a measured band; `trace` holds the jobs,
      * Janino compiles and segments of the rep that set each row's min. */
    def json(sf: String): String = js(head ++ ListMap(
      "queries" -> secs(rows),
      "spread" -> ListMap.from(rows.map(m => m.row.name -> ListMap("min" -> m.times.min,
        "med" -> median(m.times), "max" -> m.times.max, "reps" -> m.times.size))),
      "throughput" -> ListMap("unit" -> "per_sec (suffix carries the basis)",
        "rows" -> throughput),
      "trace" -> ListMap.from(rows.map(m => m.row.name -> ListMap("jobs" -> m.best.jobs,
        "compiles" -> m.best.compiles, "segments" -> m.best.segments.map(s => ListMap(
          "label" -> s.label, "wall_ms" -> s.wallMs, "jobs" -> s.jobs))))),
      "failed_rows" -> failedRows, "sf" -> sf))

    /** The compact last line: totals, throughput, the ten slowest rows and
      * the failed rows, well under a 2 KB tail window. */
    def summary(sf: String): String = js(head ++ ListMap("sf" -> sf,
      "rows" -> rows.size, "full" -> "BENCH_LATEST.json", "throughput" -> throughput,
      "top10" -> secs(rows.sortBy(-_.best.wallS).take(10)), "failed_rows" -> failedRows))
  }

  private def median(ts: Seq[Double]): Double = {
    val s = ts.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** JSON text: maps keep their order, None is null, doubles print with
    * three decimals. */
  private[graft] def js(v: Any): String = v match {
    case None => "null"
    case Some(x) => js(x)
    case d: Double => f"$d%.3f"
    case m: ListMap[_, _] =>
      m.map { case (k, x) => js(k) + ":" + js(x) }.mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(js).mkString("[", ",", "]")
    case s: String => s.iterator.map {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    }.mkString("\"", "", "\"")
    case x => x.toString
  }

  /** The one measured loop: every rep of every row runs through Dev's
    * tracer ([[Dev.measure]]). A failed warm-up is logged and the run goes
    * on: the row's measured reps then fail on their own and land in
    * failed_rows, instead of one warm-up killing every row. */
  def run(spark: SparkSession, steps: Seq[Step]): Report = {
    val (failed, rows) = steps.flatMap {
      case Warm(tag, body) =>
        try body()
        catch { case e: Throwable => System.err.println(s"[bench] warm $tag: $e") }
        None
      case r: Row => Some(measure(spark, r))
    }.partitionMap(identity)
    Report(rows, failed)
  }

  /** One row, its corpus staged before the clock starts. A row whose
    * corpus, rep or basis fails publishes nothing. */
  private def measure(spark: SparkSession, r: Row): Either[Failed, Measured] =
    (for {
      dir <- scala.util.Try(r.corpus.dir).toEither
      reps <- Dev.measure(spark, r.reps)(r.body(dir))(t =>
        t.copy(segments = t.segments.map(_.copy(barrier = None))))
      tp <- scala.util.Try(r.basis.map(b =>
        b.name -> b.count(dir) / reps.map(_.wallS).min)).toEither
    } yield Measured(r, reps, tp)).left.map { e =>
      System.err.println(s"[bench] ${r.name}: $e")
      Failed(r, e.toString.linesIterator.nextOption().getOrElse("").take(200))
    }

  /** Every bench step, in run order. Corpora are staged on first use, so
    * each staging write lands right before the first step that reads it. */
  def steps(spark: SparkSession, sfDir: String): Seq[Step] = {
    import graft.pipeline.{Similarity, Staging}
    // Warm EVERY benched query shape once at the smallest scale before
    // measuring: profiled cold-vs-warm (`graft.Dev time`, sf0.1) shows 5-7 s
    // of one-time codegen compile + classloading per distinct query shape
    // vs 0.8-1.8 s steady-state. A cluster run amortizes that one-time cost
    // over hours, so the number that predicts 100 TB throughput is the warm
    // pass. The warm-up runs at sf0.01 — an order of magnitude below the
    // measured scale, so no target-scale data is pre-cached, but with enough
    // task volume that the JIT actually tiers the generated code (one pass
    // at sf0.001 measured insufficient: the measured pass still paid
    // compile). Non-headline rows are warmed too: a row whose first
    // measured rep pays codegen compile publishes an inverted 1×-vs-x10
    // pair (observed: a cold 1× row slower than its warm x10 row).
    val warmDir = "/root/testdata/sf0.01"
    val sf = new Corpus("sf", sfDir)
    // Staging time is excluded (fixture construction, not query work); each
    // measured rep still reads its staged parquet from disk.
    val skewC = new Corpus("skew", stageSkewed(spark, sfDir))
    val x10C = new Corpus("x10", stageX10(spark, sfDir))
    val long1x = new Corpus("longdoc", stageLongDocs(spark, sfDir, "1x"))
    val long10x = new Corpus("x10_longdoc",
      stageLongDocs(spark, x10C.dir, "10x", contentKey = sfDir))
    val substrSkew = new Corpus("skew_longdoc",
      stageSubstrSkew(spark, long1x.dir, sfDir))
    val massDup = new Corpus("massdup", stageMassDup(spark, sfDir))
    val embSkew = new Corpus("skew_embeddings",
      stageEmbSkew(spark, x10C.dir, "10x", contentKey = sfDir))
    // mult=30 per the round-11 finding (see stageTailCorpus): the drain
    // must be data-dominated before the 1×/x10 pair means anything
    val tail1x = new Corpus("tail", stageTailCorpus(spark, sfDir, "1x", mult = 30))
    val tail10x = new Corpus("x10_tail",
      stageTailCorpus(spark, x10C.dir, "10x", mult = 30, contentKey = sfDir))
    val nd1x = new Corpus("neardup",
      stageNearDupCorpus(spark, sfDir, "1x", mult = 10))
    val nd10x = new Corpus("x10_neardup",
      stageNearDupCorpus(spark, x10C.dir, "10x", mult = 10, contentKey = sfDir))

    // Force FULL output materialization through the noop sink. r14 audit
    // of every benched row's `groupBy().count()` optimized plan: Catalyst's
    // column pruning + unique-key outer-join elimination gutted several
    // rows to a bare parquet scan — dedup_substrings' count plan was
    // literally `count(1) over Relation` (probed 0.4 s counted vs 40+ s
    // materialized), token_count and curate_filters_map lost all their
    // per-doc computation, and shuffle_export shuffled only the 32-byte
    // key. The noop sink executes the exact output schema every engine
    // consumer would receive and discards it executor-side. Any new row
    // must be measured this way, never by a count.
    def query(name: String)(dir: String): Unit =
      Dev.noop(SparkEntry.queries(name)(spark, dir))
    // Min of N measured reps per query: the container's vCPUs see bursty
    // steal (same binary, same data: 0.4 s vs 2.9 s run-to-run), and min is
    // the noise-robust point estimate under one-sided interference noise —
    // every rep does the full corpus read, so no work is hidden, only
    // scheduler interference. Rows that kept landing all three reps in one
    // steal window get FIVE: the LSH rows (round 6 published a 2.325 s
    // dedup_minhash_lsh that a rerun measured at 0.699 s), pipeline_e2e
    // (many job boundaries, 1.5-2.7 s run-to-run), route_text and the ANN
    // probe rows (r11's 0.799 / 1.956 were 2-4× spikes, idle reruns 0.524 /
    // 0.498), and r21's dedup_substrings (2-3× swings across its
    // longdoc/skew/x10 variants) and dclm_e2e (med 12.8-17.4 s under driver
    // load vs ~4 s idle). More reps, not a different estimator: min stays
    // comparable round-over-round. The base name keys every variant.
    val wideNoise = Set("dedup_minhash_lsh", "dedup_minhash_lsh_capped",
      "pipeline_e2e", "route_text", "embed_topk_lsh", "embed_topk",
      "embed_neardup", "tfidf_topk",
      "dedup_substrings", "dclm_e2e")
    def row(corpus: Corpus, base: String, prefix: String = ""): Row =
      Row(prefix + base, corpus, if (wideNoise(base)) 5 else 3, query(base),
        headline = prefix.isEmpty && Bench.headline.contains(base))
    def embeddings(dir: String) = spark.read.parquet(s"$dir/embeddings.parquet")
    def substr(thr: Long)(dir: String): Unit =
      Dev.noop(graft.pipeline.Dedup.dedupSubstrings(
        spark.read.parquet(s"$dir/documents.parquet"),
        col("doc_id"), col("text"), k = 8, hotKeyThreshold = thr))
    def emb(f: DataFrame => DataFrame): String => Unit =
      dir => Dev.noop(f(embeddings(dir)))
    def semDedup(nC: Int) = emb(Similarity.semDedup(_,
      threshold = 0.3, nCentroids = nC, lloydIters = 2))
    def d4(nC: Int) = emb(Similarity.d4(_,
      threshold = 0.3, dropFraction = 0.3, nCentroids = nC, lloydIters = 2))
    val semDedupCapped = emb(Similarity.semDedup(_,
      threshold = 0.3, nCentroids = 80, lloydIters = 2, maxClusterSize = 64))
    val semDedupUnblocked = emb(Similarity.semDedup(_,
      threshold = 0.3, nCentroids = 80, lloydIters = 2,
      saltBlockSize = Int.MaxValue))
    // restore whatever the conf held before: hardcoding "local" afterwards
    // would silently clobber a non-default spark.graft.staging for all
    // later rows
    def d4Reliable(dir: String): Unit = {
      val prev = spark.conf.getOption(Staging.ConfKey)
      spark.conf.set(Staging.ConfKey, "reliable")
      try d4(8)(dir)
      finally prev.fold(spark.conf.unset(Staging.ConfKey))(
        spark.conf.set(Staging.ConfKey, _))
    }
    def ivfPq(tf: Double, iters: Int)(dir: String) =
      Similarity.ivfPqTopK(embeddings(dir),
        embeddings(dir).filter(col("vec_id") % 100 === 0),
        topK = 5, nCells = 256, m = 16, k = 256, iters = iters, nProbe = 3,
        trainFraction = tf)
    def ivfPqOnce(tf: Double, iters: Int = 1)(dir: String): Unit =
      Dev.noop(ivfPq(tf, iters)(dir))
    def llmDeep(dir: String): Unit = {
      import graft.core.FlowFrame
      import graft.ops.TinyLlm
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          substring(col("text"), 1, TinyLlm.ContentWindow).as("body"))
        .repartition(32)
      Dev.noop(graft.ops.Exec.runLlamaInference(
        FlowFrame.wrap(docs, "body", Seq("doc_id")),
        col(FlowFrame.Content), lit("Describe."),
        generate = (_, user) => (TinyLlm.render(TinyLlm.generate(user, steps = 512)._1),
          TinyLlm.tokenize(user).length.toLong, 512.0)))
    }
    def lines(name: String) = Some(Basis(name, spark.read.textFile(_).count()))
    def docs(name: String) = Some(Basis(name,
      dir => spark.read.parquet(s"$dir/documents.parquet").count()))

    Seq.fill(2)((headline ++ skewed ++ x10 ++ extra).distinct)
      .flatten.map(name => Warm(name, () => query(name)(warmDir))) ++
    headline.map(row(sf, _)) ++
    // Skewed and x10 queries outside the headline set get a uniform
    // comparator row, measured BEFORE any staging write: a just-finished
    // multi-hundred-MB corpus write leaves GC/page-cache pressure that
    // outlasts min-of-3 (measured: a comparator row 5× slower right after
    // stageX10 vs identical in isolation). Neither counts toward the
    // round-over-round total.
    skewed.filterNot(headline.contains).map(row(sf, _)) ++
    x10.filterNot(n => headline.contains(n) || skewed.contains(n))
      .map(row(sf, _)) ++
    // Degenerate-skew rows: same queries, mass-duplicated corpus.
    skewed.map(row(skewC, _, "skew_")) ++
    // Scale-decade rows: same queries, a 10× corpus staged from the sf
    // documents. Each x10_* row pairs with a 1× row measured this same run
    // (headline or uniform comparator); the ratio is the near-linearity
    // evidence. A warm pass AT the x10 scale comes first: r13's
    // x10_dedup_minhash_lsh published 0.723 s against a 1.051 s idle
    // rerun — the sf0.01 warm-up tiers the codegen but leaves the first
    // x10-scale rep with cold page cache and un-scaled JIT profiles.
    x10.map(name => Warm(s"x10 $name", () => query(name)(x10C.dir))) ++
    x10.map(row(x10C, _, "x10_")) ++
    Seq(
      // EXACTSUBSTR long-doc pair (see stageLongDocs): the same registered
      // query, 16× the tokens per doc — the explode/agg path dominates the
      // job floor, so THIS pair carries the near-linearity evidence; the
      // plain dedup_substrings rows above stay as the regression guard.
      Warm("longdoc", () => query("dedup_substrings")(long1x.dir)),
      Warm("longdoc", () => query("dedup_substrings")(long10x.dir)),
      row(long1x, "dedup_substrings", "longdoc_"),
      row(long10x, "dedup_substrings", "x10_longdoc_"),
      // Mass-duplication skew row for EXACTSUBSTR (see stageSubstrSkew):
      // pairs with longdoc_dedup_substrings above — a hot window key with
      // ~1,500 copies must stay within the capped-family band, not funnel
      Warm("substr skew", () => query("dedup_substrings")(substrSkew.dir)),
      row(substrSkew, "dedup_substrings", "skew_longdoc_"),
      // Mass-duplication EXACTSUBSTR pair (r16, the done-criterion for the
      // hot-key salt): see stageMassDup — ONE window key with
      // ~0.3·|docs|·10,745 copies (~48M at sf0.1). Unsalted, that key
      // funnels through ONE count-window partition (probed 11.9 s vs 8.2 s
      // salted at sf0.1, the gap growing with the hot mass — measured as
      // the contrast row, min-of-2: a deliberately slow contrast row, more
      // reps buy nothing); with hotKeyThreshold = 100k the heavy-hitter
      // pre-pass salts it into ~480 sub-partitions and the tail
      // parallelizes. r21: the salted row gets 5 reps — committed same-code
      // runs of it read 4.3 vs 8.5 s (r20 record).
      Warm("massdup", () => substr(100000L)(massDup.dir)),
      Row("massdup_dedup_substrings", massDup, 2, substr(0L)),
      Row("massdup_dedup_substrings_salted", massDup, 5, substr(100000L)),
      // SemDeDup scale pair: the registered query's fixed nCentroids=8
      // would make the intra-cluster pair join quadratic at 10× BY CONFIG
      // (cluster population ∝ N at fixed k) — the paper's own scale knob is
      // cluster count ∝ corpus (Abbas 2023 §3 runs 50k clusters on LAION),
      // which holds per-cluster population (and so pair volume per row)
      // constant. The x10 row scales k 8→80 accordingly; the pair ratio is
      // the linearity evidence UNDER the published scaling rule. (The 1×
      // row here matches dedup_semantic's registered config exactly.)
      Warm("semdedup", () => semDedup(8)(warmDir)),
      Warm("x10 semdedup", () => semDedup(80)(x10C.dir)),
      Row("dedup_semantic", sf, 3, semDedup(8)),
      Row("x10_dedup_semantic", x10C, 3, semDedup(80)),
      // Full D4 pair, same cluster-count scaling rule as the SemDeDup pair
      // (k ∝ corpus per Abbas 2023 §3; the re-cluster phase scales with it)
      Warm("d4", () => d4(8)(warmDir)),
      Warm("x10 d4", () => d4(80)(x10C.dir)),
      Row("d4_e2e", sf, 3, d4(8)),
      Row("x10_d4_e2e", x10C, 3, d4(80)),
      // r18 (#7): the 100 TB fault-tolerance mode, priced — the same
      // d4_e2e row under spark.graft.staging=reliable (durable checkpoint
      // instead of executor-local blocks at EVERY compute-once barrier;
      // results identical by StagingSpec). The gap vs d4_e2e is the
      // per-barrier durable write+read a deployment pays so the heaviest
      // staged chain survives executor loss.
      Warm("d4 reliable", () => d4Reliable(sfDir)),
      Row("d4_e2e_reliable", sf, 3, d4Reliable),
      // Degenerate-cluster contrast set (r15, mirroring the capped LSH
      // pair): 70% of the corpus becomes ONE exact direction — identical
      // quantized vectors score identical cosines to every centroid and
      // the (negCos, cent) tie-break sends the whole mass to one cluster.
      // r17: the DEFAULT path is exact-salted (the within-cluster pair join
      // splits block-wise past saltBlockSize), so skew_dedup_semantic
      // measures the default a naive caller gets; _unblocked disables the
      // salt (the r16 one-task quadratic) as the contrast, and _capped
      // keeps the recall-trade bound. The default must land near the
      // capped row, not the unblocked one. Staged from the x10 embeddings
      // (20k vectors at sf0.1): at 2,000 vectors the hot cluster's
      // quadratic term is below the job floor (probed 2.19 vs 2.13
      // uniform). The unblocked row is the deliberately-adversarial
      // contrast (r16 measured 42.3 s, ~100M cosine evaluations through ONE
      // task) and gets ONE rep with no separate warm: its code shape is
      // warmed by the other rows, and more reps of a row whose point is an
      // order-of-magnitude gap buy nothing.
      Warm("semskew", () => semDedup(80)(embSkew.dir)),
      Warm("semskew cap", () => semDedupCapped(embSkew.dir)),
      Row("skew_dedup_semantic", embSkew, 3, semDedup(80)),
      Row("skew_dedup_semantic_unblocked", embSkew, 1, semDedupUnblocked),
      Row("skew_dedup_semantic_capped", embSkew, 3, semDedupCapped),
      // Production-parameter IVFADC rows (r16): nCells=256, m=16, k=256 on
      // the x10 embeddings — the parameter class where r15's typedlit
      // cross-dot map (nCells·m·k plan entries) exploded codegen; the
      // broadcast cross-dot table makes it a ~8 MB data question. r17:
      // FAISS-style sampled codebook training (trainFraction) — the Lloyd
      // rounds run on a deterministic 25% md5-fraction while the full
      // corpus is still assigned + encoded; _sampled is the production
      // configuration, the full-train row stays as the contrast.
      Warm("ivfpq prod", () => ivfPqOnce(0.25)(x10C.dir)),
      // r18 (#3): the depth contrast where Lloyd dominates. At iters=1 the
      // md5-fraction filter pass costs roughly what one Lloyd round saves,
      // so the trainFraction knob shows nothing there. At production
      // training depth (iters=4) codebook training is the bulk of
      // index-build cost. The _deep_sampled fraction is 0.5, the FAISS
      // training floor at THIS corpus: k=256 codebooks want >= ~39·k ≈ 10k
      // training points, and 0.5 of the 20k x10 corpus sits exactly there
      // (an r18 probe at 0.1 cost 6 recall points). This warm pass doubles
      // as the recall telemetry: recall@5 vs the brute-force ground truth
      // across the fraction ladder (raw set agreement between variants is
      // the WRONG metric: differently-trained codebooks legitimately
      // reorder a top-k whose tail cosines tie near-exactly).
      Warm("ivfpq deep recall", () => {
        def topk(df: DataFrame): Set[(Long, Long)] =
          df.select(col("qid"), col("cid"))
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val x10Dir = x10C.dir
        val brute = topk(Similarity.bruteForceTopK(embeddings(x10Dir),
          embeddings(x10Dir).filter(col("vec_id") % 100 === 0), 5))
        def recall(tf: Double): Double =
          (topk(ivfPq(tf, iters = 4)(x10Dir)) & brute).size.toDouble /
            math.max(1, brute.size)
        System.err.println(f"[bench] ivfpq deep recall@5 vs brute force: " +
          f"full-train ${100 * recall(1.0)}%.1f%%, " +
          f"sampled(0.5, the 39·k floor) ${100 * recall(0.5)}%.1f%%, " +
          f"sampled(0.1, under the floor) ${100 * recall(0.1)}%.1f%%")
      }),
      // min-of-2 for the iters=1 pair (completion-and-band probes); r19:
      // the deep pair at reps=3 — the r18 min-of-2 direction flipped
      // between runs, so min-of-2 cannot establish a timing direction on
      // this ~7 s row class
      Row("prod_embed_topk_ivfpq_sampled", x10C, 2, ivfPqOnce(0.25)),
      Row("prod_embed_topk_ivfpq", x10C, 2, ivfPqOnce(1.0)),
      Row("prod_embed_topk_ivfpq_deep_sampled", x10C, 3, ivfPqOnce(0.5, 4)),
      Row("prod_embed_topk_ivfpq_deep", x10C, 3, ivfPqOnce(1.0, 4)),
      // Streaming rows: every other row is batch; these measure the DSv2
      // tail source + stateful defragment + partitioned streaming sink at
      // 1× and 10×. One warm drain at the warm-up scale pays the streaming
      // plane's one-time codegen, like the batch warm-up does. FIVE reps
      // like the wide-noise batch rows: r12's published 10× drain read 39%
      // above an idle rerun (9.671 s vs 5.940 s). The throughput rows carry
      // a work-normalized rate (the name is the unit): a post-commit rerun
      // swung the trigger-drain WALL rows up to 13× under machine load
      // while compute rows stayed in band (r20).
      Warm("tail drain", () =>
        tailDrain(spark, stageTailCorpus(spark, warmDir, "warm"))),
      Row("streaming_tail_e2e", tail1x, 5, tailDrain(spark, _),
        basis = lines("streaming_tail_lines_per_sec")),
      Row("x10_streaming_tail_e2e", tail10x, 5, tailDrain(spark, _),
        basis = lines("x10_streaming_tail_lines_per_sec")),
      // Streaming near-dup pair (r17): the tail drain's 1×/x10 device —
      // mult=10 suffix-disjoint replicas make the drain data-dominated
      // (see stageNearDupCorpus; at mult=1 both sides sat on the ~5 s
      // streaming fixed floor), banding is map-side, bucket state capped.
      Warm("neardup drain", () => neardupDrain(spark,
        stageNearDupCorpus(spark, warmDir, "warm", mult = 10))),
      Row("streaming_neardup_e2e", nd1x, 3, neardupDrain(spark, _),
        basis = docs("streaming_neardup_docs_per_sec")),
      Row("x10_streaming_neardup_e2e", nd10x, 3, neardupDrain(spark, _),
        basis = docs("x10_streaming_neardup_docs_per_sec")),
      // Deep-decode inference pair (r19): the registered llm_inference pair
      // is FIXED-COST-dominated (8-step decode over a 70-token context is
      // ~18k int64 mults per doc — far below the job floor at 50k docs), so
      // the DATA-dominated scale evidence for the inference plane is this
      // pair: 512 greedy steps through the KV-cached decode in
      // RunLlamaCppInference's Exec.runLlamaInference. repartition(32) on BOTH
      // sides: the sf fixture is one row group, and without it the 1× side
      // decodes on ONE core while the staged x10 side gets ten (the first
      // cut of this pair measured 8.2 vs 8.6 s: pure parallelism skew).
      // Greedy decode is prefix-stable (TinyLlmSpec), so this measures the
      // SAME model the oracle replays, just deeper.
      Warm("llm deep", () => llmDeep(warmDir)),
      Row("llm_generate_deep", sf, 3, llmDeep),
      Row("x10_llm_generate_deep", x10C, 3, llmDeep)) ++
    extra.map(row(sf, _))
  }

  def main(args: Array[String]): Unit = {
    // all JSON emitters use the f-interpolator (= String.format in the
    // DEFAULT locale): pin ROOT so a comma-decimal locale can never emit
    // unparseable "0,123" numbers (r19 ADVICE)
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Session(s"local[$cpus]", cpus)
    // d4_e2e_reliable's durable checkpoints
    spark.sparkContext.setCheckpointDir(
      s"${System.getProperty("java.io.tmpdir")}/graft-bench-ckpt")
    val report = run(spark, steps(spark, sfDir))
    val json = report.json(sfDir)
    // A stdout tail-capture window is smaller than the full line — r15/
    // r16/r17 all arrived HEAD-cut mid-JSON. So: print the full line early
    // + persist it to BENCH_LATEST.json (the canonical full row set), and
    // make the LAST printed line the compact summary. With
    // `run / outputStrategy := StdoutOutput` in build.sbt it prints RAW — no
    // sbt "[info] " prefix — so a per-line json.loads succeeds.
    println(json)
    System.out.flush()
    java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_LATEST.json"),
      (json + "\n").getBytes("UTF-8"))
    spark.stop()
    println(json); System.out.flush()
    println(report.summary(sfDir))
    System.out.flush()
  }
}
