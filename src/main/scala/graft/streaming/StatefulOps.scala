package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * Stateful streaming operators — SURVEY §2.5/§2.10.
 *
 * DefragmentText (DefragmentText.cpp:59, props DefragmentText.h:64-89) and
 * MergeContent/BinFiles bin ageing (BinFiles.cpp:284) are cross-FlowFile
 * buffering with a flush-on-timeout: the Spark-native shape is
 * `groupByKey(source).flatMapGroupsWithState` with a processing-time
 * timeout — the group state is the open buffer, the timeout is
 * MaxBufferAge / Max Bin Age, and timeout flushes route to `expired`
 * (matching the reference's failure/original routing for incomplete
 * buffers).
 *
 * State is per-key and checkpointed by Spark (RocksDB state store at
 * scale) — the 100 TB posture is one state entry per active source/bin,
 * not per row.
 */
object StatefulOps {

  /** One incoming text fragment. `offset` is the fragment's byte offset in
    * its source (the reference's `textfragment.offset` attribute); -1 when
    * the attribute is absent. `uuid` (optional) is the fragment FlowFile's
    * identity — carried into the emitted message's `parents` for JOIN
    * provenance (Provenance.h JOIN; ProcessSession.cpp:973 records an
    * event per FlowFile on every commit, batch or streaming). */
  case class Fragment(source: String, ord: Long, content: String,
                      offset: Long = -1L, uuid: String = "")
  /** `parents` = comma-joined sorted uuids of the member fragments that
    * contributed to this message (empty when members carried no uuid). */
  case class Message(source: String, message: String, fragmentCount: Int,
                     relationship: String, parents: String = "")
  /** Open buffer: concatenated content (the reference appends payloads
    * directly, no demarcator — DefragmentText.cpp Buffer::append), the
    * byte offset the NEXT contiguous fragment must carry (-1 when the
    * buffer's first fragment carried no offset), the processing time
    * the buffer was opened (for the mid-stream age check), and the member
    * uuids accumulated for JOIN provenance, joined by [[ParentSep]]. A
    * string, not a list: a collection field's state deserializer takes a
    * new lambda-variable id on every batch, so Spark would compile the
    * state projection again for each one. */
  case class Buffer(content: String, fragments: Int, nextOffset: Long,
                    openedAtMs: Long, parents: String = "")
  /** Separator of [[Buffer.parents]]: NUL appears in no uuid, and a
    * `path@offset` uuid may hold commas. */
  val ParentSep = '\u0000'

  /**
   * Streaming DefragmentText with the reference's fragment semantics
   * (DefragmentText.cpp:60-106, 166-190):
   *
   *  - Each fragment is split at its LAST pattern match
   *    (`splitFlowFileAtLastPattern`); the head joins the buffer, the
   *    buffer flushes to `success`, and the tail becomes the new buffer.
   *    Content before earlier matches in the same fragment is NOT split
   *    out — `"a<1> b<2> c"` emits one message `"a<1> b"`.
   *  - START_OF_MESSAGE splits before the match, END_OF_MESSAGE after it
   *    (`getSplitPosition`).
   *  - A fragment whose offset breaks contiguity with the buffer flushes
   *    the buffer to `failure` AND routes the fragment itself to `failure`
   *    (processNextFragment's offset guard). Absent offsets on both sides
   *    compare equal, mirroring the optional-attribute comparison.
   *  - MaxBufferSize overflow (checked after each trigger's batch like the
   *    reference's onTrigger epilogue) flushes to `failure`; MaxBufferAge
   *    flushes to `success` for START patterns, `failure` for END
   *    (an aged START buffer begins with a complete header; an aged END
   *    buffer never saw its terminator). Caps of 0 disable the checks.
   */
  def defragmentText(fragments: Dataset[Fragment], pattern: String,
                     maxBufferAgeMs: Long,
                     maxBufferBytes: Long = 0,
                     patternAtStart: Boolean = true): Dataset[Message] = {
    val re = pattern.r
    implicit val msgEnc = Encoders.product[Message]
    implicit val bufEnc = Encoders.product[Buffer]
    implicit val strEnc = Encoders.STRING
    // maxBufferAgeMs <= 0 disables the age flush (NoTimeout) — also keeps
    // the engine from running continuous timeout-evaluation batches where
    // the age semantics aren't wanted (e.g. AvailableNow drains)
    val timeoutConf =
      if (maxBufferAgeMs > 0) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    val ageFlushRel = if (patternAtStart) "success" else "failure"
    def utf8Len(s: String): Long =
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong

    fragments.groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Append(), timeoutConf) {
        (source: String, rows: Iterator[Fragment], state: GroupState[Buffer]) =>
          def flush(buf: Buffer, rel: String): Option[Message] =
            if (buf.fragments == 0) None
            else Some(Message(source, buf.content, buf.fragments, rel,
              buf.parents.split(ParentSep).distinct.sorted.mkString(",")))
          if (state.hasTimedOut) {
            val out = state.getOption.flatMap(flush(_, ageFlushRel))
            state.remove()
            out.iterator
          } else {
            val nowMs = state.getCurrentProcessingTimeMs()
            val empty = Buffer("", 0, -1L, nowMs, "")
            def withParent(ps: String, u: String): String =
              if (u.isEmpty) ps else if (ps.isEmpty) u else s"$ps$ParentSep$u"
            var buf = state.getOption.getOrElse(empty)
            val out = List.newBuilder[Message]
            // mid-stream age flush: the reference ages the buffer even
            // while fragments keep arriving (onTrigger epilogue)
            if (maxBufferAgeMs > 0 && buf.fragments > 0 &&
                nowMs - buf.openedAtMs > maxBufferAgeMs) {
              flush(buf, ageFlushRel).foreach(out += _)
              buf = empty
            }
            rows.toSeq.sortBy(_.ord).foreach { f =>
              if (buf.fragments > 0 && buf.nextOffset != f.offset) {
                flush(buf, "failure").foreach(out += _)
                out += Message(source, f.content, 1, "failure", f.uuid)
                buf = empty
              } else {
                val endOffset = if (f.offset >= 0L) f.offset + utf8Len(f.content)
                                else -1L
                re.findAllMatchIn(f.content).toList.lastOption match {
                  case Some(m) =>
                    val splitPos = if (patternAtStart) m.start else m.end
                    val head = f.content.substring(0, splitPos)
                    val joined = Buffer(buf.content + head,
                      buf.fragments + (if (head.nonEmpty) 1 else 0),
                      -1L, buf.openedAtMs,
                      if (head.nonEmpty) withParent(buf.parents, f.uuid)
                      else buf.parents)
                    flush(joined, "success").foreach(out += _)
                    val tail = f.content.substring(splitPos)
                    buf = if (tail.isEmpty) empty
                          else Buffer(tail, 1, endOffset, nowMs, f.uuid)
                  case None =>
                    // keep the first fragment's offset basis: a buffer
                    // opened without one never regains it (the merged
                    // FlowFile's attribute set is the first member's)
                    buf = Buffer(buf.content + f.content, buf.fragments + 1,
                      if (buf.fragments == 0) endOffset
                      else if (buf.nextOffset >= 0L) endOffset else -1L,
                      if (buf.fragments == 0) nowMs else buf.openedAtMs,
                      withParent(buf.parents, f.uuid))
                }
              }
            }
            if (maxBufferBytes > 0 && utf8Len(buf.content) > maxBufferBytes) {
              flush(buf, "failure").foreach(out += _)
              buf = empty
            }
            if (buf.fragments == 0) state.remove()
            else {
              state.update(buf)
              if (maxBufferAgeMs > 0) state.setTimeoutDuration(maxBufferAgeMs)
            }
            out.result().iterator
          }
      }
  }

  /** `uuid` (optional): the member FlowFile identity carried into the
    * emitted bin's `parents` for JOIN provenance. */
  case class Entry(correlation: String, ord: Long, content: String,
                   uuid: String = "")
  case class Bin(correlation: String, merged: String, count: Int,
                 relationship: String, parents: String = "")
  case class BinBuffer(entries: List[Entry])

  /**
   * Streaming MergeContent (Bin-Pack): accumulate per correlation key until
   * the bin is FULL — `maxEntries` entries or `maxBinBytes` content bytes
   * (Bin::isFull, BinFiles.h:60-62; like the batch sized variant the
   * straddling entry is admitted, so a bin may exceed `maxBinBytes` by
   * less than one entry) — or `maxBinAgeMs` elapses with the bin open
   * (BinFiles.cpp:284 removeOldestBin → closed → ready).
   *
   * Every flush routes through the same min check as the batch
   * `mergeContentBinPackSized`: `merged` when the bin holds ≥ `minEntries`
   * entries and ≥ `minBinBytes` content (Bin::isReadyForMerge,
   * BinFiles.h:64-66), `undersized` otherwise — an aged-out bin below the
   * mins is the undersized route, a full or aged bin meeting them merges.
   * Size counts content length like the batch variant's `length(content)`
   * (demarcators excluded). `maxBinBytes`/`minBinBytes` of 0 disable the
   * respective size rule.
   */
  def mergeContentBins(entries: Dataset[Entry], maxEntries: Int,
                       maxBinAgeMs: Long, demarcator: String,
                       maxBinBytes: Long = 0, minEntries: Int = 1,
                       minBinBytes: Long = 0): Dataset[Bin] = {
    implicit val binEnc = Encoders.product[Bin]
    implicit val bufEnc = Encoders.product[BinBuffer]
    implicit val strEnc = Encoders.STRING
    val timeoutConf =
      if (maxBinAgeMs > 0) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()

    def binBytes(es: List[Entry]): Long = es.map(_.content.length.toLong).sum
    def emit(key: String, es: List[Entry]): Bin = {
      val rel =
        if (es.size >= minEntries && binBytes(es) >= minBinBytes) "merged"
        else "undersized"
      Bin(key, es.sortBy(_.ord).map(_.content).mkString(demarcator), es.size,
        rel, es.map(_.uuid).filter(_.nonEmpty).distinct.sorted.mkString(","))
    }

    entries.groupByKey(_.correlation)
      .flatMapGroupsWithState(OutputMode.Append(), timeoutConf) {
        (key: String, rows: Iterator[Entry], state: GroupState[BinBuffer]) =>
          if (state.hasTimedOut) {
            val pending = state.getOption.map(_.entries).getOrElse(Nil)
            state.remove()
            if (pending.isEmpty) Iterator.empty
            else Iterator(emit(key, pending))
          } else {
            // reverse arrival order (O(1) prepend); emit sorts by ord
            var buf = state.getOption.map(_.entries).getOrElse(Nil)
            var bytes = binBytes(buf)
            val out = List.newBuilder[Bin]
            rows.toSeq.sortBy(_.ord).foreach { e =>
              buf = e :: buf
              bytes += e.content.length
              if (buf.size >= maxEntries ||
                  (maxBinBytes > 0 && bytes >= maxBinBytes)) {
                out += emit(key, buf); buf = Nil; bytes = 0L
              }
            }
            if (buf.isEmpty) state.remove()
            else {
              state.update(BinBuffer(buf))
              if (maxBinAgeMs > 0) state.setTimeoutDuration(maxBinAgeMs)
            }
            out.result().iterator
          }
      }
  }

  /** One keyed row for streaming dedup: `key` is the caller-computed
    * identity (typically a content hash). */
  case class Keyed(key: String, ord: Long, content: String,
                   uuid: String = "")
  case class Deduped(key: String, content: String, relationship: String,
                     seen: Long, uuid: String = "")
  case class SeenState(count: Long)

  /**
   * Streaming exact dedup — a capability the training-data pipeline needs
   * that the reference engine lacks (the semantics mirror Apache NiFi's
   * public DetectDuplicate processor): rows group on a caller-computed
   * key; the FIRST arrival of a key routes `non-duplicate`, every later
   * arrival routes `duplicate` carrying `seen` = how many arrivals the
   * key has had so far. `ageMs > 0` expires a key's state after that
   * idle period (the processor's cache-TTL contract) — the next arrival
   * is `non-duplicate` again, and state memory stays bounded by the
   * active key window.
   *
   * 100 TB shape: state is one counter per key, hash-sharded by the
   * state store across executors; the per-batch work is one shuffle on
   * the key — the standard streaming-dedup deployment.
   */
  def detectDuplicates(rows: Dataset[Keyed], ageMs: Long = 0): Dataset[Deduped] = {
    implicit val outEnc = Encoders.product[Deduped]
    implicit val stEnc = Encoders.product[SeenState]
    implicit val strEnc = Encoders.STRING
    val timeoutConf =
      if (ageMs > 0) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    rows.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(), timeoutConf) {
        (key: String, batch: Iterator[Keyed], state: GroupState[SeenState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var count = state.getOption.map(_.count).getOrElse(0L)
            val out = batch.toSeq.sortBy(_.ord).map { r =>
              count += 1
              Deduped(key, r.content,
                if (count == 1) "non-duplicate" else "duplicate",
                count, r.uuid)
            }
            state.update(SeenState(count))
            if (ageMs > 0) state.setTimeoutDuration(ageMs)
            out.iterator
          }
      }
  }

  // ------- streaming MinHash near-dup: the streaming plane of the batch
  // LSH family (Dedup.minHashSignatures / minHashLshPairs) -------

  /** One (band-bucket, document) arrival: `sig` is the doc's full
    * MinHash signature, `band` the LSH bucket key this row landed in. */
  case class BandedDoc(band: String, ord: Long, docId: Long, sig: List[Long])
  case class NearDupHit(docId: Long, candId: Long, band: String,
                        estJaccard: Double)
  case class BucketMember(id: Long, sig: List[Long])
  case class BucketState(members: List[BucketMember])

  /** Map-side banding for [[detectNearDuplicates]]: per-ROW MinHash
    * signature (min over the doc's own distinct shingles of the same
    * double-hash family `Dedup.minHashSignatures` aggregates — identical
    * values, but as a pure projection with NO shuffle, the shape a
    * stream stage needs) + the band-key explode. */
  def bandDocs(df: org.apache.spark.sql.DataFrame,
               idCol: org.apache.spark.sql.Column,
               textCol: org.apache.spark.sql.Column,
               ordCol: org.apache.spark.sql.Column,
               n: Int, numHashes: Int, rowsPerBand: Int): Dataset[BandedDoc] = {
    import org.apache.spark.sql.functions._
    import graft.pipeline.Dedup
    import df.sparkSession.implicits._
    require(numHashes % rowsPerBand == 0, "numHashes must split into bands")
    // r20 OPTIMIZATION: the whole per-doc signature comes from the native
    // MinHashSigs kernel — the r17 transform/array_min formulation ran its
    // md5|substring|conv lambdas INTERPRETED per shingle (higher-order
    // functions never enter whole-stage codegen: the exact ~20× penalty
    // the batch explode+agg shape documented), plus numHashes interpreted
    // array passes per doc for the minima. The kernel emits bit-identical
    // longs (FunctionsSpec pin) in one codegen'd call, and the
    // StreamingSpec "stream sig equals batch" pin keeps this plane locked
    // to Dedup.minHashSignatures, which now uses the same kernel.
    val sig = org.apache.spark.sql.GraftColumnShim.column(
      graft.functions.MinHashSigs(
        org.apache.spark.sql.GraftColumnShim.expression(textCol), n, numHashes))
    val numBands = numHashes / rowsPerBand
    df.select(idCol.cast("long").as("docId"), ordCol.cast("long").as("ord"),
        sig.as("sig"))
      // r21 (r20 ADVICE): a NULL text yields a NULL signature — without
      // this filter every null-text doc lands in one degenerate per-band
      // bucket (concat_ws skips nulls) and a null sig List reaches
      // detectNearDuplicates state, where signature scoring NPEs. Mirrors
      // minHashSignatures' __sig null filter on the batch plane.
      .filter(col("sig").isNotNull)
      .select(col("docId"), col("ord"), col("sig"),
        explode(array((0 until numBands).map { b =>
          concat_ws("|", lit(b) +:
            (b * rowsPerBand until (b + 1) * rowsPerBand)
              .map(k => element_at(col("sig"), k + 1)): _*)
        }: _*)).as("band"))
      .select(col("band"), col("ord"), col("docId"), col("sig"))
      .as[BandedDoc]
  }

  /**
   * Streaming near-duplicate detection — the batch MinHash-LSH family's
   * banding with bucket state instead of a bucket groupBy: documents
   * colliding in a band bucket are scored by the Broder (1997, "On the
   * resemblance and containment of documents") signature estimator
   * |{k : mhA_k = mhB_k}| / numHashes, so NO document text ever lives
   * in the state store. State per bucket = the first-seen `maxBucket`
   * members' signatures (the capped-LSH recall trade the batch
   * `minHashLshPairs` cap makes: later arrivals still score against the
   * stored members but are not stored), TTL-evicted after `ageMs` like
   * [[detectDuplicates]]. Emits one hit per (arriving doc, stored
   * member) clearing `minEstJaccard`; a pair colliding in several bands
   * repeats — the caller's distinct, exactly the batch pair-dedup
   * groupBy.
   *
   * 100 TB posture: one state entry per ACTIVE bucket, bounded at
   * maxBucket·numHashes longs, keyed on the band hash — the same key the
   * batch plane shuffles on; RocksDB state store at scale.
   */
  def detectNearDuplicates(docs: Dataset[BandedDoc], maxBucket: Int,
                           minEstJaccard: Double,
                           ageMs: Long = 0): Dataset[NearDupHit] = {
    implicit val outEnc = Encoders.product[NearDupHit]
    implicit val stEnc = Encoders.product[BucketState]
    implicit val strEnc = Encoders.STRING
    val timeoutConf =
      if (ageMs > 0) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    docs.groupByKey(_.band)
      .flatMapGroupsWithState(OutputMode.Append(), timeoutConf) {
        (band: String, batch: Iterator[BandedDoc], state: GroupState[BucketState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var members = state.getOption.map(_.members).getOrElse(Nil)
            val out = List.newBuilder[NearDupHit]
            batch.toSeq.sortBy(_.ord).foreach { d =>
              val n = d.sig.length.toDouble
              members.foreach { m =>
                if (m.id != d.docId) {
                  val eq = m.sig.zip(d.sig).count { case (a, b) => a == b }
                  val est = eq / n
                  if (est >= minEstJaccard)
                    out += NearDupHit(d.docId, m.id, band, est)
                }
              }
              if (members.size < maxBucket)
                members = members :+ BucketMember(d.docId, d.sig)
            }
            state.update(BucketState(members))
            if (ageMs > 0) state.setTimeoutDuration(ageMs)
            out.result().iterator
          }
      }
  }

  // ------- streaming Bloom paragraph dedup: the streaming plane of the
  // batch Dedup.dedupSegmentsBloom (Soldaini 2024 — Dolma's actual
  // deployment shape: ONE growing Bloom filter, paragraphs checked and
  // inserted in arrival order) -------

  /** One paragraph arrival. `shard` must be a pure function of `seg`
    * (hash mod shards — see [[shardSegments]]) so identical paragraphs
    * always meet the same filter. */
  case class SegArrival(shard: Int, ord: Long, docId: Long, idx: Int,
                        seg: String)
  case class SegDecision(docId: Long, idx: Int, seg: String,
                         relationship: String)
  case class BloomBits(bits: Array[Byte])

  /** Map-side sharding for [[dedupSegmentsStream]]: md5-prefix of the
    * segment mod `shards` — the state-store key. */
  def shardSegments(df: org.apache.spark.sql.DataFrame,
                    idCol: org.apache.spark.sql.Column,
                    segments: org.apache.spark.sql.Column,
                    ordCol: org.apache.spark.sql.Column,
                    shards: Int): Dataset[SegArrival] = {
    import org.apache.spark.sql.functions._
    import df.sparkSession.implicits._
    df.select(idCol.cast("long").as("docId"), ordCol.cast("long").as("ord"),
        posexplode(segments).as(Seq("idx", "seg")))
      .select(
        (conv(substring(md5(col("seg")), 1, 12), 16, 10).cast("long") %
          shards).cast("int").as("shard"),
        col("ord"), col("docId"), col("idx"), col("seg"))
      .as[SegArrival]
  }

  /** k Bloom positions of a segment within an m-bit filter — md5-salted,
    * the same double-hash family as everything else here. */
  private def bloomPositions(seg: String, bits: Int, k: Int): Seq[Int] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(s"sbloom|$seg".getBytes("UTF-8"))
    // two independent 48-bit words → k positions via double hashing
    def word(off: Int): Long =
      (0 until 6).foldLeft(0L)((a, i) => (a << 8) | (h(off + i) & 0xffL))
    val h1 = word(0); val h2 = word(6) | 1L // odd step
    (0 until k).map(j => (((h1 + j * h2) % bits + bits) % bits).toInt)
  }

  /**
   * Streaming paragraph dedup behind a per-shard Bloom filter — Dolma's
   * deployment semantics exactly: the filter only GROWS (no per-key
   * counters, no stored text), a paragraph whose bits are all set routes
   * `seen`, otherwise `fresh` and its bits are inserted. Identical
   * paragraphs meet the same shard by construction, so the decision is
   * exact up to Bloom false positives (over-dedup, the safe direction —
   * size `bitsPerShard` for the expected per-shard load). Within a
   * shard, arrivals process in (ord, docId, idx) order — deterministic
   * under replay, which is what the filter's order-dependence needs.
   *
   * 100 TB posture: state per shard is a FIXED byte array (the whole
   * point of Dolma's Bloom choice — memory bounded regardless of corpus
   * length); shards spread the filter across the state store's
   * executors, and the per-batch work is one shuffle on the shard key.
   * The batch plane ([[graft.pipeline.Dedup.dedupSegmentsBloom]]) is the
   * order-independent equivalent for bounded snapshots.
   */
  def dedupSegmentsStream(segs: Dataset[SegArrival], bitsPerShard: Int,
                          numHashes: Int = 4): Dataset[SegDecision] = {
    require(bitsPerShard % 8 == 0, "bitsPerShard must be byte-aligned")
    implicit val outEnc = Encoders.product[SegDecision]
    implicit val stEnc = Encoders.product[BloomBits]
    implicit val intEnc = Encoders.scalaInt
    segs.groupByKey(_.shard)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (_: Int, batch: Iterator[SegArrival], state: GroupState[BloomBits]) =>
          val bits = state.getOption.map(_.bits)
            .getOrElse(new Array[Byte](bitsPerShard / 8))
          val out = batch.toSeq.sortBy(a => (a.ord, a.docId, a.idx)).map { a =>
            val pos = bloomPositions(a.seg, bitsPerShard, numHashes)
            val seen = pos.forall(p => (bits(p / 8) & (1 << (p % 8))) != 0)
            if (!seen) pos.foreach(p =>
              bits(p / 8) = (bits(p / 8) | (1 << (p % 8))).toByte)
            SegDecision(a.docId, a.idx, a.seg,
              if (seen) "seen" else "fresh")
          }
          state.update(BloomBits(bits))
          out.iterator
      }
  }

  // ------- streaming KMV cardinality: the streaming plane of the batch
  // KMV sketch (Sketches.kmvSketch / kmvEstimates) -------

  /** One pre-hashed arrival for [[kmvStream]]: `shard` is the state-store
    * key (md5-prefix of the value mod shards, like [[shardSegments]]);
    * `h` the 60-bit value hash. */
  case class HashedArrival(shard: Int, ord: Long, h: Long)

  /** A shard's sketch after a batch: the k smallest distinct hashes seen
    * so far on that shard. Merging all shards' rows from the LATEST batch
    * (take the k smallest of the union; exact when fewer than k in total)
    * reproduces the batch KMV of everything ingested — the spec pins it. */
  case class ShardSketch(shard: Int, nSeen: Long, mins: List[Long])
  case class KmvMins(mins: List[Long], nSeen: Long)

  /** Map-side sharding for [[kmvStream]] over a text column's shingles:
    * the distinct-value hash plane of the batch sketch as a pure
    * projection (no stream-side shuffle before the state store's own). */
  def shardShingles(df: org.apache.spark.sql.DataFrame,
                    textCol: org.apache.spark.sql.Column,
                    ordCol: org.apache.spark.sql.Column,
                    n: Int, shards: Int): Dataset[HashedArrival] = {
    import org.apache.spark.sql.functions._
    import df.sparkSession.implicits._
    df.select(ordCol.cast("long").as("ord"),
        explode(graft.pipeline.Dedup.shingles(textCol, n)).as("seg"))
      .filter(col("seg").isNotNull)
      .select(
        (conv(substring(md5(col("seg")), 16, 6), 16, 10).cast("long") %
          shards).cast("int").as("shard"),
        col("ord"),
        conv(substring(md5(col("seg")), 1, 15), 16, 10).cast("long").as("h"))
      .as[HashedArrival]
  }

  /**
   * Streaming KMV distinct-count monitor — "how many distinct values has
   * this stream carried so far", continuously, from bounded state: each
   * shard's state is the k smallest distinct hashes it has seen (k longs,
   * the memory-boundedness Bloom segments get from fixed bits); after
   * every batch each updated shard emits its current sketch, and the
   * consumer merges the latest row per shard into the global estimate
   * exactly like [[graft.pipeline.Sketches.kmvPairOps]] merges sources.
   * Per-shard `nSeen` counts arrivals (not distinct values) — the
   * telemetry column for ingest-rate dashboards.
   *
   * 100 TB shape: state is shards·k longs TOTAL regardless of stream
   * length; the only stream-side wide op is the state store's own
   * shard-key shuffle. Insertion keeps the sorted-set invariant
   * incrementally (no per-batch global sort).
   */
  def kmvStream(rows: Dataset[HashedArrival], k: Int): Dataset[ShardSketch] = {
    require(k >= 2, "KMV needs k >= 2")
    implicit val outEnc = Encoders.product[ShardSketch]
    implicit val stEnc = Encoders.product[KmvMins]
    implicit val intEnc = Encoders.scalaInt
    rows.groupByKey(_.shard)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (shard: Int, batch: Iterator[HashedArrival], state: GroupState[KmvMins]) =>
          val prev = state.getOption.getOrElse(KmvMins(Nil, 0L))
          var mins = prev.mins.to(scala.collection.immutable.SortedSet)
          var n = prev.nSeen
          batch.foreach { a =>
            n += 1
            if (mins.size < k) mins = mins + a.h
            else if (a.h < mins.max && !mins.contains(a.h))
              mins = mins - mins.max + a.h
          }
          val next = KmvMins(mins.toList, n)
          state.update(next)
          Iterator.single(ShardSketch(shard, n, next.mins))
      }
  }
}
