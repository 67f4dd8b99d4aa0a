package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.FlowFrame.FragmentAttrs

/**
 * Split / merge / defragment operators — SURVEY §2.5: fan-out is the
 * `explode`/`posexplode` Generator family (no shuffle), fan-in is a
 * group-aggregate keyed on the fragment/correlation id (one shuffle on the
 * group key — the minimum possible; at 100 TB the split+merge round trip
 * co-partitions on `fragment.identifier`, so AQE can coalesce partitions).
 *
 * Fragment attribute convention: `fragment.identifier` / `fragment.index` /
 * `fragment.count` (SplitText.h:152-156), consumed by MergeContent
 * "Defragment" (MergeContent.cpp:391).
 */
object SplitMerge {

  /**
   * SplitText (SplitText.cpp:431): split content into fragments of
   * `linesPerFragment` lines. Emits one row per fragment with fragment
   * attrs. Header support (first N lines copied to every fragment,
   * SplitText.h:92) via `headerLines`.
   *
   * Spark shape: split → chunked higher-order slice → posexplode. All
   * narrow; fragment.count is computed from the array size, not a second
   * pass.
   */
  def splitText(df: DataFrame, idCol: Column, contentCol: Column,
                delimiter: String, linesPerFragment: Int,
                headerLines: Int = 0): DataFrame = {
    val lines = split(contentCol, java.util.regex.Pattern.quote(delimiter))
    val header = slice(lines, 1, headerLines)
    // dynamic length (not Int.MaxValue): slice overflows start+length
    val body = slice(lines, lit(headerLines + 1), size(lines))
    // ≥1 and explicit +1 step: sequence(0, -1) would infer step -1
    val nFrags = greatest(
      ceil(size(body).cast("double") / linesPerFragment).cast("int"), lit(1))
    val frags = transform(sequence(lit(0), nFrags - 1, lit(1)), i =>
      array_join(concat(header, slice(body, i * linesPerFragment + 1, lit(linesPerFragment))),
        delimiter))
    df.select(
      idCol.as(FragmentAttrs.Identifier),
      posexplode(frags).as(Seq("fragmentIndex", "fragment")),
      // same clamped expression that sizes the fragment array — an empty
      // body (header >= total lines) still emits 1 fragment, and count must
      // agree or MergeContent defragment routes the group to failure
      nFrags.cast("long").as("fragmentCount"))
  }

  /**
   * SplitText with the reference's strict header-edge routing
   * (SplitTextTests.cpp:598-642): a header line count larger than the
   * content routes the WHOLE content to `failure`; a header consuming
   * every line emits no splits at all (the input only passes through as
   * `original`); otherwise fragments emit on `splits`. Content ending in
   * the delimiter does not count a trailing empty line, matching the
   * reference's LineReader. Single-pass: the per-case rows build as an
   * array and explode (empty array → no rows), all narrow.
   */
  def splitTextStrict(df: DataFrame, idCol: Column, contentCol: Column,
                      delimiter: String, linesPerFragment: Int,
                      headerLines: Int): DataFrame = {
    val rawLines = split(contentCol, java.util.regex.Pattern.quote(delimiter))
    val lines = when(contentCol.endsWith(delimiter) && size(rawLines) > 1,
      slice(rawLines, lit(1), size(rawLines) - 1)).otherwise(rawLines)
    val total = when(contentCol === "", lit(0)).otherwise(size(lines))
    val header = slice(lines, 1, headerLines)
    val body = slice(lines, lit(headerLines + 1), size(lines))
    val nFrags = ceil(size(body).cast("double") / linesPerFragment).cast("int")
    // sequence() rejects an empty ascending range, so generate >=1 slots
    // and slice down to the true fragment count (0 -> empty array)
    val splitsRows = slice(
      transform(sequence(lit(1), greatest(nFrags, lit(1)), lit(1)), i =>
        struct(lit("splits").as("relationship"), (i - 1).as("idx"),
          array_join(concat(header,
            slice(body, (i - 1) * linesPerFragment + 1, lit(linesPerFragment))),
            delimiter).as("frag"),
          nFrags.cast("long").as("cnt"))),
      lit(1), greatest(nFrags, lit(0)))
    val rows =
      when(lit(headerLines) > total,
        array(struct(lit("failure").as("relationship"), lit(0).as("idx"),
          contentCol.as("frag"), lit(0L).as("cnt"))))
      // same-typed empty array: no splits when the header consumes all lines
      .when(lit(headerLines) === total, filter(splitsRows, _ => lit(false)))
      .otherwise(splitsRows)
    df.select(
      idCol.as(FragmentAttrs.Identifier),
      explode(rows).as("r"))
      .select(col(s"`${FragmentAttrs.Identifier}`"),
        col("r.relationship").as("relationship"),
        col("r.idx").as("fragmentIndex"),
        col("r.frag").as("fragment"),
        col("r.cnt").as("fragmentCount"))
  }

  /** One emitted SplitText fragment (reference output-attribute set,
    * SplitText.h:115-140): 1-based index, assembled content,
    * `text.line.count` of non-empty body lines. */
  final case class TextFragment(index: Int, content: String, lineCount: Long)

  /**
   * The reference-exact SplitText fragment computation
   * (SplitText.cpp + detail::LineReader; behaviors pinned by
   * SplitTextTests.cpp:225-865):
   *
   *  - a line INCLUDES its endline; `\r\n` is one endline (LineReader
   *    LineInfo.endline_size); a final segment without a newline is still
   *    a line.
   *  - the header is the first `headerLineCount` lines, or with
   *    `headerMarker` every leading line starting with the marker; the
   *    header is prepended to EVERY fragment and counts toward the size
   *    cap.
   *  - fragments close when `lineSplitCount` body lines are reached, or
   *    when adding the next line would push header+body past
   *    `maxFragmentSize` — but a lone oversized line still forms a
   *    fragment.
   *  - with `trimTrailingNewlines` (reference default true) trailing
   *    `[\r\n]` runs are stripped from each assembled fragment; a
   *    fragment that trims to empty is dropped WITHOUT consuming an index
   *    (SplitTextTests.cpp "Fragment index should not be incremented");
   *    with a header, an only-newlines body emits the trimmed header.
   *  - Left(failure): header line count exceeds the content's line count,
   *    or the header alone exceeds `maxFragmentSize` — the whole input
   *    routes to `failure`.
   *
   * Pure per-document computation — the DataFrame wrapper below runs it
   * narrow (explode, no shuffle), parallel across documents.
   */
  private[graft] def computeTextSplits(
      content: String, lineSplitCount: Int,
      maxFragmentSize: Option[Long] = None, headerLineCount: Int = 0,
      headerMarker: Option[String] = None,
      trimTrailingNewlines: Boolean = true): Either[String, Seq[TextFragment]] = {
    require(lineSplitCount > 0 || maxFragmentSize.isDefined,
      "Line Split Count can only be 0 if Maximum Fragment Size is set")
    require(maxFragmentSize.forall(_ > 0), "Maximum Fragment Size cannot be 0")
    // LineReader: split AFTER each \n, endline kept with its line
    val lines = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var start = 0
      var i = 0
      while (i < content.length) {
        if (content.charAt(i) == '\n') { out += content.substring(start, i + 1); start = i + 1 }
        i += 1
      }
      if (start < content.length) out += content.substring(start)
      out.toVector
    }
    val header: Vector[String] =
      if (headerLineCount > 0) {
        if (lines.length < headerLineCount)
          return Left(s"header line count $headerLineCount exceeds line count ${lines.length}")
        lines.take(headerLineCount)
      } else headerMarker.filter(_.nonEmpty)
        .map(m => lines.takeWhile(_.startsWith(m))).getOrElse(Vector.empty)
    val headerSize = header.iterator.map(_.length.toLong).sum
    if (maxFragmentSize.exists(headerSize > _))
      return Left("header larger than maximum fragment size")
    val body = lines.drop(header.length)

    val rawFrags = scala.collection.mutable.ArrayBuffer.empty[Vector[String]]
    var cur = Vector.empty[String]
    var curSize = headerSize
    body.foreach { line =>
      val closeBySize = cur.nonEmpty &&
        maxFragmentSize.exists(m => curSize + line.length > m)
      val closeByCount = lineSplitCount > 0 && cur.length >= lineSplitCount
      if (closeBySize || closeByCount) {
        rawFrags += cur; cur = Vector.empty; curSize = headerSize
      }
      cur = cur :+ line; curSize += line.length
    }
    if (cur.nonEmpty) rawFrags += cur

    val headerText = header.mkString
    var idx = 0
    Right(rawFrags.iterator.flatMap { frag =>
      val raw = headerText + frag.mkString
      val out = if (trimTrailingNewlines) raw.replaceAll("[\r\n]+$", "") else raw
      if (out.isEmpty) None
      else {
        idx += 1
        val nonEmpty = frag.count(_.replaceAll("[\r\n]+$", "").nonEmpty)
        Some(TextFragment(idx, out, nonEmpty.toLong))
      }
    }.toVector)
  }

  /**
   * SplitText, full reference surface, as a DataFrame operator: one row
   * per emitted fragment with the reference's output attribute set —
   * `fragment.index` (1-based), `fragment.count`, `text.line.count`,
   * `fragment.size` — or a single `failure` row carrying the original
   * content. Narrow explode over [[computeTextSplits]].
   */
  def splitTextFull(df: DataFrame, idCol: Column, contentCol: Column,
                    lineSplitCount: Int, maxFragmentSize: Option[Long] = None,
                    headerLineCount: Int = 0, headerMarker: Option[String] = None,
                    trimTrailingNewlines: Boolean = true,
                    carry: Seq[String] = Nil): DataFrame = {
    // property validation fails ONCE on the driver (the reference rejects
    // the property set at onSchedule) — never per row inside the UDF
    require(lineSplitCount > 0 || maxFragmentSize.isDefined,
      "Line Split Count can only be 0 if Maximum Fragment Size is set")
    require(maxFragmentSize.forall(_ > 0), "Maximum Fragment Size cannot be 0")
    val splitUdf = udf { (content: String) =>
      computeTextSplits(Option(content).getOrElse(""), lineSplitCount,
        maxFragmentSize, headerLineCount, headerMarker,
        trimTrailingNewlines) match {
        case Left(_) => Seq(("failure", 0, Option(content).getOrElse(""), -1L, 0L))
        case Right(frags) if frags.isEmpty =>
          // zero fragments (empty content, header-consumes-all, trim
          // leaves nothing): the reference forwards the ORIGINAL onward —
          // never silently deletes the FlowFile
          Seq(("original", 0, Option(content).getOrElse(""), 0L, 0L))
        case Right(frags) =>
          frags.map(f => ("splits", f.index, f.content, f.lineCount,
            frags.size.toLong))
      }
    }
    df.select(carried(carry) ++ Seq(idCol.as(FragmentAttrs.Identifier),
        explode(splitUdf(contentCol)).as("r")): _*)
      .select(carried(carry) ++ Seq(col(s"`${FragmentAttrs.Identifier}`"),
        col("r._1").as("relationship"),
        col("r._2").as("fragmentIndex"),
        col("r._3").as("fragment"),
        col("r._4").as("textLineCount"),
        col("r._5").as("fragmentCount"),
        length(col("r._3")).cast("long").as("fragmentSize")): _*)
  }

  /** The `carry` columns a splitter copies from each input row onto every
    * fragment row it emits (the flow runner carries the parent's
    * attributes this way: a narrow projection, no join back). */
  private def carried(carry: Seq[String]): Seq[Column] =
    carry.map(c => col(s"`$c`"))

  /** SplitContent "Byte Sequence Location" (SplitContent.h:41). */
  sealed trait ByteSequenceLocation
  case object Trailing extends ByteSequenceLocation
  case object Leading extends ByteSequenceLocation

  /**
   * SplitContent (SplitContent.cpp:50-63, SplitContent.h:61-73): split on
   * a byte/char sequence; Keep Byte Sequence appends it to the preceding
   * split (Trailing) or prepends it to the following one (Leading); empty
   * splits are never emitted (SplitContentTests.cpp "rub-a-dub-dub" /
   * "ababab" batteries). Fragment indices number the EMITTED splits.
   * All narrow: split → indexed transform → filter → posexplode.
   */
  def splitContent(df: DataFrame, idCol: Column, contentCol: Column,
                   delimiter: String,
                   keepDelimiter: Boolean = false,
                   location: ByteSequenceLocation = Trailing): DataFrame = {
    val parts = split(contentCol, java.util.regex.Pattern.quote(delimiter))
    val lastIdx = size(parts) - 1
    val assembled =
      if (!keepDelimiter) parts
      else location match {
        case Trailing => transform(parts, (p, i) =>
          when(i < lastIdx, concat(p, lit(delimiter))).otherwise(p))
        case Leading => transform(parts, (p, i) =>
          when(i > 0, concat(lit(delimiter), p)).otherwise(p))
      }
    val emitted = filter(assembled, p => length(p) > 0)
    df.select(
      idCol.as(FragmentAttrs.Identifier),
      posexplode(emitted).as(Seq("idx0", "fragment")),
      size(emitted).cast("long").as("fragmentCount"))
      // one-based indexing (SplitContent.cpp:150)
      .select(col(s"`${FragmentAttrs.Identifier}`"),
        (col("idx0") + 1).as("fragmentIndex"), col("fragment"),
        col("fragmentCount"))
  }

  /**
   * SplitContent over BINARY content — the reference's DEFAULT Byte
   * Sequence Format is Hexadecimal over raw bytes (SplitContent.h:40-49),
   * which a string split corrupts (0xFF is invalid UTF-8). The scan +
   * keep-mode assembly runs in one native codegen'd expression
   * (graft.functions.SplitByteSequence); fragments stay BINARY end to end.
   */
  def splitContentBinary(df: DataFrame, idCol: Column, contentCol: Column,
                         delimiter: Array[Byte],
                         keepDelimiter: Boolean = false,
                         location: ByteSequenceLocation = Trailing,
                         carry: Seq[String] = Nil): DataFrame = {
    val emitted = org.apache.spark.sql.GraftColumnShim.column(
      graft.functions.SplitByteSequence(
        org.apache.spark.sql.GraftColumnShim.expression(contentCol),
        delimiter, keepDelimiter, location == Leading))
    df.select(carried(carry) ++ Seq(
      idCol.as(FragmentAttrs.Identifier),
      posexplode(emitted).as(Seq("idx0", "fragment")),
      size(emitted).cast("long").as("fragmentCount")): _*)
      .select(carried(carry) ++ Seq(col(s"`${FragmentAttrs.Identifier}`"),
        (col("idx0") + 1).as("fragmentIndex"), col("fragment"),
        col("fragmentCount")): _*)
  }

  /**
   * SegmentContent (SegmentContent.cpp:54): fixed-size segmentation.
   * `sequence` + `substring` — pure Catalyst, no UDF, one row in → k rows
   * out with no shuffle. Empty content emits NO segments
   * (SegmentContentTests.cpp:81-95 EmptyFlowFile) — the ≥1-slot sequence
   * is sliced down so the zero case yields an empty array.
   */
  def segmentContent(df: DataFrame, idCol: Column, contentCol: Column,
                     segmentSize: Int, carry: Seq[String] = Nil): DataFrame = {
    val nSegs = ceil(length(contentCol).cast("double") / segmentSize).cast("int")
    val segs = slice(
      transform(sequence(lit(0), greatest(nSegs, lit(1)) - 1, lit(1)),
        i => substring(contentCol, i * segmentSize + 1, lit(segmentSize))),
      lit(1), greatest(nSegs, lit(0)))
    df.select(carried(carry) ++ Seq(
      idCol.as(FragmentAttrs.Identifier),
      posexplode(segs).as(Seq("idx0", "segment")),
      size(segs).cast("long").as("fragmentCount")): _*)
      // one-based indexing (SegmentContent.cpp:46)
      .select(carried(carry) ++ Seq(col(s"`${FragmentAttrs.Identifier}`"),
        (col("idx0") + 1).as("segmentIndex"), col("segment"),
        col("fragmentCount")): _*)
  }

  /**
   * SplitRecord (SplitRecord.cpp:43): chunk a record stream into ≤N-record
   * groups. Scale shape: range-partition on the record order, sort *within*
   * partitions only, then chunk each partition's contiguous run — no global
   * row_number (a single-partition WindowExec at 100 TB). Chunk identity
   * (chunkPart, chunkId) depends on the partition count; callers assert
   * partition-independent facts (chunk size ≤ N, totals, disjoint ranges).
   * Project `df` down to needed columns first — column pruning does not
   * push through the nondeterministic chunk-id projection.
   */
  def splitRecordChunks(df: DataFrame, order: Seq[Column], recordsPerSplit: Int): DataFrame = {
    val ranged = df.repartitionByRange(order.map(_.asc): _*).sortWithinPartitions(order: _*)
    // low 33 bits of monotonically_increasing_id = row offset within its
    // partition, counted in physical (= sorted) row order
    val offset = monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1))
    ranged
      .withColumn("chunkPart", spark_partition_id().cast("long"))
      .withColumn("chunkId", floor(offset / recordsPerSplit))
  }

  /**
   * Lenient JSON record-set read, reproducing the reference JsonTreeReader
   * quirk that SplitRecord depends on: `JsonTreeReader::read`
   * (controllers/JsonTreeReader.cpp:124-143) IGNORES the boolean from
   * readAsJsonLines/readAsArray, so a malformed line or a non-object array
   * element never fails the read — records parsed BEFORE the first bad one
   * are kept and the rest are dropped. Array mode iff the content starts
   * with '[' (no whitespace tolerance, JsonTreeReader.cpp:133); otherwise
   * getline('\n') per-line records. Returns each record re-serialized
   * compactly (field order preserved).
   */
  private[graft] def lenientJsonRecords(content: String): Vector[String] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    if (content.startsWith("[")) {
      try {
        val n = mapper.readTree(content)
        if (n == null || !n.isArray) Vector.empty
        else {
          val buf = Vector.newBuilder[String]
          val it = n.elements()
          var ok = true
          while (ok && it.hasNext) {
            val e = it.next()
            if (e.isObject) buf += mapper.writeValueAsString(e) else ok = false
          }
          buf.result()
        }
      } catch { case _: Exception => Vector.empty }
    } else if (content.isEmpty) Vector.empty
    else {
      // std::getline semantics: "a\n" yields ["a"], "\n" yields [""]
      val parts = content.split("\n", -1)
      val lines = if (content.endsWith("\n")) parts.dropRight(1) else parts
      val buf = Vector.newBuilder[String]
      var ok = true
      lines.foreach { line =>
        if (ok) {
          val rec =
            try {
              val n = mapper.readTree(line)
              if (n != null && n.isObject) Some(mapper.writeValueAsString(n))
              else None
            } catch { case _: Exception => None }
          rec match { case Some(r) => buf += r; case None => ok = false }
        }
      }
      buf.result()
    }
  }

  /**
   * SplitRecord (processors/SplitRecord.cpp:43-100): slice a record
   * FlowFile into FlowFiles of at most `recordsPerSplit` records each,
   * written as compact JSON arrays. Output rows per input FlowFile:
   * `splits` rows carrying `record.count`, 0-BASED `fragment.index`
   * (SplitRecord.cpp:71 — unlike SplitContent/SegmentContent, which are
   * 1-based), `fragment.count` = ceil(records / recordsPerSplit),
   * `fragment.identifier`, `segment.original.filename`; plus one
   * `original` row — or a single `failure` row when Records Per Split
   * (per-row, EL-evaluable) is missing, non-numeric, or < 1
   * (SplitRecord.cpp:35-41,51-56). Narrow explode, no shuffle.
   */
  def splitRecordJson(df: DataFrame, idCol: Column, filenameCol: Column,
                      contentCol: Column, recordsPerSplit: Column): DataFrame = {
    val splitUdf = udf { (content: String, rpsStr: String) =>
      val c = Option(content).getOrElse("")
      val rps = Option(rpsStr).filter(_.matches("\\d+"))
        .map(_.toLong).getOrElse(0L)
      if (rps < 1)
        Seq(("failure", c, None: Option[Long], None: Option[Long], None: Option[Long]))
      else {
        val recs = lenientJsonRecords(c)
        val fragCount = (recs.size + rps - 1) / rps
        val splits = recs.grouped(rps.toInt).zipWithIndex.map { case (slice, i) =>
          ("splits", slice.mkString("[", ",", "]"),
            Some(slice.size.toLong), Some(i.toLong), Some(fragCount))
        }.toSeq
        splits :+ (("original", c, None: Option[Long], None: Option[Long],
          None: Option[Long]))
      }
    }
    df.select(idCol.as("ffId"), filenameCol.as("origName"),
        explode(splitUdf(contentCol, recordsPerSplit.cast("string"))).as("s"))
      .select(col("ffId"),
        col("s._1").as("relationship"), col("s._2").as("content"),
        col("s._3").as("record_count"), col("s._4").as("fragment_index"),
        col("s._5").as("fragment_count"),
        col("ffId").cast("string").as("fragment_identifier"),
        when(col("s._1") === "splits", col("origName"))
          .as("segment_original_filename"))
  }

  /**
   * Assert the chunk ranges of a chunked frame (chunkPart, chunkId plus
   * per-chunk ordMin/ordMax struct bounds) are pairwise disjoint, without
   * a quadratic all-pairs join: within a partition chunks equi-join on
   * chunkPart (hash join, pairs bounded per partition); across partitions
   * only the per-partition [min,max] envelopes are compared — one row per
   * partition. Strict inequalities because the order key may carry
   * duplicates, so adjacent chunks can share one tied boundary value.
   * Returns a single row with `no_overlap` BOOLEAN.
   */
  def chunkRangesDisjoint(chunks: DataFrame): DataFrame = {
    val intra = chunks.as("a").join(chunks.as("b"),
        col("a.chunkPart") === col("b.chunkPart") &&
        col("a.chunkId") =!= col("b.chunkId") &&
        col("a.ordMin") < col("b.ordMax") && col("b.ordMin") < col("a.ordMax"))
      .agg(count(lit(1)).as("intraOverlaps"))
    val parts = chunks.groupBy(col("chunkPart"))
      .agg(min(col("ordMin")).as("pMin"), max(col("ordMax")).as("pMax"))
    val inter = parts.as("a").join(parts.as("b"),
        col("a.chunkPart") =!= col("b.chunkPart") &&
        col("a.pMin") < col("b.pMax") && col("b.pMin") < col("a.pMax"))
      .agg(count(lit(1)).as("interOverlaps"))
    intra.crossJoin(inter)
      .select((col("intraOverlaps") === 0 && col("interOverlaps") === 0)
        .as("no_overlap"))
  }

  /**
   * MergeContent, Defragment strategy (extensions/libarchive/
   * MergeContent.h:293-331, defrag check MergeContent.cpp:391): reassemble
   * fragments by `fragment.identifier` ordered by `fragment.index`, complete
   * when `fragment.count` reached; concat format with demarcator
   * (header/footer optional). Incomplete groups route to `failure`.
   *
   * Spark shape: one shuffle on the fragment id;
   * `array_sort(collect_list(struct(idx, frag)))` gives deterministic
   * in-group order without a sort-within-partitions pass. `extraAggs`
   * ride in the same aggregate (e.g. [[mergedAttributesAgg]]).
   */
  def mergeContentDefragment(frags: DataFrame, idCol: Column, indexCol: Column,
                             fragmentCol: Column, countCol: Column,
                             demarcator: String,
                             header: String = "", footer: String = "",
                             extraAggs: Seq[Column] = Nil): DataFrame =
    frags
      .groupBy(idCol.as("mergeId"))
      .agg(
        concat(lit(header),
          array_join(
            transform(array_sort(collect_list(struct(indexCol.as("i"), fragmentCol.as("f")))),
              e => e.getField("f")),
            demarcator),
          lit(footer)).as("merged"),
        count(lit(1)).as("fragmentsSeen") +:
        first(countCol).as("fragmentsExpected") +: extraAggs: _*)
      .withColumn("relationship",
        when(col("fragmentsSeen") === col("fragmentsExpected"), "merged")
          .otherwise("failure"))

  /**
   * MergeContent, Bin-Pack strategy (BinFiles.cpp:284): accumulate rows into
   * bins correlated by an attribute with a max-count cap. Batch mapping:
   * row_number within correlation key → bin = floor((rn-1)/maxCount).
   */
  def mergeContentBinPack(df: DataFrame, correlationCol: Column, order: Seq[Column],
                          contentCol: Column, maxEntries: Int,
                          demarcator: String): DataFrame = {
    val rn = row_number().over(Window.partitionBy(correlationCol).orderBy(order: _*))
    df.withColumn("binId", floor((rn.cast("long") - 1) / maxEntries))
      .groupBy(correlationCol.as("correlation"), col("binId"))
      .agg(
        count(lit(1)).as("mergeCount"),
        array_join(transform(array_sort(collect_list(struct(order.head.as("o"),
          contentCol.as("c")))), e => e.getField("c")), demarcator).as("merged"))
  }

  /**
   * MergeContent Bin-Pack with the full BinFiles threshold set
   * (BinFiles.h:190-213): Maximum Number of Entries + Maximum Group Size
   * close bins; bins under Minimum Number of Entries / Minimum Group Size
   * are not ready and route to `undersized` (the reference holds them for
   * age flush; batch mode surfaces them for the caller's retry loop).
   * Concatenate format takes demarcator/header/footer
   * (MergeContent.h:299-331).
   *
   * Binning is deterministic given the per-correlation total order: chunk
   * by the count cap first, then split each count-chunk where the running
   * size crosses the size cap. The item that crosses the cap still joins
   * the closing bin (its pre-item size is < maxGroupSize), so a bin may
   * exceed maxGroupSize by less than one item — same bound as a greedy
   * packer that admits the straddling item. Windows partition by
   * correlation, so nothing collapses to one partition at scale.
   */
  def mergeContentBinPackSized(df: DataFrame, correlationCol: Column,
                               orderCol: Column, contentCol: Column,
                               maxEntries: Int, maxGroupSize: Long,
                               minEntries: Int = 1, minGroupSize: Long = 0,
                               demarcator: String = "",
                               header: String = "", footer: String = ""): DataFrame = {
    val wOrd = Window.partitionBy(correlationCol).orderBy(orderCol)
    val sized = df
      .withColumn("__sz", length(contentCol).cast("long"))
      .withColumn("__cchunk",
        floor((row_number().over(wOrd).cast("long") - 1) / maxEntries))
    val wChunk = Window.partitionBy(correlationCol, col("__cchunk"))
      .orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cumBefore = coalesce(sum(col("__sz")).over(wChunk), lit(0L))
    sized
      .withColumn("__schunk", floor(cumBefore / maxGroupSize))
      .groupBy(correlationCol.as("correlation"), col("__cchunk").as("binCount"),
        col("__schunk").as("binSize"))
      .agg(
        count(lit(1)).as("mergeCount"),
        sum(col("__sz")).as("binBytes"),
        // the straddling item is the bin's last in order
        max(struct(orderCol.as("o"), col("__sz").as("s"))).getField("s")
          .as("lastItemBytes"),
        // sorted member order-key list — the flow runner passes the row
        // uuid as orderCol and reads this back as JOIN lineage parents
        array_join(array_sort(collect_list(orderCol.cast("string"))), ",")
          .as("memberIds"),
        concat(lit(header),
          array_join(transform(array_sort(collect_list(struct(orderCol.as("o"),
            contentCol.as("c")))), e => e.getField("c")), demarcator),
          lit(footer)).as("merged"))
      .withColumn("relationship",
        when(col("mergeCount") >= minEntries && col("binBytes") >= minGroupSize,
          "merged").otherwise("undersized"))
  }

  /**
   * MergeContent Bin-Pack with the reference's EXACT sequential packing
   * rules (Bin::offer, BinFiles.h:74-97 + BinManager::offer,
   * BinFiles.cpp:164-190 + gatherReadyBins, BinFiles.cpp:97-115):
   *
   *  - STRICT FIT: an entry that would push the open bin past
   *    `maxGroupSize` bytes or `maxEntries` entries CLOSES the bin (it
   *    routes `merged`) and starts a new one — unlike
   *    [[mergeContentBinPackSized]], which admits the straddling entry.
   *  - CLOSE-WHEN-READY: a bin reaching BOTH `minEntries` and
   *    `minGroupSize` is ready and closes immediately (`merged`) — the
   *    reference gathers ready bins every trigger.
   *  - an entry larger than `maxGroupSize` by itself becomes its own
   *    ready bin (BinFiles.cpp:166-173).
   *  - a group's final still-open bin is the reference's PENDING bin; the
   *    batch sweep routes it `undersized` (the relaxed flush, same as the
   *    sized variant's below-minimum route).
   *
   * Scale shape: strict-fit assignment is a non-associative fold, so it
   * cannot be a prefix-sum window; instead repartition on the correlation
   * key + external sortWithinPartitions, then ONE streaming pass per
   * partition assigns and EMITS bins with O(bin) state (bounded by the
   * bin caps — exactly what the reference holds per Bin). Parallel across
   * correlation keys, sequential within one, no second shuffle: the merge
   * happens in the same scan that assigns bins.
   */
  def mergeContentBinPackStrict(df: DataFrame, correlationCol: Column,
                                orderCol: Column, contentCol: Column,
                                maxEntries: Int = Int.MaxValue,
                                maxGroupSize: Long = Long.MaxValue,
                                minEntries: Int = 1, minGroupSize: Long = 0,
                                demarcator: String = "",
                                header: String = "",
                                footer: String = ""): DataFrame = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.{Encoders, Row}
    val prepped = df
      .select(coalesce(correlationCol.cast("string"), lit(""))
          .as("correlation"),
        orderCol.as("__ord"), // native type: numeric order keys must not
                              // sort lexicographically
        coalesce(contentCol.cast("string"), lit("")).as("__content"))
      .repartition(col("correlation"))
      .sortWithinPartitions(col("correlation"), col("__ord"))
    val outSchema = StructType(Seq(
      StructField("correlation", StringType),
      StructField("binId", LongType),
      StructField("mergeCount", LongType),
      StructField("binBytes", LongType),
      StructField("memberIds", StringType),
      StructField("merged", StringType),
      StructField("relationship", StringType)))
    val enc = Encoders.row(outSchema)
    prepped.mapPartitions { rows =>
      new Iterator[Row] {
        private var curKey: String = null
        private var binId = -1L
        private val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        private val ids = scala.collection.mutable.ArrayBuffer.empty[String]
        private var bytes = 0L
        private val out = scala.collection.mutable.Queue.empty[Row]

        private def close(rel: String): Unit = {
          if (buf.nonEmpty) {
            out.enqueue(Row(curKey, binId, buf.size.toLong, bytes,
              ids.sorted.mkString(","),
              header + buf.mkString(demarcator) + footer, rel))
            buf.clear(); ids.clear(); bytes = 0L
          }
        }
        private def consume(r: Row): Unit = {
          val k = r.getString(0)
          val c = r.getString(2)
          val sz = c.length.toLong
          if (curKey == null || k != curKey) {
            close("undersized")               // pending bin of previous group
            curKey = k; binId = -1L
          }
          if (buf.nonEmpty &&
              (bytes + sz > maxGroupSize || buf.size + 1 > maxEntries))
            close("merged")                   // strict fit: overflow closes
          if (buf.isEmpty) binId += 1
          buf += c; ids += String.valueOf(r.get(1)); bytes += sz
          if (bytes >= minGroupSize && buf.size >= minEntries)
            close("merged")                   // ready bins gather each trigger
          else if (buf.size == 1 && bytes > maxGroupSize)
            close("merged")                   // oversized singleton own bin
        }
        def hasNext: Boolean = {
          while (out.isEmpty && rows.hasNext) consume(rows.next())
          if (out.isEmpty) close("undersized") // final pending bin
          out.nonEmpty
        }
        def next(): Row = out.dequeue()
      }
    }(enc)
  }

  /**
   * MergeContent TAR/ZIP merge formats with the reference's full merged-
   * FlowFile attribute contract (MergeContent.cpp:224-332, MergeContent.h:
   * 200-246):
   *
   *  - archive entries named by each member's `filename`, in bin order;
   *    TAR honors per-entry `tar.permissions` (default S_IFREG|0755).
   *  - Attribute Strategy "Keep Only Common Attributes": a (key,value)
   *    survives iff EVERY member carries exactly it (set intersection,
   *    MergeContent.cpp:349-355). "Keep All Unique Attributes": a key
   *    survives iff it never appears with two different values — a
   *    conflicting key is removed entirely (MergeContent.cpp:357-369).
   *  - then the processor overwrites `mime.type` (application/tar|zip,
   *    MergeContent.cpp:261-262), `fragment.count` = bin size
   *    (MergeContent.cpp:271), and `filename` = the single member's name
   *    (1-element bin) else the first member's `segment.original.filename`,
   *    + ".tar"/".zip" — set only when non-empty (MergeContent.cpp:305-331).
   *
   * Spark shape: two exchanges — the binning window on the correlation key,
   * then the bin groupBy on (correlation, bin); both partial-aggregate
   * map-side. The strategy merge runs as higher-order array functions over
   * the bin's collected attribute maps — per-bin work is O(entries²) with
   * entries bounded by maxEntries × attrs/flow, the same whole-bin-in-memory
   * bound the reference's Bin holds. No driver collect; bins for different
   * correlation keys merge in parallel.
   */
  def mergeContentArchive(df: DataFrame, correlationCol: Column,
                          orderCol: Column, filenameCol: Column,
                          contentCol: Column, attrsCol: Column,
                          format: String, maxEntries: Int,
                          attributeStrategy: String = "Keep Only Common Attributes"): DataFrame = {
    val (mime, ext) = format match {
      case "TAR" => ("application/tar", ".tar")
      case "ZIP" => ("application/zip", ".zip")
      case other => throw new IllegalArgumentException(
        s"unsupported archive merge format: $other")
    }
    val rn = row_number().over(Window.partitionBy(correlationCol).orderBy(orderCol))
    val binned = df
      .withColumn("__bin", floor((rn.cast("long") - 1) / maxEntries))
      .select(correlationCol.as("correlation"), col("__bin"),
        orderCol.as("__ord"), filenameCol.as("__name"),
        contentCol.cast("binary").as("__payload"),
        attrsCol.as("__attrs"))
    val agged = binned
      .groupBy(col("correlation"), col("__bin").as("binId"))
      .agg(
        count(lit(1)).as("fragmentCount"),
        // struct-with-map is not orderable, so the sortable member list
        // (order, name, payload, perm) and the attribute-map list are
        // collected separately; the map list needs no order
        array_sort(collect_list(struct(col("__ord").as("o"),
          col("__name").as("name"), col("__payload").as("payload"),
          col("__attrs").getItem("tar.permissions").as("perm"))))
          .as("members"),
        collect_list(col("__attrs")).as("attrMaps"),
        min_by(col("__name"), col("__ord")).as("firstName"),
        min_by(col("__attrs").getItem("segment.original.filename"),
          col("__ord")).as("firstSegName"))
    val names = transform(col("members"), m => m.getField("name"))
    val payloads = transform(col("members"), m => m.getField("payload"))
    val perms = transform(col("members"), m => m.getField("perm"))
    val archive =
      if (format == "TAR") Archive.tarPackMultiPerms(names, payloads, perms)
      else Archive.zipPackMulti(names, payloads)
    // strategy merge over the bin's attribute maps
    val allEntries = flatten(transform(col("attrMaps"), m => map_entries(m)))
    val distinctEntries = array_distinct(allEntries)
    val kept = attributeStrategy match {
      case "Keep Only Common Attributes" =>
        // (k,v) present in every member (keys are unique per map, so an
        // exact-pair count of n means all n members carry it)
        filter(distinctEntries, e =>
          size(filter(allEntries, x =>
            x.getField("key") === e.getField("key") &&
            x.getField("value") <=> e.getField("value"))) ===
          col("fragmentCount"))
      case "Keep All Unique Attributes" =>
        // key never appears with two different values
        filter(distinctEntries, e =>
          size(filter(distinctEntries, x =>
            x.getField("key") === e.getField("key"))) === 1)
      case other => throw new IllegalArgumentException(
        s"unsupported attribute strategy: $other")
    }
    val mergedAttrs = map_from_entries(kept)
    // processor-owned attributes overwrite the strategy's
    val base = map_concat(
      map_filter(mergedAttrs,
        (k, _) => k =!= "mime.type" && k =!= "fragment.count"),
      map(lit("mime.type"), lit(mime),
        lit("fragment.count"), col("fragmentCount").cast("string")))
    // Multi-member fallback: when the first member lacks
    // segment.original.filename, the reference's TarMerge/ZipMerge keeps the
    // strategy-merged filename (FlowFile::getAttribute leaves the string
    // unchanged on miss) and still appends the archive extension to it.
    val fname = concat(
      when(col("fragmentCount") === 1, col("firstName"))
        .otherwise(coalesce(col("firstSegName"),
          element_at(mergedAttrs, lit("filename")))), lit(ext))
    val finalAttrs = when(fname.isNotNull && length(fname) > length(lit(ext)),
        map_concat(map_filter(base, (k, _) => k =!= "filename"),
          map(lit("filename"), fname)))
      .otherwise(base)
    agged
      .withColumn("archive", archive)
      .withColumn("attributes", finalAttrs)
      .select(col("correlation"), col("binId"),
        col("fragmentCount"), col("archive"), col("attributes"),
        transform(col("members"), m => m.getField("name")).as("entryNames"))
  }

  /**
   * DefragmentText, batch semantics (DefragmentText.cpp:59): group
   * consecutive lines into messages bounded by a start pattern; each match
   * of `startPattern` begins a new message. Batch mapping: running count of
   * boundary rows per source key (one window) → message id, then the same
   * group-agg as merge. Streaming variant: streaming/StatefulOps.
   */
  def defragmentTextBatch(lines: DataFrame, sourceCol: Column, orderCol: Column,
                          lineCol: Column, startPattern: String,
                          demarcator: String): DataFrame = {
    val isStart = when(lineCol.rlike(startPattern), 1L).otherwise(0L)
    val msgId = sum(isStart).over(
      Window.partitionBy(sourceCol).orderBy(orderCol)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    lines.withColumn("messageId", msgId)
      .groupBy(sourceCol.as("source"), col("messageId"))
      .agg(
        array_join(transform(array_sort(collect_list(struct(orderCol.as("o"),
          lineCol.as("l")))), e => e.getField("l")), demarcator).as("message"),
        count(lit(1)).as("lineCount"))
  }

  /** [[mergedAttributesAgg]] per gid: (gid, mergedAttrs). */
  def mergedAttributes(df: DataFrame, gidCol: Column, attrsCol: Column,
                       keepOnlyCommon: Boolean = true): DataFrame =
    df.groupBy(gidCol.as("gid"))
      .agg(mergedAttributesAgg(attrsCol, keepOnlyCommon).as("mergedAttrs"))

  /**
   * MergeContent Attribute Strategy (merge_content_options
   * ATTRIBUTE_STRATEGY_*, MergeFileTests.cpp:600-700) as an aggregate
   * column: the merged FlowFile's attribute map from its members'.
   *
   * - Keep Only Common Attributes (default): a key survives iff it is
   *   present on EVERY member with one identical value.
   * - Keep All Unique Attributes: a key survives iff it never conflicts —
   *   one value wherever it appears, even if absent elsewhere.
   *
   * A null value counts as presence, never as a value: a key with only
   * null values never survives, and a null beside one value does not
   * conflict with it. A null map is a member with no keys.
   */
  def mergedAttributesAgg(attrsCol: Column, keepOnlyCommon: Boolean): Column =
    udf { (maps: Seq[Map[String, String]], members: Long) =>
      scala.collection.immutable.TreeMap.from[String, String](
        maps.flatten.groupBy(_._1).flatMap { case (k, kvs) =>
          kvs.flatMap(kv => Option(kv._2)).distinct match {
            case Seq(v) if !keepOnlyCommon || kvs.size == members =>
              Some(k -> v)
            case _ => None
          }
        })
    }.apply(collect_list(attrsCol), count(lit(1)))
}
