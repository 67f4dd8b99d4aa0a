package graft.streaming

import java.io.RandomAccessFile
import java.nio.charset.StandardCharsets
import java.util
import java.util.zip.CRC32

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/**
 * TailFile as a Structured Streaming source — SURVEY §2.1/§2.10.
 *
 * Re-expresses the reference's TailFile processor (extensions/
 * standard-processors/processors/TailFile.cpp:582; state struct
 * TailFile.h:90-113: per-file {position, checksum, last_read_time};
 * recovery TailFile.h:243-245) as a Spark DataSource v2
 * `MicroBatchStream`:
 *
 *  - offset = JSON map path → {pos, crc, crcLen, lastReadMs} — persisted
 *    in the streaming checkpoint exactly where the reference uses its
 *    StateManager;
 *  - rotation detection (TailFile.cpp:617-621 `fsize < state.position_`,
 *    strengthened with a head-CRC identity check): a shrunk file or a
 *    changed head prefix means the path was rotated/truncated;
 *  - rotated-file continuation (TailFile.cpp:558-575
 *    `sortAndSkipMainFilePrefix`): on rotation, files matching the
 *    Rolling Filename Pattern (`${filename}.*`, TailFile.cpp:504-508)
 *    with mtime >= the tracked file's last read time
 *    (`findRotatedFilesAfterLastReadTime`, TailFile.cpp:532-556) join
 *    the offset map; a rotated file whose prefix CRC matches the stored
 *    state CONTINUES from the stored position instead of re-reading —
 *    the pending-data-after-rename case — and the main path restarts
 *    at 0 (`processRotatedFiles`, TailFile.cpp:655-659);
 *  - only complete delimited pieces are emitted: the batch end position
 *    is capped at the last delimiter, like the reference's hold-back of
 *    the unfinished tail piece (FileReaderCallback, TailFile.cpp:681);
 *    the reference emits one FlowFile per piece *including* the
 *    delimiter — the row model here emits the piece text without it,
 *    with (path, lineOffset) carrying the provenance the reference
 *    encodes in the `filename.<start>-<end>` attribute;
 *  - one InputPartition per tailed file → per-file parallelism on a
 *    cluster; readers seek directly (no full-file re-read per batch).
 *
 * Read by `spark.readStream` (micro-batches) or `spark.read` (one batch:
 * the first micro-batch). In the engine its one caller is the flow
 * runtime's TailFile processor (flow.Processors.tailFile), for both modes.
 * Options: glob (file-name regex, Multiple-file-mode FileName),
 *   delimiter (single char, default "\n" — TailFile.cpp Delimiter),
 *   rollingPattern (glob with ${filename}, default "${filename}.*"),
 *   recursive ("true" recurses the base dir — Recursive lookup),
 *   initialStartPosition ("Beginning of File" default | "Beginning of
 *   Time" = also read already-rotated files | "Current Time" = start
 *   at the current EOF; TailFile.h InitialStartPositions).
 */
class TailFileSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TailFileSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val opts = TailOptions(
      dir = properties.get("path"),
      glob = Option(properties.get("glob")).getOrElse(".*"),
      delimiter = Option(properties.get("delimiter")).filter(_.nonEmpty)
        .map(_.charAt(0).toByte).getOrElse('\n'.toByte),
      rollingPattern = Option(properties.get("rollingPattern"))
        .getOrElse("${filename}.*"),
      recursive = Option(properties.get("recursive")).exists(_.toBoolean),
      initialStart = Option(properties.get("initialStartPosition"))
        .getOrElse("Beginning of File"),
      maxLinesPerTrigger = Option(properties.get("maxLinesPerTrigger"))
        .map(_.toLong).getOrElse(0L),
      maxBytesPerTrigger = Option(properties.get("maxBytesPerTrigger"))
        .map(_.toLong).getOrElse(0L))
    new TailTable(opts)
  }
}

private[streaming] final case class TailOptions(
    dir: String, glob: String, delimiter: Byte,
    rollingPattern: String, recursive: Boolean, initialStart: String,
    // per-trigger admission control (0 = all available) — the flow
    // runtime maps an EXPLICIT connection "max work queue size" /
    // "max work queue data size" onto these (SURVEY §2.10's
    // maxOffsetsPerTrigger-style mapping); repeated triggers drain the
    // backlog in capped micro-batches
    maxLinesPerTrigger: Long = 0L, maxBytesPerTrigger: Long = 0L) {
  def admissionCapped: Boolean =
    maxLinesPerTrigger > 0 || maxBytesPerTrigger > 0
  def startAtCurrent: Boolean = initialStart.equalsIgnoreCase("Current Time")
  def beginningOfTime: Boolean = initialStart.equalsIgnoreCase("Beginning of Time")
}

object TailFileSource {
  val schema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("lineOffset", LongType, nullable = false),
    StructField("line", StringType, nullable = false)))

  /** Tail state per file: read position + head checksum over the first
    * `crcLen` bytes + the last time the position advanced
    * (TailFile.h:90-113 position+checksum+last_read_time). The window
    * length is stored so a grown file re-verifies over the SAME prefix.
    * `rotatedFinal` marks a rolled file swept in by rotation detection
    * (TailState::is_rotated_, TailFile.h:113): its read ceiling is EOF and
    * the unterminated final piece IS emitted (TailFile.cpp:688
    * `endedWithDelimiter() || is_rotated_`) — a rolled file never grows. */
  final case class FileState(pos: Long, crc: Long, crcLen: Long,
                             lastReadMs: Long = 0L,
                             rotatedFinal: Boolean = false)

  /** Minimal JSON for the offset map —
    * {"path":[pos,crc,crcLen,lastRead,rotated01]}. */
  def stateToJson(m: Map[String, FileState]): String =
    m.toSeq.sortBy(_._1).map { case (p, s) =>
      "\"" + p.replace("\\", "\\\\").replace("\"", "\\\"") +
        s"""":[${s.pos},${s.crc},${s.crcLen},${s.lastReadMs},${if (s.rotatedFinal) 1 else 0}]"""
    }.mkString("{", ",", "}")

  def stateFromJson(j: String): Map[String, FileState] = {
    // hand-rolled parse of the fixed shape above; accepts the pre-round-10
    // 3-element form (no lastReadMs/rotated flag) for checkpoint compat
    val entry = """"((?:[^"\\]|\\.)*)":\[(\d+),(\d+),(\d+)(?:,(\d+))?(?:,(\d+))?\]""".r
    entry.findAllMatchIn(j).map { m =>
      val path = m.group(1).replace("\\\"", "\"").replace("\\\\", "\\")
      path -> FileState(m.group(2).toLong, m.group(3).toLong, m.group(4).toLong,
        Option(m.group(5)).map(_.toLong).getOrElse(0L),
        Option(m.group(6)).exists(_ == "1"))
    }.toMap
  }

  /** CRC32 over the first min(n, len) bytes of the file. */
  def headCrc(f: java.io.File, n: Long = 64L): Long = {
    val raf = new RandomAccessFile(f, "r")
    try {
      val len = math.min(n, raf.length()).toInt
      val buf = new Array[Byte](len)
      raf.readFully(buf)
      val crc = new CRC32(); crc.update(buf); crc.getValue
    } finally raf.close()
  }

  /** Position just past the last delimiter at or before EOF (complete
    * pieces only — the unfinished tail piece is held back, like the
    * reference's FileReaderCallback latching only up to the delimiter). */
  def lastDelimiterEnd(f: java.io.File, delim: Byte = '\n'.toByte): Long = {
    val raf = new RandomAccessFile(f, "r")
    try {
      var p = raf.length() - 1
      while (p >= 0) {
        raf.seek(p)
        if (raf.readByte() == delim) return p + 1
        p -= 1
      }
      0L
    } finally raf.close()
  }

  /** Admission-control ceiling: position just past the last delimiter
    * reachable from `from` within `maxLines` complete lines and `maxBytes`
    * bytes (0 = unlimited), plus the number of lines admitted. Scans
    * forward only over the capped span — the bytes the batch is about to
    * read anyway — so the per-trigger cost is bounded by the cap itself. */
  def cappedDelimiterEnd(f: java.io.File, from: Long, maxLines: Long,
                         maxBytes: Long,
                         delim: Byte = '\n'.toByte): (Long, Long) = {
    val raf = new RandomAccessFile(f, "r")
    try {
      val len = raf.length()
      val ceiling = if (maxBytes > 0) math.min(len, from + maxBytes) else len
      raf.seek(from)
      val buf = new Array[Byte](64 * 1024)
      var pos = from
      var lines = 0L
      var lastEnd = from
      var exhausted = false
      while (pos < ceiling && !exhausted) {
        val n = raf.read(buf, 0, math.min(buf.length.toLong, ceiling - pos).toInt)
        if (n <= 0) exhausted = true
        else {
          var i = 0
          while (i < n && !exhausted) {
            if (buf(i) == delim) {
              lines += 1
              lastEnd = pos + i + 1
              if (maxLines > 0 && lines >= maxLines) exhausted = true
            }
            i += 1
          }
          pos += n
        }
      }
      (lastEnd, lines)
    } finally raf.close()
  }

  /** The reference's rolling-pattern expansion (TailFile.cpp:504-508):
    * `${filename}` is the tailed file's name up to its LAST dot; the glob
    * (`*`/`?`) is then matched against sibling file names. */
  def rollingRegex(fileName: String, pattern: String): scala.util.matching.Regex = {
    val lastDot = fileName.lastIndexOf('.')
    val base = if (lastDot >= 0) fileName.substring(0, lastDot) else fileName
    val glob = pattern.replace("${filename}", base)
    // glob → regex, quoting everything but * and ?
    val sb = new StringBuilder
    glob.foreach {
      case '*' => sb.append(".*")
      case '?' => sb.append('.')
      case c if "\\.[]{}()+-^$|".indexOf(c) >= 0 => sb.append('\\').append(c)
      case c => sb.append(c)
    }
    sb.toString.r
  }
}

private class TailTable(opts: TailOptions) extends Table with SupportsRead {
  override def name(): String = s"tail:${opts.dir}"
  override def schema(): StructType = TailFileSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = TailFileSource.schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new TailMicroBatchStream(opts)
      // a batch read is the stream's first micro-batch, planned once:
      // initialOffset -> latestOffset, same partitions, same reader
      override def toBatch: Batch = new Batch {
        private lazy val stream = new TailMicroBatchStream(opts)
        private lazy val partitions = {
          val start = stream.initialOffset()
          stream.planInputPartitions(start,
            stream.latestOffset(start, ReadLimit.allAvailable()))
        }
        override def planInputPartitions(): Array[InputPartition] = partitions
        override def createReaderFactory(): PartitionReaderFactory =
          stream.createReaderFactory()
      }
    }
}

private case class TailOffset(json: String) extends Offset {
  lazy val state: Map[String, TailFileSource.FileState] =
    TailFileSource.stateFromJson(json)
}

private class TailMicroBatchStream(opts: TailOptions)
  extends MicroBatchStream with SupportsAdmissionControl {
  import TailFileSource._

  private def listFiles(): Seq[java.io.File] = {
    def walk(d: java.io.File): Seq[java.io.File] = {
      val children = Option(d.listFiles()).getOrElse(Array.empty).toSeq
      children.filter(f => f.isFile && f.getName.matches(opts.glob)) ++
        (if (opts.recursive) children.filter(_.isDirectory).flatMap(walk)
         else Seq.empty)
    }
    walk(new java.io.File(opts.dir)).sortBy(_.getPath)
  }

  /** Sibling files matching the rolling pattern for `main`, excluding the
    * main file itself (TailFile.cpp:517-518 `file_name != state.file_name_`). */
  private def rollingFiles(main: java.io.File): Seq[java.io.File] = {
    val re = rollingRegex(main.getName, opts.rollingPattern)
    Option(main.getParentFile.listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => f.isFile && f.getName != main.getName &&
        re.pattern.matcher(f.getName).matches())
  }

  /** Initial Start Position (TailFile.h InitialStartPositions,
    * TailFileTests.cpp:1469-1673): "Beginning of File" (default) starts
    * every file at byte 0; "Current Time" snapshots the files' CURRENT
    * end positions as the initial state, so only content appended after
    * the stream starts is emitted. Only consulted when no checkpoint
    * exists — a restart resumes from the checkpointed positions either
    * way, exactly like the reference's stored state taking precedence. */
  override def initialOffset(): Offset =
    if (!opts.startAtCurrent) TailOffset("{}")
    else {
      val now = System.currentTimeMillis()
      val snapshot = listFiles().flatMap { f =>
        try {
          val crcLen = math.min(64L, f.length())
          // snapshot the file END (the reference starts at EOF in this
          // mode) — lastDelimiterEnd would rewind to before a pre-existing
          // unterminated tail line and emit it once completed
          Some(f.getPath -> FileState(f.length(), headCrc(f, crcLen), crcLen, now))
        } catch { case _: java.io.IOException => None }
      }.toMap
      knownState = snapshot
      TailOffset(stateToJson(snapshot))
    }

  /** Last successfully probed (or checkpoint-restored) per-file state —
    * carried forward when a probe fails transiently, so a momentary
    * IOException does not drop the stored position and force a re-read
    * from byte 0 (only a real head-CRC mismatch restarts a file). */
  @volatile private var knownState: Map[String, FileState] = Map.empty
  private var firstLatest = true

  private def probe(f: java.io.File, now: Long): Option[FileState] =
    try {
      val crcLen = math.min(64L, f.length())
      Some(FileState(lastDelimiterEnd(f, opts.delimiter), headCrc(f, crcLen),
        crcLen, now))
    } catch { case _: java.io.IOException => None }

  /** SupportsAdmissionControl entry point — the one Spark actually calls,
    * passing the restored START offset on a checkpoint restart. Seeding the
    * carry-forward state from it BEFORE probing is what lets the first
    * trigger after a restart still detect a rotation that happened while
    * the stream was down (TailFileTests.cpp:1038-1092): the plain
    * latestOffset() has no argument, and deserializeOffset is only invoked
    * lazily at planInputPartitions time — too late for the probe. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    if (knownState.isEmpty && start != null)
      knownState = start.asInstanceOf[TailOffset].state
    latestOffset()
  }
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(): Offset = {
    val now = System.currentTimeMillis()
    val mains = listFiles()
    val mainPaths = mains.map(_.getPath).toSet
    val next = collection.mutable.Map[String, FileState]()
    // admission-control budget shared across files this trigger (0 caps
    // disable a dimension); repeated triggers drain the remainder
    var remLines = opts.maxLinesPerTrigger
    var remBytes = opts.maxBytesPerTrigger
    mains.foreach { f =>
      val prev = knownState.get(f.getPath)
      probe(f, now) match {
        case Some(probed0) =>
          // cap the advance at the per-trigger budget (non-rotated mains
          // only: a rotated-away file is final and must be read to EOF to
          // release its rolled state)
          val capBudgets =
            (if (opts.maxLinesPerTrigger > 0) Some(remLines) else None,
             if (opts.maxBytesPerTrigger > 0) Some(remBytes) else None)
          def cappedProbe(p: FileState): FileState = {
            val floor = prev.map(_.pos).getOrElse(0L)
            if (p.pos <= floor) p
            else if (capBudgets._1.exists(_ <= 0) ||
                     capBudgets._2.exists(_ <= 0)) p.copy(pos = floor)
            else {
              val (end, lines) = TailFileSource.cappedDelimiterEnd(f, floor,
                capBudgets._1.getOrElse(0L), capBudgets._2.getOrElse(0L),
                opts.delimiter)
              remLines -= lines
              remBytes -= (end - floor)
              p.copy(pos = end)
            }
          }
          val rotatedPre = prev.exists { p =>
            val len = f.length()
            len < p.pos || len < p.crcLen ||
              (try headCrc(f, p.crcLen) != p.crc
               catch { case _: java.io.IOException => true })
          }
          val probed =
            if (!opts.admissionCapped || rotatedPre) probed0
            else cappedProbe(probed0)
          // rotation suspected: the file shrank below the stored position
          // (TailFile.cpp:617-621) or its head prefix no longer matches
          val rotated = rotatedPre
          // sweep rolled files into the offset map when the tracked file
          // rotated (mtime >= last read, TailFile.cpp:545-549) or on the
          // very first look under Beginning of Time (findAllRotatedFiles,
          // TailFile.cpp:510-530 — no mtime filter)
          val sweepAll = opts.beginningOfTime && prev.isEmpty && firstLatest
          if (rotated || sweepAll) {
            val floorSec = prev.map(_.lastReadMs / 1000).getOrElse(0L)
            rollingFiles(f)
              .filter(r => sweepAll || r.lastModified() / 1000 >= floorSec)
              .filterNot(r => mainPaths(r.getPath))
              .foreach { r =>
                // a rolled file is FINAL: its read ceiling is EOF and the
                // unterminated last piece is emitted (is_rotated_,
                // TailFile.cpp:688). planInputPartitions decides whether it
                // CONTINUES a rotated-away main state (prefix CRC match) or
                // is read from 0.
                try {
                  val crcLen = math.min(64L, r.length())
                  next(r.getPath) = FileState(r.length(), headCrc(r, crcLen),
                    crcLen, now, rotatedFinal = true)
                } catch { case _: java.io.IOException => () }
              }
          }
          // positions must be MONOTONIC per file: Structured Streaming
          // replaces the next batch's start with this END offset, so a
          // delimiter-aligned probe below an EOF snapshot (a pre-existing
          // partial tail line under Initial Start Position = Current Time)
          // would silently rewind the stream. Clamp to the known floor when
          // it is still the same file (head prefix verifies, length covers
          // the floor).
          val clamped = prev match {
            case Some(p) if !rotated && probed.pos < p.pos => probed.copy(pos = p.pos)
            case _ => probed
          }
          // keep the stored lastRead when the position did not advance
          val withRead = prev match {
            case Some(p) if !rotated && clamped.pos <= p.pos =>
              clamped.copy(lastReadMs = p.lastReadMs)
            case _ => clamped
          }
          next(f.getPath) = withRead
        case None =>
          // transient probe failure (mid-rotation, permission blip): keep
          // the previous trigger's state for this path; if it was a genuine
          // rotation the next successful probe's CRC check catches it
          prev.foreach(p => next(f.getPath) = p)
      }
    }
    // rolled files from previous batches stay in the offset map (their
    // entries are what prevents a re-read if they match again) — carry
    // them forward untouched unless this trigger re-probed them above
    knownState.foreach { case (p, s) =>
      if (!next.contains(p) && !mainPaths(p)) next(p) = s
    }
    firstLatest = false
    knownState = next.toMap
    TailOffset(stateToJson(knownState))
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[TailOffset].state
    val e = end.asInstanceOf[TailOffset].state
    // Rotated-file continuation (TailFile.cpp:558-575): a path NEW in this
    // batch may be the renamed remains of a tracked file — identified by the
    // prefix checksum over the stored window matching the stored CRC and the
    // file still covering the stored position. Like the reference, only the
    // FIRST matching new file per old state continues from the stored
    // position (sortAndSkipMainFilePrefix promotes exactly matched_files[0]);
    // any further checksum twin is read in full from 0.
    val newPaths = e.keys.filterNot(s.contains).toSeq.sorted
    val rotatedAway = s.filter { case (oldPath, old) =>
      old.pos > 0 &&
        // the old path no longer carries old's state forward in the end map
        e.get(oldPath).forall(n => n.crc != old.crc || n.pos < old.pos)
    }.toSeq.sortBy(_._1)
    val transfers = collection.mutable.Map[String, Long]()
    val usedOld = collection.mutable.Set[String]()
    newPaths.foreach { np =>
      val f = new java.io.File(np)
      rotatedAway.foreach { case (oldPath, old) =>
        if (!usedOld(oldPath) && !transfers.contains(np) && oldPath != np &&
          (try {
            f.length() >= old.pos &&
              TailFileSource.headCrc(f, old.crcLen) == old.crc
          } catch { case _: java.io.IOException => false })) {
          transfers(np) = old.pos
          usedOld += oldPath
        }
      }
    }
    e.flatMap { case (path, endState) =>
      val from = s.get(path) match {
        // rotation/truncation: the previous head prefix no longer matches
        // (re-hashed over the stored window) or the file shrank → restart 0
        case Some(prev) =>
          val f = new java.io.File(path)
          val sameHead = try {
            f.length() >= prev.crcLen &&
              TailFileSource.headCrc(f, prev.crcLen) == prev.crc
          } catch { case _: java.io.IOException => false }
          // truncation = the file shrank below the stored position (compare
          // against the FILE length, not endState.pos: a Current-Time
          // snapshot sits at EOF, legitimately past the delimiter-aligned
          // read ceiling of a trailing partial line)
          if (sameHead && prev.pos <= f.length()) prev.pos else 0L
        case None => transfers.getOrElse(path, 0L)
      }
      if (endState.pos > from) Some(TailPartition(path, from, endState.pos,
        opts.delimiter, endState.rotatedFinal))
      else None
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    (p: InputPartition) => new TailReader(p.asInstanceOf[TailPartition])

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
  override def deserializeOffset(json: String): Offset = {
    val o = TailOffset(json)
    // checkpoint-restart path: seed the carry-forward state from the
    // restored offset so the first trigger also survives a probe failure
    if (knownState.isEmpty) knownState = o.state
    o
  }
}

private case class TailPartition(path: String, from: Long, until: Long,
                                 delim: Byte, emitTail: Boolean)
  extends InputPartition

/**
 * Seeks to `from`, reads [from, until), emits one row per delimited piece.
 *
 * Robust to the file rotating/truncating BETWEEN offset planning and the
 * read (the reference re-opens and re-checks per trigger): the read clamps
 * to the currently-available length and drops a trailing incomplete piece;
 * a vanished or shrunk-below-`from` file yields zero rows. The next
 * batch's head-CRC check then detects the rotation and restarts at 0 —
 * a truncation mid-batch must not fail the task.
 */
private class TailReader(p: TailPartition) extends PartitionReader[InternalRow] {
  private val lines: Array[String] =
    try {
      val raf = new RandomAccessFile(p.path, "r")
      try {
        val avail = raf.length()
        if (avail <= p.from) Array.empty
        else {
          val until = math.min(p.until, avail)
          raf.seek(p.from)
          val buf = new Array[Byte]((until - p.from).toInt)
          raf.readFully(buf)
          val text = new String(buf, StandardCharsets.UTF_8)
          val pieces =
            text.split(java.util.regex.Pattern.quote(p.delim.toChar.toString), -1)
          // `until == p.until` is just past a delimiter by construction —
          // the trailing split element is the empty post-delimiter slice —
          // EXCEPT for a rotated-final read to EOF, whose unterminated last
          // piece is emitted (TailFile.cpp:688). A clamped read (the file
          // shrank mid-batch) may end mid-piece — drop the incomplete tail.
          if (p.emitTail && until == p.until && pieces.last.nonEmpty) pieces
          else pieces.dropRight(1)
        }
      } finally raf.close()
    } catch { case _: java.io.IOException => Array.empty }
  private var idx = -1
  private var offset = p.from

  override def next(): Boolean = { idx += 1; idx < lines.length }
  override def get(): InternalRow = {
    val lineStart = offset
    offset += lines(idx).getBytes(StandardCharsets.UTF_8).length + 1
    InternalRow(UTF8String.fromString(p.path), lineStart,
      UTF8String.fromString(lines(idx)))
  }
  override def close(): Unit = ()
}
