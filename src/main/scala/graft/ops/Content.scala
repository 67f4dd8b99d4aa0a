package graft.ops

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.util.zip.{DeflaterOutputStream, GZIPOutputStream, InflaterInputStream}

import org.apache.commons.compress.compressors.bzip2.{BZip2CompressorInputStream, BZip2CompressorOutputStream}
import org.apache.commons.compress.compressors.lzma.LZMACompressorInputStream
import org.apache.commons.compress.compressors.xz.XZCompressorInputStream
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.el.ElCompiler

/**
 * Content codec / restructuring operators — SURVEY §2.4.
 *
 * CompressContent (CompressContent.h:48-77, CompressContent.cpp:68),
 * JoltTransformJSON (JoltTransformJSON.cpp:46), ApplyTemplate
 * (extensions/bustache/ApplyTemplate.cpp). Codecs are binary UDFs (no
 * Catalyst codec primitive exists); Jolt *shift* specs compile to a pure
 * Catalyst struct projection at plan-build time — the spec drives code
 * generation, not per-row interpretation, so the transform stays inside
 * whole-stage codegen (the reference interprets the spec per FlowFile).
 */
object Content {

  /** CompressContent codecs. Format names follow the reference's
    * ExtendedCompressionFormat (CompressContent.h:53-71): gzip, bzip2,
    * lzma, xz-lzma2 (+ deflate as the raw-zlib extra). GZIP output is
    * deterministic (no mtime header in java.util.zip by default). */
  val gzipUdf = udf((b: Array[Byte]) =>
    if (b == null) null
    else {
      val bos = new ByteArrayOutputStream()
      val g = new GZIPOutputStream(bos); g.write(b); g.close()
      bos.toByteArray
    })

  val deflateUdf = udf((b: Array[Byte]) =>
    if (b == null) null
    else {
      val bos = new ByteArrayOutputStream()
      val d = new DeflaterOutputStream(bos); d.write(b); d.close()
      bos.toByteArray
    })

  val inflateUdf = udf((b: Array[Byte]) =>
    if (b == null) null
    else new InflaterInputStream(new ByteArrayInputStream(b)).readAllBytes())

  val bzip2Udf = udf((b: Array[Byte]) =>
    if (b == null) null
    else {
      val bos = new ByteArrayOutputStream()
      // block size scaled to the payload (100 KB units, min 1): the encoder
      // allocates ~8× the block size PER CALL, so the default 900 KB block
      // costs ~7 MB of allocation to compress a few-hundred-byte FlowFile
      // (measured 92 s for 500 small docs vs ~0.1 s with right-sized blocks);
      // a block only bounds bytes-per-block, so outputs for payloads under
      // the block size are byte-identical round-trippers either way
      val blocks = math.min(9, math.max(1, (b.length + 99999) / 100000))
      val z = new BZip2CompressorOutputStream(bos, blocks); z.write(b); z.close()
      bos.toByteArray
    })

  val bunzip2Udf = udf((b: Array[Byte]) =>
    if (b == null) null
    else new BZip2CompressorInputStream(new ByteArrayInputStream(b)).readAllBytes())

  /** LZMA2 options for per-FlowFile payloads. The library default (preset
    * 6, 8 MiB dictionary) allocates a ~100 MB match-finder PER CALL — on
    * KB-size content that allocation dominates by orders of magnitude
    * (measured: ~1 s/row; the whole sf0.01 oracle column stalled minutes
    * in one task). Preset 1 with a 1 MiB dictionary matches the
    * reference's default compression level 1 (CompressContent.h:76
    * `CompressLevel` default) and compresses small payloads
    * indistinguishably; decompression accepts any preset, so round-trips
    * are unaffected. */
  private def lzmaOpts = {
    val o = new org.tukaani.xz.LZMA2Options(1)
    o.setDictSize(1 << 16)
    o
  }

  /** Per-executor recycled buffer pool for the LZMA family: the encoder's
    * dictionary + match-finder arrays are the whole cost on KB payloads,
    * and the library re-allocates them per stream unless an ArrayCache is
    * supplied. One cache per executor JVM, shared by all tasks. */
  private lazy val lzmaCache: org.tukaani.xz.ArrayCache = {
    val c = new org.tukaani.xz.BasicArrayCache()
    c
  }

  val xzUdf = udf((b: Array[Byte]) =>
    if (b == null) null
    else {
      val bos = new ByteArrayOutputStream()
      val z = new org.tukaani.xz.XZOutputStream(bos, lzmaOpts, lzmaCache)
      z.write(b); z.close()
      bos.toByteArray
    })

  val unxzUdf = udf((b: Array[Byte]) =>
    if (b == null) null
    else new XZCompressorInputStream(new ByteArrayInputStream(b)).readAllBytes())

  val lzmaUdf = udf((b: Array[Byte]) =>
    if (b == null) null
    else {
      val bos = new ByteArrayOutputStream()
      // known-size .lzma stream (no end marker) — same container the
      // reference's liblzma alone-encoder writes; commons-compress reads it
      val z = new org.tukaani.xz.LZMAOutputStream(bos, lzmaOpts, b.length.toLong,
        lzmaCache)
      z.write(b); z.close()
      bos.toByteArray
    })

  val unlzmaUdf = udf((b: Array[Byte]) =>
    if (b == null) null
    else new LZMACompressorInputStream(new ByteArrayInputStream(b)).readAllBytes())

  /** Wrap a native Catalyst expression as a Column (see GraftColumnShim). */
  private def nativeExpr(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.GraftColumnShim.column(e)
  private def exprOf(c: Column) =
    org.apache.spark.sql.GraftColumnShim.expression(c)

  def compress(c: Column, format: String): Column = format match {
    // gzip is the hot default → native codegen'd Expression, not a UDF
    // (graft.functions.CodecExpressions; also SQL-addressable as
    // graft_gzip via GraftExtensions)
    case "gzip"     => nativeExpr(graft.functions.GzipCompress(exprOf(c.cast("binary"))))
    case "deflate"  => deflateUdf(c.cast("binary"))
    case "bzip2"    => bzip2Udf(c.cast("binary"))
    case "xz-lzma2" => xzUdf(c.cast("binary"))
    case "lzma"     => lzmaUdf(c.cast("binary"))
    case other      => throw new IllegalArgumentException(s"codec $other")
  }

  def decompress(c: Column, format: String): Column = format match {
    case "gzip"     => nativeExpr(graft.functions.GzipDecompress(exprOf(c.cast("binary"))))
    case "deflate"  => inflateUdf(c.cast("binary"))
    case "bzip2"    => bunzip2Udf(c.cast("binary"))
    case "xz-lzma2" => unxzUdf(c.cast("binary"))
    case "lzma"     => unlzmaUdf(c.cast("binary"))
    case other      => throw new IllegalArgumentException(s"codec $other")
  }

  private def safe(f: Array[Byte] => Array[Byte]) =
    udf((b: Array[Byte]) =>
      if (b == null) null
      else try f(b) catch { case _: Exception => null })

  /**
   * Total decompression: corrupt input yields NULL instead of a
   * task-killing exception, so a single bad record in a 100 TB scan routes
   * to `failure` (CompressContentTests.cpp:681) rather than aborting the
   * job. gzip stays a native codegen'd expression; the cold formats pay a
   * try-wrapped UDF.
   */
  def tryDecompress(c: Column, format: String): Column = format match {
    case "gzip" =>
      nativeExpr(graft.functions.GzipTryDecompress(exprOf(c.cast("binary"))))
    case "deflate"  => safe(b =>
      new InflaterInputStream(new ByteArrayInputStream(b)).readAllBytes())(
      c.cast("binary"))
    case "bzip2"    => safe(b =>
      new BZip2CompressorInputStream(new ByteArrayInputStream(b)).readAllBytes())(
      c.cast("binary"))
    case "xz-lzma2" => safe(b =>
      new XZCompressorInputStream(new ByteArrayInputStream(b)).readAllBytes())(
      c.cast("binary"))
    case "lzma"     => safe(b =>
      new LZMACompressorInputStream(new ByteArrayInputStream(b)).readAllBytes())(
      c.cast("binary"))
    case other      => throw new IllegalArgumentException(s"codec $other")
  }

  /** mime.type the reference stamps after compressing
    * (CompressContent.cpp:205-213 toMimeType). */
  def mimeTypeFor(format: String): String = format match {
    case "gzip"     => "application/gzip"
    case "bzip2"    => "application/bzip2"
    case "lzma"     => "application/x-lzma"
    case "xz-lzma2" => "application/x-xz"
    case other      => throw new IllegalArgumentException(s"no mime for $other")
  }

  /** mime.type → format for "use mime.type attribute" decompression
    * (CompressContent.cpp:36-42 compressionFormatMimeTypeMap_). */
  val MimeFormats: Seq[(String, String)] = Seq(
    "application/gzip" -> "gzip",
    "application/bzip2" -> "bzip2",
    "application/x-bzip2" -> "bzip2",
    "application/x-lzma" -> "lzma",
    "application/x-xz" -> "xz-lzma2")

  /**
   * Decompress in "Use mime.type attribute" mode: per-row codec dispatch on
   * the mime column via a lazily-evaluated CASE chain (only the matching
   * codec UDF runs per row). An unmapped mime passes content through
   * unchanged — the reference routes such files straight to success
   * (CompressContent.cpp:100).
   */
  def decompressByMime(c: Column, mimeCol: Column): Column =
    MimeFormats.foldLeft(Option.empty[Column]) {
      case (acc, (mime, fmt)) =>
        // total branches: content whose bytes don't match its claimed
        // mime.type must route, not throw (same policy as tryDecompress)
        val branch = tryDecompress(c, fmt)
        Some(acc.map(_.when(mimeCol === mime, branch))
          .getOrElse(when(mimeCol === mime, branch)))
    }.get.otherwise(c.cast("binary"))

  /**
   * SplitJson (SplitJson.cpp:79): explode a JSON array in the content into
   * one row per element with fragment attributes — `from_json` to an array
   * of strings + `posexplode`. Elements keep their raw JSON text.
   */
  def splitJsonArray(arrayJson: Column): Column =
    from_json(arrayJson, org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StringType))

  /**
   * JoltTransformJSON, shift spec subset: a mapping of output paths ←
   * input fields compiles to nested named_structs. `spec` maps
   * "outer.inner" output paths to input Columns. Emitted as a JSON string
   * (to_json), matching the reference's JSON-to-JSON contract.
   */
  def joltShift(spec: Seq[(String, Column)]): Column = {
    val grouped = spec.groupBy(_._1.split('.').head)
    val fields = spec.map(_._1.split('.').head).distinct.map { top =>
      val inner = grouped(top)
      if (inner.size == 1 && !inner.head._1.contains('.'))
        inner.head._2.as(top)
      else
        struct(inner.map { case (path, c) =>
          c.as(path.split('.')(1))
        }: _*).as(top)
    }
    to_json(struct(fields: _*))
  }

  /**
   * JoltTransformJSON, chained spec families (JoltTransformJSON.cpp:46
   * supports Shift/Default/Remove): `defaults` fill output paths whose
   * shifted value is null (or add paths absent from the shift spec);
   * `removes` drop output paths (a prefix removes the whole subtree).
   * Like `joltShift`, the chain compiles at plan build to one struct
   * projection — no per-row spec interpretation.
   */
  def joltTransform(shift: Seq[(String, Column)],
                    defaults: Seq[(String, Column)] = Nil,
                    removes: Seq[String] = Nil): Column = {
    val withDefaults = shift.map { case (p, c) =>
      defaults.find(_._1 == p) match {
        case Some((_, d)) => p -> coalesce(c, d)
        case None         => p -> c
      }
    } ++ defaults.filterNot(d => shift.exists(_._1 == d._1))
    val pruned = withDefaults.filterNot { case (p, _) =>
      removes.exists(r => p == r || p.startsWith(r + "."))
    }
    joltShift(pruned)
  }

  /**
   * ApplyTemplate: mustache rendering over the attribute map — the
   * reference formats the template file with bustache against a flat
   * string map (extensions/bustache/ApplyTemplate.cpp:56-64, no escape
   * function → raw interpolation). Compiled ONCE to a Column tree:
   *
   *  - `{{ name }}` / `{{{ name }}}` / `{{& name }}` interpolate the
   *    attribute raw (bustache applies no HTML escaping here), padding
   *    trimmed per the mustache spec; a missing attribute renders empty;
   *  - `{{! comment }}` drops;
   *  - `{{#name}}…{{/name}}` renders its body when the attribute is
   *    PRESENT, `{{^name}}…{{/name}}` when absent — the flat string-map
   *    truthiness (a missing key is the only falsey value bustache sees
   *    from an unordered_map<string,string>);
   *  - text segments still pass through the EL compiler, so `${expr}`
   *    expression language composes with mustache tags (an extension the
   *    reference reaches by EL-evaluating the Template *path* only).
   */
  def applyTemplate(template: String,
                    attrs: ElCompiler.AttrResolver = ElCompiler.flowAttrs): Column = {
    sealed trait MTok
    case class MText(s: String) extends MTok
    case class MVar(name: String) extends MTok
    case class MSection(name: String, inverted: Boolean, body: List[MTok]) extends MTok

    val tag = ("\\{\\{\\{\\s*([A-Za-z0-9_.\\-]+)\\s*\\}\\}\\}" +
      "|\\{\\{\\s*([!#^/&]?)\\s*([^}]*?)\\s*\\}\\}").r
    // stack of open sections: (name, inverted, tokens-so-far)
    var stack = List((Option.empty[(String, Boolean)],
      List.newBuilder[MTok]))
    var pos = 0
    def pushText(until: Int): Unit =
      if (until > pos) stack.head._2 += MText(template.substring(pos, until))
    tag.findAllMatchIn(template).foreach { m =>
      pushText(m.start)
      pos = m.end
      val (sigil, name) =
        if (m.group(1) != null) ("", m.group(1))
        else (m.group(2), m.group(3))
      sigil match {
        case "!" => () // comment
        case "#" | "^" =>
          stack = (Some((name, sigil == "^")), List.newBuilder[MTok]) :: stack
        case "/" =>
          stack match {
            case (Some((open, inv)), body) :: rest =>
              require(open == name,
                s"ApplyTemplate: {{/$name}} closes {{${if (inv) "^" else "#"}$open}}")
              rest.head._2 += MSection(open, inv, body.result())
              stack = rest
            case _ => throw new IllegalArgumentException(
              s"ApplyTemplate: {{/$name}} without an open section")
          }
        case _ => stack.head._2 += MVar(name)
      }
    }
    pushText(template.length)
    require(stack.tail.isEmpty,
      s"ApplyTemplate: unclosed section {{#${stack.head._1.map(_._1).getOrElse("")}}}")

    def render(toks: List[MTok]): Column =
      if (toks.isEmpty) lit("")
      else concat(toks.map {
        case MText(s) => ElCompiler.template(s, attrs)
        case MVar(n) => coalesce(attrs(n).cast("string"), lit(""))
        case MSection(n, inverted, body) =>
          val present = attrs(n).isNotNull
          when(if (inverted) !present else present, render(body))
            .otherwise("")
      }: _*)
    render(stack.head._2.result())
  }
}
